"""A13 lakehouse MERGE adapter (reference dgraph.go:110-133: update the
stored edge only when the incoming score beats it, insert when absent).

Two storage strategies behind one call:

- **Delta** (when ``delta-spark`` is importable and the session has the
  extension): a real transactional ``MERGE INTO ... WHEN MATCHED AND
  s.score > t.score THEN UPDATE WHEN NOT MATCHED THEN INSERT`` -- the
  production answer at 100 TB, since MERGE rewrites only the files
  containing matched keys and optimistic concurrency serializes
  concurrent writers by retrying on conflict.
- **Versioned parquet fallback** (always available): the algebraic
  equivalent -- aggregate the batch, union with the latest stored
  version, re-take the max per (src, dst), write a new version
  directory, atomically rename. tests/test_sinks.py proves this equals
  MERGE semantics fold-for-fold and is batch-order invariant (max is
  commutative/associative/idempotent, so replays and reordering --
  exactly what a retrying concurrent writer produces -- cannot change
  the fixed point).

The fallback rewrites the whole table per merge, which is fine for a
bounded edge table but is the reason the Delta path exists: at 100 TB
the union+re-agg touches every partition while MERGE touches only the
partitions holding matched keys (plus Delta skips unmatched files via
min/max stats on src).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.edges import max_score_per_edge, merge_max_with_existing

_EDGE_COLS = ["src", "dst", "score"]


def _have_delta(spark: SparkSession) -> bool:
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    # the session must also carry the Delta catalog/extension
    return "delta" in spark.conf.get("spark.sql.extensions", "").lower()


# Delta's optimistic-concurrency commit-conflict exception classes
# (delta.exceptions / io.delta wrappers). Matched by exact class-name
# suffix, NEVER by message substring: a genuine non-conflict failure
# whose message merely contains 'Concurrent' must surface immediately,
# not be retried 10 times and buried under a 'writer storm' error.
_DELTA_CONFLICT_CLASS_SUFFIXES = (
    "ConcurrentWriteException",
    "ConcurrentAppendException",
    "ConcurrentDeleteReadException",
    "ConcurrentDeleteDeleteException",
    "ConcurrentTransactionException",
    "MetadataChangedException",
    "ProtocolChangedException",
)


def _is_delta_commit_conflict(exc: BaseException) -> bool:
    """True iff ``exc`` is one of Delta's retryable optimistic-commit
    conflicts. Prefers ``isinstance`` against delta.exceptions when the
    package exposes them; falls back to the exception's (or a py4j
    JavaObject cause's) CLASS NAME, still never the free-text message."""
    try:
        from delta import exceptions as dx

        classes = tuple(
            getattr(dx, n)
            for n in _DELTA_CONFLICT_CLASS_SUFFIXES
            if isinstance(getattr(dx, n, None), type)
        )
        if classes and isinstance(exc, classes):
            return True
    except ImportError:
        pass
    names = [type(exc).__name__]
    # py4j surfaces JVM exceptions as Py4JJavaError with the Java class
    # on exc.java_exception; read its class name, not the message
    jexc = getattr(exc, "java_exception", None)
    if jexc is not None:
        try:
            names.append(jexc.getClass().getName())
        except Exception:  # noqa: BLE001
            pass
    return any(
        n.split(".")[-1].endswith(suf)
        for n in names
        for suf in _DELTA_CONFLICT_CLASS_SUFFIXES
    )


def _versions(root: str) -> list[str]:
    """Version dirs ordered by their INTEGER suffix: lexicographic
    sorting puts v100000 before v99999, which would make the next
    merge union against a stale latest and silently drop the v100000
    batch from the lineage. Routes streaming/core.earlier_epoch_dirs
    (the ONE copy of the numeric-parse-and-sort listing; non-numeric
    v* names are skipped, not crashed on) with an unbounded epoch."""
    import sys

    from ..streaming.core import earlier_epoch_dirs

    return [
        os.path.basename(p)
        for p in earlier_epoch_dirs(root, sys.maxsize, prefix="v")
    ]


def _delta_log_present(root: str) -> bool:
    return os.path.isdir(os.path.join(root, "_delta_log"))


def read_edge_store(spark: SparkSession, root: str) -> DataFrame | None:
    """Current contents of the edge store at ``root`` (either backend),
    or None if nothing has been merged yet."""
    if _have_delta(spark):
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, root):
            return spark.read.format("delta").load(root)
        # not a Delta table: a store written by the parquet fallback
        # in earlier (delta-less) rounds must still read -- returning
        # None here would make installed delta SHADOW the existing
        # versioned data as "nothing merged yet"
    elif _delta_log_present(root):
        # the OTHER direction of format stickiness: a store CREATED as
        # Delta, read by a runtime without delta-spark, must fail
        # loudly -- a silent None here would fork a parquet lineage
        # inside the Delta root, and when delta returns, isDeltaTable
        # wins and every delta-less round's merges vanish
        raise RuntimeError(
            f"edge store at {root} is a Delta table (_delta_log "
            "present) but this runtime has no delta-spark; install it "
            "or point at a different store root"
        )
    vs = _versions(root)
    return spark.read.parquet(os.path.join(root, vs[-1])) if vs else None


def merge_max_into(
    spark: SparkSession, root: str, new_edges: DataFrame
) -> DataFrame:
    """Merge a batch of (src, dst, score) edges into the store at
    ``root`` with max-wins semantics; returns the post-merge table."""
    batch = max_score_per_edge(new_edges.select(_EDGE_COLS))
    # format stickiness: a store the parquet fallback already owns
    # keeps merging through the fallback even after delta becomes
    # available -- creating a Delta table at the same root would
    # permanently shadow the versioned data
    if _have_delta(spark) and not _versions(root):
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, root):
            # mode("error"), not overwrite: two concurrent creators
            # would otherwise both "create" and the second overwrite
            # silently discarded the first writer's batch (the same
            # lost-batch race the fallback path retries). The loser's
            # errorIfExists failure falls through to MERGE its batch.
            try:
                batch.write.format("delta").mode("error").save(root)
                return spark.read.format("delta").load(root)
            except Exception:
                if not DeltaTable.isDeltaTable(spark, root):
                    raise  # a real write failure, not a lost create race
        # bounded conflict retry, mirroring the fallback's 10-attempt
        # publish loop: Delta does NOT auto-retry logical MERGE
        # conflicts (ConcurrentAppend/DeleteRead), and re-running the
        # MERGE is exact because max-wins is idempotent -- without the
        # retry the first writer-storm conflict kills the batch the
        # module docstring promises survives
        last_exc: Exception | None = None
        for _ in range(10):
            try:
                (
                    DeltaTable.forPath(spark, root)
                    .alias("t")
                    .merge(
                        batch.alias("s"),
                        "t.src = s.src AND t.dst = s.dst",
                    )
                    .whenMatchedUpdate(
                        condition="s.score > t.score", set={"score": "s.score"}
                    )
                    .whenNotMatchedInsertAll()
                    .execute()
                )
                return spark.read.format("delta").load(root)
            except Exception as exc:  # noqa: BLE001
                if not _is_delta_commit_conflict(exc):
                    raise  # a real MERGE failure, not a commit conflict
                last_exc = exc
        raise RuntimeError(
            f"Delta MERGE lost the commit conflict 10 times at {root}; "
            "a writer storm is starving this merge -- serialize writers"
        ) from last_exc

    if _delta_log_present(root):
        # same guard as read_edge_store: never fork a parquet lineage
        # inside a Delta root from a delta-less runtime
        raise RuntimeError(
            f"edge store at {root} is a Delta table (_delta_log "
            "present) but this runtime has no delta-spark; install it "
            "or point at a different store root"
        )
    # versioned-parquet fallback: union + re-max against the latest
    # version, then an atomic rename publish (crash-safe: a partial
    # write never becomes the latest version). A lost publish race is
    # RETRIED against the new latest version, never dropped: the loser
    # re-merges its batch (max is idempotent/associative, so replaying
    # it on top of the winner's table is exact) -- without the retry a
    # concurrent writer's batch silently vanished from the store.
    for _ in range(10):
        # ONE version listing per attempt: both the merge input (vs[-1])
        # and the publish target (v{len(vs)}) derive from the same
        # snapshot. Listing twice was a TOCTOU -- a writer publishing
        # between the listings made this attempt merge against a stale
        # latest yet target a fresh name, so the rename SUCCEEDED and
        # the concurrent batch was silently dropped.
        os.makedirs(root, exist_ok=True)
        vs = _versions(root)
        existing = (
            spark.read.parquet(os.path.join(root, vs[-1])) if vs else None
        )
        merged = (
            merge_max_with_existing(batch, existing)
            if existing is not None
            else batch
        )
        n = len(vs)
        tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex[:8]}")
        try:
            merged.write.mode("overwrite").parquet(tmp)
        except BaseException:
            # a failed write (executor OOM, cancelled job, disk full)
            # must not strand partial parquet inside the store root --
            # _versions() ignores .tmp-* so nothing else ever reclaims
            # it (staging.publish's rule)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        dest = os.path.join(root, f"v{n:05d}")
        try:
            os.rename(tmp, dest)
            return read_edge_store(spark, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; retry
    raise RuntimeError(
        f"merge_max_into lost the publish race 10 times at {root}; "
        "a writer storm is starving this merge -- serialize writers"
    )
