"""Streaming source/sink plumbing for the events fixture.

The reference's streaming story is a watermark-resumed Elasticsearch
scroll (elastic.go:44-102, etl.go:19: `-watermark` flag + progress
prints as manual checkpoints). Here that becomes a real Structured
Streaming source: file source over the events parquet, event-time
column ``ts``, checkpointed offsets — the engine's queries run
identically over ``spark.read`` and ``spark.readStream`` inputs
(same transformation functions, SURVEY.md §7 step 5).

Test-harness shape: each named query runs its stream synchronously
with ``trigger(availableNow=True)`` into a memory sink and returns the
sink table — a bounded, deterministic result the DuckDB oracle can
hash-match. On a cluster the same code runs unbounded with a real
trigger and a parquet/Kafka sink; only `run_to_memory` is test-only.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (
    normalize_timestamps,
    pin_session_confs,
    table_path,
    ts_bigint_unit,
)
from ..session import SessionKeyedMap
from ..staging import MARKER, remove_at_exit, stage

_MEM_IDS = itertools.count()


def events_schema(spark: SparkSession, sf_dir: str):
    """Schema for the streaming reader, taken from a batch peek (file
    streaming sources require an explicit schema — inference would scan
    the directory on the driver every restart)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(table_path(sf_dir, "events")).schema


def _scratch_stream_dir(sf_dir: str) -> str:
    """File streaming sources need a *directory*; the fixture is a
    single file. Stage a scratch dir holding a symlink to it (no data
    copy; fixture stays read-only). A published dir whose entry was
    later replaced (a real file copied in by older tooling or a manual
    fixture copy) is unmarked, so the stager discards and rebuilds it."""
    target = os.path.abspath(table_path(sf_dir, "events"))

    def link_ok(d: str) -> bool:
        link = os.path.join(d, "events.parquet")
        return os.path.islink(link) and os.readlink(link) == target

    def build(tmp: str) -> None:
        os.symlink(target, os.path.join(tmp, "events.parquet"))

    d = stage("streamsrc", sf_dir, ("events",), build)
    if not link_ok(d):
        try:
            os.remove(os.path.join(d, MARKER))
        except FileNotFoundError:
            pass  # a concurrent caller unmarked it first
        d = stage("streamsrc", sf_dir, ("events",), build)
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """Unbounded view of the events table (B35 source side).

    Event-time normalization (nanos-as-long truncation / naive-micros
    NTZ cast) is shared with the batch catalog, so batch and streaming
    plans see bit-identical event times.
    """
    pin_session_confs(spark)
    src = path or _scratch_stream_dir(sf_dir)
    sdf = (
        spark.readStream.schema(events_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    unit = "ns"
    if dict(sdf.dtypes).get("ts") == "bigint":
        # staged replay dirs (late_data_source) copy the fixture's
        # physical encoding verbatim, so the original file's footer
        # decides the unit for both
        unit = ts_bigint_unit(table_path(sf_dir, "events"))
    return normalize_timestamps(sdf, ts_unit=unit)


def _events_ts_micros(t, sf_dir: str):
    """The events ts column as int64 epoch micros, covering every
    physical form normalize_timestamps handles; an unexpected unit
    raises instead of defaulting to micros (a DATE32 or
    second-precision round would otherwise pass days/seconds through
    the int64 cast as if they were micros)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ts_type = t.column("ts").type
    ts_us = t.column("ts").cast("int64")
    if pa.types.is_date(ts_type):
        return pc.multiply(ts_us, 86_400_000_000)  # days -> micros
    unit = getattr(ts_type, "unit", None)
    if unit is None:  # plain int64: footer-stat magnitude decides
        unit = ts_bigint_unit(table_path(sf_dir, "events"))
    if unit == "ns":
        return pc.divide(ts_us, 1000)
    if unit in ("us", "ms", "s"):
        return pc.multiply(ts_us, {"us": 1, "ms": 1000, "s": 1_000_000}[unit])
    raise ValueError(f"unsupported events ts unit {unit!r}")


def time_split_source(sf_dir: str) -> str:
    """Stage a clean three-micro-batch replay of events: thirds of
    event time, no stragglers (late_data_source's twin for operators
    where the interesting semantics is WATERMARK-DRIVEN STATE
    EVICTION -- outer-join null emission -- rather than late-row
    drops). Same epoch-micros cut discipline and mtime-pinned replay
    order; the oracle reconstructs the batch boundaries from the same
    integer cuts."""
    def masks(t, ts_us, c1, c2, pc):
        # fill_null(False): a NULL-ts row yields null comparisons, and
        # a null mask DROPS the row from every batch (pyarrow filter)
        # -- it must land in the catch-all final batch instead, so the
        # staged replay carries exactly the fixture's rows
        in1 = pc.fill_null(pc.less(ts_us, c1), False)
        in2 = pc.fill_null(
            pc.and_(pc.greater_equal(ts_us, c1), pc.less(ts_us, c2)), False
        )
        return [in1, in2, pc.invert(pc.or_(in1, in2))]

    return _stage_event_thirds(sf_dir, "tsplit3", masks)


def late_data_source(sf_dir: str) -> str:
    """Stage a deterministic three-micro-batch replay of events (B40).

    Batches 1 and 2 (oldest mtimes): first and second third of event
    time, minus stragglers (event_id % 97 == 0). Batch 3: the final
    third plus those held-back stragglers — which arrive behind the
    watermark and must be dropped by a watermarked stateful operator.

    Three batches, not two, because the row-filtering watermark in
    micro-batch N is the one computed from batches 0..N-2 (the progress
    log's displayed watermark takes effect one batch after it is
    computed — measured behavior, tests pin it): with only two batches
    the filter watermark would still be the initial 1970 epoch and
    nothing would ever be late.

    Built with pyarrow (no Spark job): the fixture is small and the
    split predicate must be bit-exact against the SQL oracle. All cuts
    are computed in epoch MICROS — the precision both engines actually
    see (Spark truncates the nanos column, DuckDB reads TIMESTAMP_NS as
    TIMESTAMP); a nanos-precision cut could disagree at the boundary.
    """
    def masks(t, ts_us, c1, c2, pc):
        straggler = pc.equal(
            pc.subtract(
                t.column("event_id"),
                pc.multiply(pc.divide(t.column("event_id"), 97), 97),
            ),
            0,
        )  # event_id % 97 == 0 (pyarrow has no modulo kernel)
        # fill_null(False): NULL-ts rows must fall through to the
        # catch-all batch 3, never silently vanish from the replay
        in1 = pc.fill_null(
            pc.and_(pc.less(ts_us, c1), pc.invert(straggler)), False
        )
        in2 = pc.fill_null(
            pc.and_(
                pc.and_(pc.greater_equal(ts_us, c1), pc.less(ts_us, c2)),
                pc.invert(straggler),
            ),
            False,
        )
        return [in1, in2, pc.invert(pc.or_(in1, in2))]

    return _stage_event_thirds(sf_dir, "late3", masks)


def _stage_event_thirds(sf_dir: str, kind: str, mask_fn) -> str:
    """Shared stager for the event-time-thirds replay sources: computes
    the epoch-micros cuts ONCE here (the bit-exact-vs-oracle discipline
    lives in one place), delegates the batch membership to ``mask_fn``,
    pins replay order via mtimes, and stages atomically."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def write(tmp: str) -> None:
        t = pq.read_table(table_path(sf_dir, "events"))
        ts_us = _events_ts_micros(t, sf_dir)
        lo, hi = pc.min(ts_us).as_py(), pc.max(ts_us).as_py()
        if lo is None:
            # empty or all-NULL-ts events: no thirds exist -- fail
            # loudly with the table named, not a bare None-arithmetic
            # TypeError (table_batched_source's discipline)
            raise ValueError(
                "event-thirds stager: events.ts has no non-NULL values "
                f"to cut into thirds in {sf_dir}"
            )
        c1, c2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
        for i, mask in enumerate(mask_fn(t, ts_us, c1, c2, pc)):
            p = os.path.join(tmp, f"batch{i + 1}.parquet")
            pq.write_table(t.filter(mask), p)
            # file source replays in mtime order; pin it explicitly
            os.utime(p, ((i + 1) * 1_000_000, (i + 1) * 1_000_000))

    return stage(kind, sf_dir, ("events",), write)


def earlier_epoch_dirs(root: str, epoch_id: int, prefix: str = "e") -> list[str]:
    """The read half of the replay-safe foreachBatch store discipline,
    in ONE place (every epoch-store fold in the suites and the
    batch-boundary fuzzer use it): the state a batch may read is the
    set of STRICTLY-EARLIER epochs' directories, sorted ascending by
    epoch. Never the current epoch's own dir — under at-least-once
    replay a crash mid-write leaves the replaying epoch's dir present
    (overwrite creates it before the commit), so "latest dir" after a
    crash IS the replayer's own partial output; and never an epoch
    NEWER than the current one — that cannot occur in a live stream
    (epochs are monotone) but guards the fold when a test harness or
    backfill replays an old epoch against a store that already holds
    later ones."""
    import os

    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith(prefix):
            try:
                e = int(d[len(prefix):])
            except ValueError:
                continue
            if e < epoch_id:
                out.append((e, os.path.join(root, d)))
    return [p for _, p in sorted(out)]


def write_epoch(
    df, root: str, epoch_id: int, prefix: str = "e"
) -> str:
    """The write half of the discipline: every batch output lands in
    its OWN per-epoch directory with mode=overwrite, so a replayed
    epoch destructively rewrites exactly its own output (prior epochs'
    dirs are immutable inputs) instead of double-appending into a
    shared store. Zero-padded epoch names keep lexicographic ==
    numeric order for the 5-digit range the suites use."""
    import os

    path = os.path.join(root, f"{prefix}{epoch_id:05d}")
    df.write.mode("overwrite").parquet(path)
    return path


# memory-sink names per session, so a long-running probe (the soak
# tools run 16+ jobs in one session) can drop the driver-side sink
# tables it has already consumed -- the names vary by name_prefix, so
# no pattern match over the catalog can find them reliably. The
# weakref-pin/sweep/recycled-id/guarded-mutation discipline lives in
# session.SessionKeyedMap (one copy, shared with catalog and the
# bucketed-table creation locks).
_MEM_SINKS = SessionKeyedMap()


def _mem_sink_names(spark: SparkSession) -> list[str]:
    return _MEM_SINKS.get_or_create(spark, list)


def drop_memory_sinks(spark: SparkSession) -> int:
    """Drop every memory-sink temp view run_to_memory has registered in
    this session and forget them; returns how many were dropped. Only
    call after the returned DataFrames have been consumed -- they are
    lazy views over the dropped tables."""
    names = _MEM_SINKS.pop(spark)
    if names is None:
        return 0  # unknown session, or a recycled id of a dead one
    for n in names:
        try:
            spark.catalog.dropTempView(n)
        except Exception:
            pass  # sink already gone; freeing memory is best-effort
    return len(names)


def run_to_memory(
    sdf: DataFrame, output_mode: str, name_prefix: str = "stream_result"
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    a memory sink; return the sink contents as a batch DataFrame."""
    name = f"{name_prefix}_{next(_MEM_IDS)}"
    _mem_sink_names(sdf.sparkSession).append(name)
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(ckpt, "offsets"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # availableNow ran to completion (or died); the checkpoint is
        # one-shot state nothing restarts from -- hundreds of soak
        # jobs per process would otherwise leak ckpt_* dirs in /tmp
        shutil.rmtree(ckpt, ignore_errors=True)
    return sdf.sparkSession.table(name)


def docs_batched_source(sf_dir: str, n_batches: int = 3) -> str:
    """Stage the documents table as an n-file streaming source split by
    doc_id range; returns the staged directory. One-line wrapper over
    table_batched_source (kept for the existing call sites) -- the two
    used to be line-for-line copies that had to be fixed twice."""
    return table_batched_source(sf_dir, "documents", "doc_id", n_batches)


def table_batched_source(
    sf_dir: str, table: str, id_col: str, n_batches: int = 3
) -> str:
    """docs_batched_source generalized to any fixture table: stage it
    as an n-file streaming source split by id range (deterministic
    batch = arrival order), mtimes pinned so the file source replays
    batches in id order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def write(tmp: str) -> None:
        t = pq.read_table(table_path(sf_dir, table))
        lo = pc.min(t.column(id_col)).as_py()
        if lo is None:
            # empty table or all-NULL id column: min/max have no value
            # and no range split exists -- fail loudly instead of the
            # bare TypeError (None + 1) the arithmetic would raise
            raise ValueError(
                f"table_batched_source: {table}.{id_col} has no non-NULL "
                "values to range-split on"
            )
        hi = pc.max(t.column(id_col)).as_py() + 1
        step = max(1, (hi - lo) // n_batches)
        for i in range(n_batches):
            a = lo + i * step
            b = hi if i == n_batches - 1 else lo + (i + 1) * step
            mask = pc.and_(
                pc.greater_equal(t.column(id_col), a),
                pc.less(t.column(id_col), b),
            )
            if i == n_batches - 1:
                # NULL ids satisfy no range predicate (pyarrow filter
                # drops null-mask rows); route them to the final
                # catch-all batch so they never silently vanish from
                # the replay -- the event-thirds stagers' discipline
                mask = pc.or_kleene(
                    pc.fill_null(mask, False),
                    pc.is_null(t.column(id_col)),
                )
            p = os.path.join(tmp, f"batch{i}.parquet")
            pq.write_table(t.filter(mask), p)
            os.utime(p, ((i + 1) * 1_000_000, (i + 1) * 1_000_000))

    # id_col is part of the staged identity: two calls splitting the
    # same table by different columns must not share a dir (batch
    # membership and replay order differ per column)
    return stage(
        "batched",
        sf_dir,
        (table,),
        write,
        suffix=f"_{table}{n_batches}_{id_col}",
    )


def scratch_state_root(query: str) -> str:
    """Per-(query, pid) scratch root for a foreachBatch epoch store /
    sink, FRESH per invocation: the previous run's copy is removed
    before the new run starts, so a soak that repeats the query holds
    at most ONE generation per query per process — the per-run
    mkdtemp roots this replaces leaked a full state copy (for s09, ~3
    cumulative edge-table versions plus a checkpoint) every run, /tmp
    growing without bound. Cleanup happens at the START of the next
    run, not the end of this one, because the query's returned
    DataFrame lazily reads these files until the caller collects it.
    The last generation goes when the process exits."""
    root = os.path.join(
        tempfile.gettempdir(), f"dgraph_etl_fb_{query}_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return remove_at_exit(root)


def run_foreach_batch(stream_df, fn, state_root: str) -> None:
    """The suite-wide foreachBatch scaffold in ONE place (seven
    hand-kept copies before): availableNow trigger, checkpoint under
    the query's scratch state root (reclaimed with it on the next
    run), blocking awaitTermination so a failed stream re-raises its
    StreamingQueryException immediately."""
    q = (
        stream_df.writeStream.foreachBatch(fn)
        .option(
            "checkpointLocation", os.path.join(state_root, "_ckpt", "offsets")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batched_parquet_stream(spark: SparkSession, src: str):
    """readStream over a staged batch-file dir: schema peeked from the
    first staged file, one file per trigger (one epoch per staged
    batch) — the reader half of docs_batched_source /
    table_batched_source / the event-thirds stagers."""
    import glob

    staged = sorted(glob.glob(os.path.join(src, "batch*.parquet")))
    if not staged:
        # fail loudly with the path (the ts_bigint_unit /
        # _stage_event_thirds discipline), not a bare IndexError
        raise ValueError(f"no batch*.parquet staged under {src}")
    schema = spark.read.parquet(staged[0]).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
