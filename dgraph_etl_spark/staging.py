"""Scratch artifacts: the one protocol for every on-disk copy the
engine derives from a fixture table.

The engine stands in for the reference's live backends with staged
copies built from the fixture -- a Derby database for the sharded
MySQL, JSONL scroll pages for the Elasticsearch scroll, parallel-layout
copies of single-row-group tables, format round-trip copies, streaming
replay batches, the persisted IVF index. Each is derived, disposable
and keyed to its source, and every one of them goes through this
module:

- ``root()``: the scratch root (``tempfile.gettempdir()``, so
  ``TMPDIR`` decides it);
- ``source_tag`` + ``source_version``: the source key -- a hash of the
  ABSOLUTE fixture dir plus each input table's ``mtime_ns_size``, so a
  regenerated fixture never reuses a stale copy and two fixtures with
  the same leaf name never share (or evict) each other's copies;
- ``publish(path, build)``: build in a tmp sibling under an flock,
  write the completion marker last, rename into place;
- ``stage(kind, sf_dir, tables, build, suffix)``: name the artifact
  from the key, publish it, then evict superseded generations of the
  same kind and source once they are older than the grace period;
- ``remove_at_exit(path)``: a per-process root (bucketed tables,
  streaming state) that nothing outlives the process to read.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
import time
import uuid

from .catalog import table_path


def root() -> str:
    return tempfile.gettempdir()


# (pid, root) of every per-process scratch root; a forked child
# inherits the set and the exit handler, hence the pid check.
_PROCESS_ROOTS: set[tuple[int, str]] = set()


def remove_at_exit(path: str) -> str:
    """Register ``path`` for removal when this process exits; returns
    it."""
    _PROCESS_ROOTS.add((os.getpid(), path))
    return path


@atexit.register
def _remove_process_roots() -> None:
    for pid, path in _PROCESS_ROOTS:
        if pid == os.getpid():
            shutil.rmtree(path, ignore_errors=True)


def source_tag(sf_dir: str) -> str:
    """A catalog-safe basename plus a hash of the ABSOLUTE fixture dir,
    so eviction scope always equals cache scope: a basename-only tag
    let two fixtures with the same leaf dir name evict each other's
    live staged copies. Also the base name of the bucketed tables.

    NOTE: changing this naming orphans staged dirs built under any
    previous scheme until the grace period lets a same-kind stage
    sweep them; never change it casually."""
    ident = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
    return f"{base}_{ident}"


def source_version(sf_dir: str, table: str) -> str:
    """The content version of one fixture table: ``mtime_ns_size``."""
    st = os.stat(table_path(sf_dir, table))
    return f"{st.st_mtime_ns}_{st.st_size}"


MARKER = "_STAGED"


def is_published(d: str) -> bool:
    return os.path.exists(os.path.join(d, MARKER))


def publish(d: str, build) -> str:
    """Publish ``d`` ATOMICALLY: ``build(tmp)`` fills an existing tmp
    sibling, a completion marker is written LAST, and os.rename moves
    it into place. A reader can never observe a half-written file. The
    per-file existence checks this replaced were a real race: process
    B saw process A's batch3.parquet exist mid-write and handed Spark
    a truncated parquet.

    Dir presence alone is NOT trusted: a partial dir left by a crashed
    build would otherwise be accepted as complete and served forever.
    The marker -- written after ``build`` returns, inside the tmp
    sibling, so it exists iff the build finished -- distinguishes
    complete from abandoned; a marker-less dir is discarded and
    rebuilt. Spark and Hadoop listings skip ``_``-prefixed names, so
    the marker never surfaces as data.

    Concurrency: builders of the same target serialize on an flock'd
    lock file. A lock-free rename-aside protocol has an unfixable
    TOCTOU -- between one builder's marker check and its rename, a
    concurrent builder could discard the stale dir and publish a
    COMPLETE one at ``d``, which the first builder's rename then
    grabbed, leaving ``d`` transiently (or with an unguarded delete,
    permanently) missing for the publisher's caller. Under the lock, a
    complete dir is never renamed aside and ``d`` never goes missing
    after a publish; a loser WAITS for the winner's copy instead of
    running a duplicate build and discarding it. flock is the lock
    primitive because the kernel releases it when the holder dies, so
    a crashed builder never wedges waiters AND there is no "break the
    dead holder's lock" branch at all -- a pid-file protocol's break
    (read-holder-pid, probe liveness, unlink) has its own TOCTOU:
    between a waiter reading a dead pid and unlinking the lock, a
    second waiter could re-acquire it, and the first then unlinked a
    LIVE lock. A live holder is waited on (staging the 100x soak
    fixtures legitimately takes minutes, so there is no mtime-based
    timeout), and the lock file is never unlinked -- unlink-based
    cleanup re-opens the race, because a waiter that opened the
    now-unlinked inode would serialize against nobody."""
    if is_published(d):
        return d
    lock = f"{d}.lock"
    deadline = time.monotonic() + 3600.0
    import fcntl

    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if is_published(d):
                    return d
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"stage lock {lock} held for over an hour; "
                        "refusing to wait longer"
                    )
                time.sleep(0.05)
        if is_published(d):
            return d
        if os.path.exists(d):
            # marker-less dir (abandoned, or pre-marker legacy): with
            # the lock held nobody can be publishing -- discard it
            stale = f"{d}.stale.{os.getpid()}_{uuid.uuid4().hex[:8]}"
            os.rename(d, stale)
            shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{d}.tmp.{os.getpid()}_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        try:
            build(tmp)
            with open(os.path.join(tmp, MARKER), "w") as fh:
                fh.write("complete\n")
            os.rename(tmp, d)
        except BaseException:
            # a failed build must not strand its partial tmp sibling
            # in scratch forever (repeated probes of a bad fixture
            # would accumulate orphan dirs unboundedly)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return d
    finally:
        os.close(fd)  # closing the fd releases the flock


# Grace period before a superseded staged generation is rmtree'd:
# Spark scans are lazy, so a sibling process may still be mid-scan on
# the previous generation when this one lands. Deleting only dirs
# untouched for this long lets in-flight readers finish; the stale
# copy is then collected by a later stage. 15 min covers any local
# query by orders of magnitude.
_EVICT_GRACE_SECONDS = 900


def _evict_stale_generations(
    root: str,
    prefix: str,
    keep_prefix: str | None = None,
    keep_name: str | None = None,
) -> None:
    """Delete superseded staged-dir generations under ``root``: dirs
    named ``prefix`` + a version (digits and underscores only) that are
    not the live generation -- ``keep_prefix`` when the live dir name
    carries a trailing delimiter, ``keep_name`` for an EXACT dir name
    (use this when the name has no trailing boundary: a stale '..._500'
    string-extends a live '..._50' prefix and would be wrongly
    retained). The version-only rest also keeps in-progress ``.tmp.``
    dirs, ``.lock`` files and artifacts whose own name extends
    ``prefix`` out of scope. Age-gated on the dir's own mtime so a
    concurrent reader of the previous generation is never pulled out
    from under its scan."""
    if (keep_prefix is None) == (keep_name is None):
        raise ValueError("pass exactly one of keep_prefix / keep_name")
    now = time.time()
    try:
        sibs = os.listdir(root)
    except OSError:
        return
    for sib in sibs:
        p = os.path.join(root, sib)
        live = (
            sib.startswith(keep_prefix)
            if keep_prefix is not None
            else sib == keep_name
        )
        if (
            sib.startswith(prefix)
            and not live
            and re.fullmatch(r"[\d_]+", sib[len(prefix):])
            and os.path.isdir(p)
        ):
            try:
                if now - os.stat(p).st_mtime < _EVICT_GRACE_SECONDS:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)


def stage(kind: str, sf_dir: str, tables, build, suffix: str = "") -> str:
    """Publish the ``kind`` artifact derived from ``tables`` of
    ``sf_dir`` and return its path,
    ``<root>/dgraph_etl_<kind>_<source_tag><suffix>_<versions>``.
    ``suffix`` names a variant that coexists with its siblings (a
    table, a page size, a core count); ``versions`` is each table's
    ``source_version``. Superseded versions of the same kind, source
    and suffix are evicted on EVERY call, not only after a build, or a
    generation still inside the grace window at its successor's build
    would never be collected."""
    scope = f"dgraph_etl_{kind}_{source_tag(sf_dir)}{suffix}_"
    name = scope + "_".join(source_version(sf_dir, t) for t in tables)
    path = publish(os.path.join(root(), name), build)
    _evict_stale_generations(root(), scope, keep_name=name)
    return path
