"""Bucketed-table layout: the co-located join path (SURVEY.md §4,
100 TB notes).

A shuffle join moves BOTH fact tables across the network every query.
Writing the join inputs bucketed (hash-partitioned into a fixed number
of files per table) and sorted by the join key moves that exchange to
INGEST TIME: every later equi-join on the bucket key is planned as a
zero-exchange (and with sortBy, zero-sort) sort-merge join -- the
standard warehouse answer for a join that runs hourly against 100 TB.
The reference gets the same effect operationally by range-sharding
users across MySQL servers at 2^63 (cmd/bulk/main.go:234-249); here
the engine owns the layout.

Spark bucketing needs a catalog table (``saveAsTable``); with the
default in-memory catalog the metadata lives in the SharedState
external catalog every session on the SparkContext shares (it dies
with the process), and the data is an ordinary parquet directory
under a per-process scratch root that is removed at interpreter exit.
Bucket counts must match on both sides for the exchange to be elided.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

from .. import staging

# Concurrent queries may race to materialize the same table:
# tableExists is false for both, and two simultaneous saveAsTable
# writers share the output dir's _temporary staging, so one writer's
# commit deletes the other's in-flight task files (observed:
# FileNotFoundException under .../_temporary/0/task_*). The lock is
# PROCESS-wide per table name, not session-keyed: saveAsTable tables
# live in the SharedState external catalog that every session on one
# SparkContext shares, so two sessions in one process race on the SAME
# catalog entry -- a per-session lock serialized neither the
# tableExists check nor the overwrite. Cross-PROCESS isolation is the
# pid-keyed scratch path, unchanged.
_CREATE_LOCKS: dict[str, threading.Lock] = {}
_CREATE_LOCKS_GUARD = threading.Lock()


def _create_lock(name: str) -> threading.Lock:
    with _CREATE_LOCKS_GUARD:
        return _CREATE_LOCKS.setdefault(name, threading.Lock())


def bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 8,
    version: str | None = None,
) -> DataFrame:
    """Materialize ``df`` as a bucketed+sorted catalog table (idempotent
    per session) and return it. The table name is reused if it already
    exists in this session's catalog; the backing files live in scratch
    keyed by (pid, session id) so concurrent processes AND concurrent
    sessions within one process never clobber each other (two live
    sessions cannot share an id(); a recycled id after a session stop
    is safe because saveAsTable overwrites).

    ``version`` is a content tag for the SOURCE of ``df`` (e.g. the
    fixture file's mtime+size): it is folded into the table name, so a
    mid-session source refresh gets a fresh bucketed copy instead of
    the session-cached stale one."""
    base = name
    if version is not None:
        import re

        name = f"{name}_v{re.sub(r'[^A-Za-z0-9]', '_', version)}"
    lock = _create_lock(name)
    with lock:
        if not spark.catalog.tableExists(name):
            # path keyed per (pid, SESSION): the catalog entry is
            # shared (SharedState), but each creator stages its data
            # under its own root so a dying session's half-written
            # files can never be what a fresh creation renames over
            # only this process's in-memory catalog can name the
            # tables: the root goes when the process exits
            root = staging.remove_at_exit(
                os.path.join(
                    staging.root(),
                    f"dgraph_etl_bucketed_{os.getpid()}_{id(spark)}",
                )
            )
            path = os.path.join(root, name)
            (
                # repartition by the bucket key first: each bucket's rows
                # land in ONE task -> one file per bucket, which is what
                # lets the reader trust the per-bucket sort order and skip
                # the Sort before a sort-merge join (multi-file buckets
                # are re-sorted)
                df.repartition(n_buckets, key)
                .write.bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(name)
            )
            if version is not None:
                # generational eviction (staging.stage's
                # discipline): superseded versions of this table under
                # OUR scratch root can only serve a source that has
                # since been regenerated -- drop their catalog entries
                # and files, or every fixture refresh strands a
                # full-size bucketed copy per round
                prefix = f"{base}_v"
                for sib in os.listdir(root) if os.path.isdir(root) else []:
                    if sib.startswith(prefix) and sib != name:
                        try:
                            spark.sql(f"DROP TABLE IF EXISTS {sib}")
                        except Exception:
                            pass
                        shutil.rmtree(
                            os.path.join(root, sib), ignore_errors=True
                        )
    return spark.table(name)
