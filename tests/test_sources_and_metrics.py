"""Unit tests for the JDBC shard-predicate generator (B3) and the
observe-based progress metering (A25)."""

from __future__ import annotations

import os
import re

import pytest

from dgraph_etl_spark.sources.jdbc import range_predicates


def _bounds(pred: str) -> tuple[int, int]:
    # the first fragment carries the NULL-key catch-all arm
    m = re.match(
        r"(?:\()?k >= (\d+) AND k <= (\d+)(?:\) OR k IS NULL)?$", pred
    )
    assert m, pred
    return int(m.group(1)), int(m.group(2))


def test_range_predicates_cover_exactly_without_overlap():
    preds = [_bounds(p) for p in range_predicates("k", 0, 1000, 7)]
    assert preds[0][0] == 0 and preds[-1][1] == 1000
    for (_, a_hi), (b_lo, _) in zip(preds, preds[1:]):
        assert b_lo == a_hi + 1  # no gap, no overlap
    assert len(preds) == 7


def test_range_predicates_uint64_keyspace():
    """The reference's exact shard split: [0, 2^63-1], [2^63, 2^64-1]
    (cmd/bulk/main.go:234-249) — must not overflow 64-bit."""
    preds = [_bounds(p) for p in range_predicates("k", 0, 2**64 - 1, 2)]
    assert preds == [(0, 2**63 - 1), (2**63, 2**64 - 1)]


def test_range_predicates_more_parts_than_keys():
    preds = [_bounds(p) for p in range_predicates("k", 10, 12, 8)]
    assert preds == [(10, 10), (11, 11), (12, 12)]


def test_range_predicates_null_arm_on_first_fragment_only():
    """NULL keys satisfy no range comparison, so exactly ONE fragment
    (the first) must carry the IS NULL arm -- zero arms silently drops
    NULL-keyed rows from the partitioned scan, two would duplicate
    them."""
    preds = range_predicates("k", 0, 1000, 4)
    assert preds[0].endswith(") OR k IS NULL")
    assert sum("IS NULL" in p for p in preds) == 1


def test_range_predicates_rejects_bad_input():
    with pytest.raises(ValueError):
        range_predicates("k", 5, 4, 2)
    with pytest.raises(ValueError):
        range_predicates("k", 0, 10, 0)


def test_read_jdbc_end_to_end_against_embedded_derby(spark, tmp_path):
    """B3 against a REAL database: Spark ships Apache Derby (embedded),
    so the JDBC path runs end-to-end -- write a table over JDBC, read
    it back with range_predicates, and check (a) the row multiset is
    exactly reproduced (ranges cover without gap/overlap against live
    data, not just arithmetic), (b) one scan partition per predicate
    (the distribution contract that replaces the reference's two-shard
    router, cmd/bulk/main.go:222-269)."""
    from dgraph_etl_spark.sources.jdbc import read_jdbc

    url = f"jdbc:derby:{tmp_path}/shardeddb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id % 7 AS INT) AS grp", "CAST(id * 2 AS DOUBLE) AS v"
    ).union(
        # a NULL-keyed row: must come back through the partitioned scan
        # (the first fragment's IS NULL arm), not silently vanish
        spark.sql(
            "SELECT CAST(NULL AS BIGINT), CAST(99 AS INT), "
            "CAST(-1 AS DOUBLE)"
        )
    )
    src.write.jdbc(url, "sharded", mode="overwrite", properties=props)

    # Spark's JDBC writer creates QUOTED lowercase columns; Derby
    # uppercases unquoted identifiers, so the predicate column must be
    # quoted too (range_predicates treats the name as opaque SQL).
    preds = range_predicates('"k"', 0, 999, 4)
    df = read_jdbc(spark, url, "sharded", predicates=preds, properties=props)
    assert df.rdd.getNumPartitions() == len(preds) == 4
    from collections import Counter

    got = Counter((r.k, r.grp, r.v) for r in df.collect())
    want = Counter((r.k, r.grp, r.v) for r in src.collect())
    assert got == want  # multiset equality (None-keyed row included)

    # predicate pushdown: a narrow range must reach the remote query,
    # not filter post-hoc -- partition-local counts prove each JDBC
    # connection shipped its own WHERE clause
    per_part = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    # 251 = 250 range rows + the NULL-keyed row (first fragment's arm)
    assert per_part == [251, 250, 250, 250]


def test_observed_scan_reports_progress_metrics(spark, sf_small):
    from pyspark.sql import Observation

    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.pipeline.watermark import observed_scan

    register_views(spark, sf_small)
    ur = spark.table("user_relationship")
    obs = Observation("progress")
    n = observed_scan(ur, obs).count()
    assert obs.get["rows_read"] == n > 0
    assert obs.get["max_event_time"] is not None


# ------------------------------------------------- scroll-page source


def test_scroll_source_prunes_pages_via_pushdown(spark, sf_small):
    """The watermark range predicate is pushed INTO the Python data
    source (A2 parity): pages whose manifest max precedes the bound
    are never opened, observable as fewer input partitions."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.sources.scroll import (
        register_scroll_source,
        stage_scroll_pages,
    )

    src = stage_scroll_pages(spark, sf_small, page_size=200)  # 5 pages
    register_scroll_source(spark)
    full = spark.read.format("scroll_hits").option("path", src).load()
    assert full.rdd.getNumPartitions() == 5

    import json
    import os

    with open(os.path.join(src, "manifest.json")) as f:
        manifest = json.load(f)
    # bound inside the LAST page: all earlier pages must be pruned
    bound = manifest[-1]["min_lu"]
    filtered = (
        spark.read.format("scroll_hits")
        .option("path", src)
        .load()
        .filter(F.col("last_update_us") >= bound)
    )
    assert filtered.rdd.getNumPartitions() == 1
    # and the row filter inside the source is exact
    n_expected = sum(
        1
        for p in manifest
        for lu, _, _ in _page_rows(src, p["file"])
        if lu >= bound
    )
    assert filtered.count() == n_expected


def _page_rows(src, fname):
    import json
    import os

    with open(os.path.join(src, fname)) as f:
        for line in f:
            h = json.loads(line)
            yield h["_lu"], h["_id"], h["_source"]


def test_scroll_stream_resumes_from_page_cursor(spark, sf_small, tmp_path):
    """Kill the stream after the first page, restart on the same
    checkpoint: ingest resumes at the committed page cursor and the
    final corpus has every hit exactly once."""
    from dgraph_etl_spark.sources.scroll import (
        register_scroll_source,
        stage_scroll_pages,
    )

    src = stage_scroll_pages(spark, sf_small, page_size=300)
    register_scroll_source(spark)
    out = str(tmp_path / "rows")
    ckpt = str(tmp_path / "ckpt")

    def start(**trigger):
        return (
            spark.readStream.format("scroll_hits")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    import time

    # phase 1: EXACTLY one micro-batch (= one page, the source's
    # batch grain), then stop -- a deterministic mid-stream kill. The
    # previous poll-until-300-then-stop could race a fast machine to
    # completion, committing all four pages before the first poll and
    # turning the restart into a no-op (the resume-at-cursor property
    # was then never exercised while the test still passed).
    q = start(once=True)
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 300  # page 0 only

    q = start(processingTime="0 seconds")
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        try:
            if spark.read.parquet(out).count() >= 1000:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 1000  # every hit exactly once
    assert got.select("_id").distinct().count() == 1000


def test_stage_atomic_lock_serializes_and_never_drops_complete(tmp_path):
    """Concurrent stagers of one target must serialize on the lock:
    exactly ONE write_batches runs, the published dir is never
    renamed aside once complete, and every caller gets a complete
    dir. (The lock-free rename-aside protocol could transiently
    delete a just-published complete dir.)"""
    import threading

    from dgraph_etl_spark.staging import MARKER as _STAGE_MARKER
    from dgraph_etl_spark.staging import is_published as _stage_complete
    from dgraph_etl_spark.staging import publish as _stage_atomic

    d = str(tmp_path / "staged")
    calls = []

    def write(tmp):
        calls.append(1)
        with open(os.path.join(tmp, "batch0"), "w") as f:
            f.write("data")

    errs = []

    def run():
        try:
            got = _stage_atomic(d, write)
            assert _stage_complete(got)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs and len(calls) == 1
    assert sorted(os.listdir(d)) == [_STAGE_MARKER, "batch0"]
    # marker-less (abandoned) dir is discarded and restaged
    os.remove(os.path.join(d, _STAGE_MARKER))
    _stage_atomic(d, write)
    assert len(calls) == 2 and _stage_complete(d)
    # stale lock-file CONTENT from the retired pid-file protocol is
    # irrelevant to flock: a leftover file never blocks acquisition
    with open(d + ".lock", "w") as f:
        f.write("999999999")
    assert _stage_atomic(d, write) == d  # complete dir short-circuits
    os.remove(d + ".lock")


def test_stage_atomic_crashed_holder_releases_lock(tmp_path):
    """A stager that dies holding the lock must not wedge waiters: the
    kernel releases flock on process death (the property that replaced
    the pid-probing break-the-lock branch, whose read-then-unlink had
    a TOCTOU that could unlink a LIVE waiter's lock)."""
    import subprocess
    import sys

    from dgraph_etl_spark.staging import is_published as _stage_complete
    from dgraph_etl_spark.staging import publish as _stage_atomic

    d = str(tmp_path / "staged")
    # child acquires the flock, signals readiness, then hard-crashes
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import fcntl, os, sys; "
                f"fd = os.open({d + '.lock'!r}, os.O_CREAT | os.O_RDWR); "
                "fcntl.flock(fd, fcntl.LOCK_EX); "
                "print('locked', flush=True); "
                "os.read(0, 1)"  # block until killed
            ),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    assert child.stdout.readline().strip() == b"locked"
    child.kill()
    child.wait()

    def write(tmp):
        with open(os.path.join(tmp, "batch0"), "w") as f:
            f.write("data")

    assert _stage_atomic(d, write) == d
    assert _stage_complete(d)


def test_stateful_profile_fold_skips_null_ts(spark):
    """A key-group chunk whose ts values are all NULL must fold like
    SQL aggregates (COUNT(*) includes the rows, MIN/MAX skip NULLs)
    instead of crashing the query on int(NaN)."""
    import pandas as pd

    from dgraph_etl_spark.streaming.stateful import _profile_fn

    class _State:
        exists = False

        def update(self, v):
            self.stored = v

    chunk = pd.DataFrame(
        {
            "ts_us": pd.array([None, None], dtype="float64"),
            "event_type": ["a", None],
        }
    )
    st = _State()
    out = list(_profile_fn((7,), iter([chunk]), st))
    row = out[0].iloc[0]
    assert row["n_events"] == 2
    assert pd.isna(row["first_ts_us"]) and pd.isna(row["last_ts_us"])
    assert row["n_event_types"] == 1


def test_drop_memory_sinks_ignores_foreign_session_id(spark):
    """The sink registry pins sessions by weakref: an id(spark) match
    alone (a recycled address from a dead session) must not hand a
    new session the dead one's sink list."""
    from dgraph_etl_spark.streaming import core as C

    names = C._mem_sink_names(spark)
    names.append("phantom_sink_for_test")
    # corrupt the pin to simulate a recycled id from a dead session
    key = (id(spark), None)
    ref, lst = C._MEM_SINKS._entries[key]
    C._MEM_SINKS._entries[key] = (lambda: None, lst)
    assert C.drop_memory_sinks(spark) == 0
    assert key not in C._MEM_SINKS._entries


def test_stage_derby_table_is_content_keyed_and_reused(spark, tmp_path):
    """stage_derby_table builds the Derby copy ONCE per (fixture
    content, table): a second call with the same source returns the
    same url without re-staging (dir presence == complete), and the
    staged database is closed (de-booted) so the returned url boots
    cleanly. Uses a private sf_dir so the test never collides with the
    real fixture's staged copy."""
    import pathlib

    from dgraph_etl_spark.sources.jdbc import read_jdbc, stage_derby_table

    sf = tmp_path / "sfx"
    sf.mkdir()
    spark.range(0, 50).selectExpr(
        "id AS c_custkey", "CAST(id % 5 AS INT) AS c_nationkey",
        "CAST(id AS DOUBLE) AS c_acctbal"
    ).coalesce(1).write.parquet(str(sf / "customer.parquet"))

    url1 = stage_derby_table(spark, str(sf), "customer")
    d = url1.removeprefix("jdbc:derby:")
    mtime1 = max(p.stat().st_mtime_ns for p in pathlib.Path(d).rglob("*"))
    url2 = stage_derby_table(spark, str(sf), "customer")
    assert url2 == url1
    mtime2 = max(p.stat().st_mtime_ns for p in pathlib.Path(d).rglob("*"))
    assert mtime2 == mtime1  # no re-stage touched the database files

    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    got = read_jdbc(spark, url1, "customer", properties=props)
    assert got.count() == 50
    assert {f.name for f in got.schema.fields} == {
        "c_custkey", "c_nationkey", "c_acctbal"
    }


def test_register_views_partial_memoizes_and_scopes_coverage(spark):
    """Coverage-aware registration idempotence: a partial registration
    after a full one for the same source must be a cache HIT (the
    first cut re-ran the view DDL per query AND invalidated the full
    entry -- g03_hop2's bench floor moved 0.14s -> 0.70s, round-10
    A/B); a partial for a DIFFERENT source must invalidate, because
    its overwritten views make the old catalog mixed."""
    from dgraph_etl_spark import catalog as C

    sf1, sf2 = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    C.register_views(spark, sf1, force=True)
    full_entry = C._REGISTERED.peek(spark)
    # partial subset of the full registration: no re-registration, the
    # cached entry is untouched (identity, not just equality)
    C.register_views(
        spark, sf1, tables=("customer", "events"),
        views=("user_relationship", "edges"),
    )
    assert C._REGISTERED.peek(spark) is full_entry
    # partial for a DIFFERENT source: entry replaced, coverage scoped
    # to exactly the names just written
    C.register_views(spark, sf2, tables=("customer",), views=())
    entry = C._REGISTERED.peek(spark)
    assert entry is not full_entry
    assert entry[0] == sf2 and entry[2] == frozenset({"customer"})
    # a full call for sf2 now re-registers (customer-only coverage
    # does not satisfy it) and unions coverage to everything
    C.register_views(spark, sf2)
    assert frozenset(C.BASE_TABLES) <= C._REGISTERED.peek(spark)[2]
    # restore the suite-wide default registration for later tests
    C.register_views(spark, sf1, force=True)
