"""Unit tests for the live mutation sink (A17/A19): retry budget,
batching, and atomic commit — no Spark session needed."""

from __future__ import annotations

import json
import os

import pytest

from dgraph_etl_spark.sinks.live import (
    FileMutationClient,
    TransientSinkError,
    write_partition,
)


class _Row(dict):
    def asDict(self):
        return dict(self)


def _rows(n):
    return [_Row(src=str(i), dst=str(i + 1), score=float(i)) for i in range(n)]


def test_retry_recovers_from_transient_abort(tmp_path):
    path = str(tmp_path / "part.ndjson")
    client = FileMutationClient(path, fail_first=True)
    write_partition(iter(_rows(7)), client, batch_size=3, backoff_s=0.0)
    lines = [json.loads(x) for x in open(path)]
    assert [r["src"] for r in lines] == [str(i) for i in range(7)]


def test_retry_budget_exhausts_and_reraises(tmp_path):
    class AlwaysAborts(FileMutationClient):
        def mutate(self, batch):
            raise TransientSinkError("abort")

    client = AlwaysAborts(str(tmp_path / "p.ndjson"))
    with pytest.raises(TransientSinkError):
        write_partition(iter(_rows(2)), client, max_retries=3, backoff_s=0.0)
    # nothing published: commit never ran, no atomic rename happened
    assert not os.path.exists(str(tmp_path / "p.ndjson"))


def test_commit_is_atomic_rename(tmp_path):
    path = str(tmp_path / "part.ndjson")
    client = FileMutationClient(path)
    client.mutate([{"src": "a"}])
    assert not os.path.exists(path)  # invisible until commit
    client.commit()
    assert os.path.exists(path)


def test_batching_flushes_every_batch_size(tmp_path):
    calls = []

    class Counting(FileMutationClient):
        def mutate(self, batch):
            calls.append(len(batch))
            super().mutate(batch)

    path = str(tmp_path / "part.ndjson")
    write_partition(iter(_rows(10)), Counting(path), batch_size=4)
    assert calls == [4, 4, 2]


# ---------------------------------------------------------------------------
# A13 MERGE adapter (sinks/lakehouse.py): the versioned-store fallback
# must implement exactly the lakehouse MERGE semantics the reference's
# live path has (dgraph.go:110-133) -- proven against a row-at-a-time
# simulation of MERGE INTO, and shown batch-order invariant (what makes
# concurrent-writer retry/reorder safe).
# ---------------------------------------------------------------------------


def _merge_into_simulation(batches):
    """Literal MERGE INTO ... WHEN MATCHED AND s.score > t.score THEN
    UPDATE WHEN NOT MATCHED THEN INSERT, row at a time (the reference's
    dgraph.go:110-133 loop)."""
    store = {}
    for batch in batches:
        for src, dst, score in batch:
            k = (src, dst)
            if k not in store or score > store[k]:
                store[k] = score
    return {(s, d, sc) for (s, d), sc in store.items()}


def _edge_batches(spark, sf_dir, n_batches=3):
    """Deterministic batch split of the exploded (pre-dedup) edge
    stream -- duplicates WITHIN and ACROSS batches are the point."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.pipeline.edges import explode_bidirectional

    register_views(spark, sf_dir)
    exploded = explode_bidirectional(spark.table("user_relationship"))
    return [
        # pmod, not abs(...)%n: abs(Long.MIN_VALUE) stays negative and
        # would drop that row from every batch
        exploded.filter(
            F.pmod(F.xxhash64("src", "dst", "score"), F.lit(n_batches)) == i
        )
        for i in range(n_batches)
    ]


def test_merge_max_into_equals_merge_into_semantics(spark, tmp_path):
    from dgraph_etl_spark.sinks.lakehouse import merge_max_into

    sf = "/root/testdata/sf0.001"
    batches = _edge_batches(spark, sf)
    rows_per_batch = [
        [(r.src, r.dst, r.score) for r in b.collect()] for b in batches
    ]

    final = None
    for b in batches:
        final = merge_max_into(spark, str(tmp_path / "store"), b)
    got = {(r.src, r.dst, r.score) for r in final.collect()}
    assert got == _merge_into_simulation(rows_per_batch)


def test_merge_max_into_is_batch_order_invariant(spark, tmp_path):
    """Max-wins merge is commutative/associative/idempotent, so any
    interleaving of concurrent writers (including a replayed batch --
    at-least-once delivery) reaches the same fixed point."""
    from dgraph_etl_spark.sinks.lakehouse import merge_max_into

    sf = "/root/testdata/sf0.001"
    batches = _edge_batches(spark, sf)

    orders = {
        "fwd": batches,
        "rev": list(reversed(batches)),
        "replay": [batches[0], batches[1], batches[0], batches[2], batches[1]],
    }
    results = {}
    for tag, seq in orders.items():
        final = None
        for b in seq:
            final = merge_max_into(spark, str(tmp_path / tag), b)
        results[tag] = {(r.src, r.dst, r.score) for r in final.collect()}
    assert results["fwd"] == results["rev"] == results["replay"]


def test_merge_max_into_versions_are_monotone(spark, tmp_path):
    """Each merge publishes a NEW version (time travel for the store);
    scores per key never decrease across versions."""
    import os

    from dgraph_etl_spark.sinks.lakehouse import merge_max_into

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "store")
    batches = _edge_batches(spark, sf)
    for b in batches:
        merge_max_into(spark, root, b)
    versions = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert len(versions) == len(batches)
    prev = {}
    for v in versions:
        cur = {
            (r.src, r.dst): r.score
            for r in spark.read.parquet(os.path.join(root, v)).collect()
        }
        assert all(cur.get(k, s) >= s for k, s in prev.items()), v
        prev = cur


def test_exactly_once_jdbc_sink_survives_crash_replay(spark, sf_small, tmp_path):
    """The at-least-once crash window, end-to-end against embedded
    Derby: the stream crashes AFTER batch 1's data append but BEFORE
    its commit marker; the restart replays batch 1 from the
    checkpoint. A naive INSERT sink would now hold batch 1 twice --
    the epoch-ledger writer must destructively rewrite the replayed
    batch, then finish the remaining batches, landing EXACTLY the
    source rows with no duplicate event_ids."""
    from dgraph_etl_spark.sinks.jdbc_sink import (
        ensure_sink_tables,
        exactly_once_jdbc_writer,
        jdbc_query_long,
    )
    from dgraph_etl_spark.streaming.core import (
        events_stream,
        time_split_source,
    )

    url = f"jdbc:derby:{tmp_path}/xonce;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ensure_sink_tables(
        spark,
        url,
        "sink_events",
        "sink_ledger",
        '"event_id" BIGINT, "user_id" BIGINT, "batch_id" BIGINT, '
        '"query_name" VARCHAR(128)',
    )
    src = time_split_source(sf_small)
    ckpt = str(tmp_path / "ckpt")
    hook = {"armed": True}

    def start(fail_hook):
        ev = events_stream(spark, sf_small, path=src).select(
            "event_id", "user_id"
        )
        return (
            ev.writeStream.foreachBatch(
                exactly_once_jdbc_writer(
                    url,
                    "sink_events",
                    "sink_ledger",
                    "xonce_test",
                    properties=props,
                    fail_before_marker_once=fail_hook,
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    import pytest as _pytest

    q = start(hook)
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    # crash landed between append and marker: data rows present for the
    # crashed batch, marker absent
    assert not hook["armed"]
    partial = jdbc_query_long(
        spark, url, 'SELECT COUNT(*) FROM sink_events'
    )
    assert partial > 0

    q2 = start({"armed": False})
    q2.awaitTermination()

    n_src = spark.read.parquet(src).count()
    n_sink = jdbc_query_long(spark, url, "SELECT COUNT(*) FROM sink_events")
    n_distinct = jdbc_query_long(
        spark, url, 'SELECT COUNT(DISTINCT "event_id") FROM sink_events'
    )
    assert n_sink == n_src, (n_sink, n_src)
    assert n_distinct == n_src, (n_distinct, n_src)
    n_batches = jdbc_query_long(
        spark, url, "SELECT COUNT(*) FROM sink_ledger"
    )
    assert n_batches == 3


def test_exactly_once_sink_multiplexed_queries_share_table(spark, tmp_path):
    """Two streaming queries (distinct query_names, the multiplexing
    the (query_name, batch_id) ledger key supports) sharing ONE data
    table: query A's replay of batch 7 must destructively rewrite only
    A's rows -- a batch_id-only DELETE silently destroyed B's already
    committed batch 7, which B's ledger entry then prevented from ever
    being re-written."""
    from dgraph_etl_spark.sinks.jdbc_sink import (
        ensure_sink_tables,
        exactly_once_jdbc_writer,
        jdbc_query_long,
    )

    url = f"jdbc:derby:{tmp_path}/mux;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ensure_sink_tables(
        spark,
        url,
        "mux_events",
        "mux_ledger",
        '"event_id" BIGINT, "batch_id" BIGINT, "query_name" VARCHAR(128)',
    )
    df_b = spark.createDataFrame([(100,), (101,)], "event_id bigint")
    df_a = spark.createDataFrame([(200,)], "event_id bigint")

    # B commits its batch 7 fully
    exactly_once_jdbc_writer(url, "mux_events", "mux_ledger", "qB", props)(
        df_b, 7
    )
    # A crashes after appending its batch 7 (marker missing) ...
    hook = {"armed": True}
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        exactly_once_jdbc_writer(
            url, "mux_events", "mux_ledger", "qA", props,
            fail_before_marker_once=hook,
        )(df_a, 7)
    # ... and replays it
    exactly_once_jdbc_writer(url, "mux_events", "mux_ledger", "qA", props)(
        df_a, 7
    )
    n_b = jdbc_query_long(
        spark, url,
        "SELECT COUNT(*) FROM mux_events WHERE \"query_name\" = 'qB'",
    )
    n_a = jdbc_query_long(
        spark, url,
        "SELECT COUNT(*) FROM mux_events WHERE \"query_name\" = 'qA'",
    )
    assert (n_b, n_a) == (2, 1)


def test_zorder_bucket_assignment_exact_past_2_53(spark, tmp_path):
    """zbucket math must be integer division: `/` computes in double
    and misassigns boundary rows once the z-address exceeds 2^53
    (key_bits up to 62 is supported)."""
    from dgraph_etl_spark.sinks.layout import zorder_write

    width = (1 << 62) // 8
    # exact boundary multiples around bucket 6/7 that double math rounds
    keys = [6 * width - 1, 6 * width, 7 * width - 1, 7 * width]
    df = spark.createDataFrame([(k,) for k in keys], "zkey long")
    out = str(tmp_path / "z62")
    zorder_write(df, out, zkey="zkey", n_files=8, key_bits=62)
    got = {
        r.zkey: r.zbucket
        for r in spark.read.parquet(out).select("zkey", "zbucket").collect()
    }
    assert got == {k: k // width for k in keys}, got


def test_versions_order_numerically_not_lexicographically(tmp_path):
    """Past v99999, lexicographic sorting puts v100000 before v99999;
    the latest-version pick must parse the integer suffix (and ignore
    non-numeric v* names rather than crash)."""
    from dgraph_etl_spark.sinks.lakehouse import _versions

    root = str(tmp_path / "store")
    os.makedirs(root)
    for d in ("v99999", "v100000", "v00001", "vjunk"):
        os.makedirs(os.path.join(root, d))
    assert _versions(root) == ["v00001", "v99999", "v100000"]


def test_delta_root_without_delta_runtime_fails_loudly(spark, tmp_path):
    """A store CREATED as Delta must not be silently read as 'nothing
    merged yet' by a delta-less runtime: that would fork a parquet
    lineage inside the Delta root and drop every delta-less round's
    merges the moment delta returns."""
    import pytest

    from dgraph_etl_spark.sinks.lakehouse import (
        merge_max_into,
        read_edge_store,
    )

    root = str(tmp_path / "delta_store")
    os.makedirs(os.path.join(root, "_delta_log"))
    with pytest.raises(RuntimeError, match="_delta_log"):
        read_edge_store(spark, root)
    edges = spark.createDataFrame(
        [(1, 2, 1.0)], "src bigint, dst bigint, score double"
    )
    with pytest.raises(RuntimeError, match="_delta_log"):
        merge_max_into(spark, root, edges)


def test_stage_atomic_cleans_tmp_on_failed_build(tmp_path):
    """A failed build must not strand its partial tmp sibling."""
    import pytest

    from dgraph_etl_spark.staging import publish as _stage_atomic

    d = str(tmp_path / "staged")

    def boom(tmp):
        open(os.path.join(tmp, "partial"), "w").close()
        raise RuntimeError("injected build failure")

    with pytest.raises(RuntimeError, match="injected"):
        _stage_atomic(d, boom)
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == [], leftovers
    assert not os.path.exists(d)


def test_file_mutation_client_attempts_do_not_clobber(tmp_path):
    """Two overlapping attempts for the same partition (zombie +
    relaunch) must not interleave: each attempt logs to its own temp
    file and the last commit wins WHOLE."""
    import json as _json

    from dgraph_etl_spark.sinks.live import FileMutationClient

    path = str(tmp_path / "part-00000.ndjson")
    a = FileMutationClient(path)
    b = FileMutationClient(path)
    a.mutate([{"m": "a1"}])
    b.mutate([{"m": "b1"}])
    a.mutate([{"m": "a2"}])
    b.commit()
    a.commit()  # last committed attempt supersedes wholly
    lines = [_json.loads(x) for x in open(path)]
    assert lines == [{"m": "a1"}, {"m": "a2"}], lines


def test_failed_attempt_unlinks_its_tmp_file(tmp_path):
    """A dead attempt (retry budget exhausted) must not strand its
    attempt-unique '.tmp.<pid>_<hex>' file next to the sink output:
    write_partition aborts the client on any non-committed exit."""

    class AlwaysAborts(FileMutationClient):
        def mutate(self, batch):
            raise TransientSinkError("abort")

    client = AlwaysAborts(str(tmp_path / "p.ndjson"))
    with pytest.raises(TransientSinkError):
        write_partition(iter(_rows(2)), client, max_retries=2, backoff_s=0.0)
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == [], leftovers


def test_abort_is_idempotent_and_commit_wins(tmp_path):
    """abort() after commit() must be a no-op (never unlink published
    output), and double-abort must not raise."""
    path = str(tmp_path / "part.ndjson")
    client = FileMutationClient(path)
    client.mutate([{"m": "x"}])
    client.commit()
    client.abort()
    client.abort()
    assert os.path.exists(path)
    lines = [json.loads(x) for x in open(path)]
    assert lines == [{"m": "x"}]


def test_delta_conflict_matcher_reads_class_not_message():
    """The Delta commit-conflict detector must match exception CLASS
    names, never free-text: a real failure whose message contains
    'Concurrent' surfaces immediately instead of being retried 10
    times and buried under a 'writer storm' error."""
    from dgraph_etl_spark.sinks.lakehouse import _is_delta_commit_conflict

    class ConcurrentAppendException(Exception):
        pass

    class AnalysisException(Exception):
        pass

    assert _is_delta_commit_conflict(ConcurrentAppendException("x"))
    assert not _is_delta_commit_conflict(
        AnalysisException("Concurrent writers detected in table scan")
    )

    class _JClass:
        def getName(self):
            return "io.delta.exceptions.ConcurrentDeleteReadException"

    class _JExc:
        def getClass(self):
            return _JClass()

    class Py4JJavaError(Exception):
        def __init__(self):
            super().__init__("An error occurred")
            self.java_exception = _JExc()

    assert _is_delta_commit_conflict(Py4JJavaError())


def test_batched_parquet_stream_empty_dir_fails_loudly(tmp_path):
    """An empty / mis-staged batch-stream source dir must name the
    path (the ts_bigint_unit discipline), not die with IndexError."""
    from dgraph_etl_spark.streaming.core import batched_parquet_stream

    d = str(tmp_path / "nothing_staged")
    os.makedirs(d)
    with pytest.raises(ValueError, match="no batch\\*.parquet"):
        batched_parquet_stream(None, d)


def test_exactly_once_writer_rejects_reserved_columns(spark):
    """The sink's tag columns must never silently overwrite same-named
    user columns (the replay-DELETE would then key on destroyed
    values); the guard fires before any database round-trip."""
    from dgraph_etl_spark.sinks.jdbc_sink import exactly_once_jdbc_writer

    wb = exactly_once_jdbc_writer(
        "jdbc:derby:memory:neverused", "t", "l", "q"
    )
    df = spark.createDataFrame([(1, 2)], ["batch_id", "x"])
    with pytest.raises(ValueError, match="reserves column"):
        wb(df, 0)


def test_merge_max_into_cleans_tmp_on_failed_write(spark, tmp_path):
    """A failed version write must not strand .tmp-* partials inside
    the store root (nothing else ever reclaims them)."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.sinks.lakehouse import merge_max_into

    root = str(tmp_path / "store")
    # a batch whose evaluation fails at write time: ANSI division by
    # zero inside the projected column
    bad = spark.range(3).select(
        F.col("id").cast("string").alias("src"),
        F.lit("d").alias("dst"),
        (F.lit(1) / F.lit(0)).alias("score"),
    )
    with pytest.raises(Exception):
        merge_max_into(spark, bad, root)
    leftovers = [
        p for p in os.listdir(root) if p.startswith(".tmp-")
    ] if os.path.isdir(root) else []
    assert leftovers == [], leftovers


def test_scratch_stream_dir_repairs_non_symlink_entry(tmp_path):
    """A plain FILE squatting on the staged symlink's name (older
    tooling, manual copy) must be repaired, not crash readlink with
    EINVAL."""
    import os as _os

    from dgraph_etl_spark.staging import source_tag, source_version
    from dgraph_etl_spark.streaming.core import _scratch_stream_dir

    sf = "/root/testdata/sf0.001"
    import tempfile

    tag = f"{source_tag(sf)}_{source_version(sf, 'events')}"
    d = _os.path.join(tempfile.gettempdir(), f"dgraph_etl_streamsrc_{tag}")
    _os.makedirs(d, exist_ok=True)
    link = _os.path.join(d, "events.parquet")
    # squat a REGULAR FILE on the link path
    try:
        _os.remove(link)
    except FileNotFoundError:
        pass
    with open(link, "w") as f:
        f.write("not a symlink")
    out = _scratch_stream_dir(sf)
    assert out == d
    assert _os.path.islink(link), "entry must be repaired to a symlink"
    assert _os.readlink(link).endswith("events.parquet")
