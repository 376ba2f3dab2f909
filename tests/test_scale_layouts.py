"""Scale-layout demonstrations (SURVEY.md §2 100 TB notes): bucketed
co-located joins, salted aggregation under skew, and time-partitioned
incremental scans. These encode the storage-layout decisions a 100 TB
deployment makes; the tests prove the plans actually change shape
(no exchange before a bucketed join, partition pruning on time) and
that the skew fallback is exact."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dgraph_etl_spark.catalog import register_views
from tests.oracle_utils import formatted_plan


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    """Point the session catalog at a scratch warehouse for bucketed
    tables (bucketing metadata needs saveAsTable, not plain files).
    pytest-managed so every run's full parquet copies are reaped
    instead of leaking in /tmp (the d062c87 scratch-leak class)."""
    return str(tmp_path_factory.mktemp("dgraph_etl_wh"))


def test_bucketed_join_has_no_shuffle(spark, sf_small, warehouse):
    """Both sides bucketed by the join key into the same bucket count
    => the sort-merge join reads co-located buckets directly; the plan
    must contain NO Exchange. This is the 'pre-shuffled storage' layout
    big fact-fact joins want at 100 TB (one-time layout cost, every
    subsequent join shuffle-free)."""
    register_views(spark, sf_small)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{warehouse}'")
    for tbl, src, key in [
        ("bkt.orders_b", "orders", "o_orderkey"),
        ("bkt.lineitem_b", "lineitem", "l_orderkey"),
    ]:
        spark.table(src).write.mode("overwrite").bucketBy(8, key).sortBy(
            key
        ).saveAsTable(tbl)
    # at 100 TB neither fact table broadcasts — disable it so the test
    # exercises the path the layout exists for (bucketed SMJ)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt.orders_b").join(
            spark.table("bkt.lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        # and it still computes the right thing
        expected = (
            spark.table("orders")
            .join(
                spark.table("lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .count()
        )
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_max_equals_plain_max(spark, sf_small):
    """The two-level salted aggregation (hot-key fallback for power-law
    graph hubs) must be exactly the plain groupBy max."""
    from dgraph_etl_spark.pipeline.edges import (
        aggregate_max_salted,
        explode_bidirectional,
        max_score_per_edge,
    )

    register_views(spark, sf_small)
    edges = explode_bidirectional(spark.table("user_relationship"))
    plain = {(r.src, r.dst): r.score for r in max_score_per_edge(edges).collect()}
    salted = {
        (r.src, r.dst): r.score
        for r in aggregate_max_salted(edges, buckets=8).collect()
    }
    assert plain == salted


def test_time_partitioned_layout_prunes_incremental_scan(
    spark, sf_small, tmp_path
):
    """Lay events out partitioned by day (the 100 TB layout for an
    event stream) and run the watermark scan: the day predicate derived
    from the watermark must prune partitions at file listing — explain
    shows the partition filter and a pruned partition count."""
    import re

    register_views(spark, sf_small)
    out = str(tmp_path / "events")
    ev = spark.table("events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)

    # derive the cut from the DATA (median date): a hardcoded calendar
    # date was fixture-coincidental -- a regenerated fixture entirely
    # before/after it turned 0 < n_kept < n_all into a false alarm
    span = spark.table("events").selectExpr(
        "min(to_date(ts)) AS lo", "max(to_date(ts)) AS hi"
    ).first()
    wm = str(span["lo"] + (span["hi"] - span["lo"]) / 2)
    back = spark.read.parquet(out)
    scan = back.filter(F.col("event_date") >= wm)  # watermark, on layout
    plan = formatted_plan(scan)
    # the filter must be INSIDE PartitionFilters -- bare substring
    # checks were vacuous ('PartitionFilters: []' still prints, and
    # event_date appears in the scan schema regardless of pruning)
    assert re.search(r"PartitionFilters: \[.*event_date.*\]", plan), plan
    n_all = back.count()
    n_kept = scan.count()
    assert 0 < n_kept < n_all
    # exact: pruned result == predicate on the unpartitioned table
    exact = spark.table("events").filter(F.to_date("ts") >= wm).count()
    assert n_kept == exact


def test_layout_compaction_parallelizes_scan_and_preserves_content(spark):
    """Single-row-group fixtures must be re-laid-out so scan stages get
    real parallelism (a row group is the atomic split unit: 1 row group
    == 1 task for the whole fused map side), and the compacted copy must
    be byte-for-byte the same multiset of rows as the source."""
    from dgraph_etl_spark.catalog import load_table, table_path

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")  # 60k rows -> compacted
    assert li.rdd.getNumPartitions() >= 4, "compaction did not split scan"
    # normalize the source read the same way load_table does: the
    # digest hashes VALUES, and a fixture round shipping l_shipdate as
    # DATE32/NTZ would otherwise hash int32 days against int64 micros
    # and falsely report divergence (the physical forms the fixture
    # contract explicitly allows)
    from dgraph_etl_spark.catalog import normalize_timestamps

    raw = normalize_timestamps(spark.read.parquet(table_path(sf, "lineitem")))
    assert li.count() == raw.count()
    def _digest(df):
        return df.agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("s"),
            F.sum(
                F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
            ).alias("h"),
        ).first()

    a, b = _digest(li), _digest(raw)
    assert (a.s, a.h) == (b.s, b.h), "compacted copy diverged from source"


def test_streaming_dedup_resumes_from_checkpoint(spark, sf_small, tmp_path):
    """Exactly-once across restarts: run the incremental-dedup stream
    over the first two micro-batch files, STOP, then reveal the third
    file and re-run with the SAME checkpoint -- the store must equal
    the batch C1 winners with no re-screened (duplicated) rows. This is
    the resume semantics the reference only approximates with its
    manual watermark flag (elastic.go:50, etl.go:19)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.streaming.core import docs_batched_source

    staged = docs_batched_source(sf_small)
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "accepted")
    schema = spark.read.parquet(os.path.join(staged, "batch0.parquet")).schema

    def screen_batch(batch_df, epoch_id):
        sp = batch_df.sparkSession
        hashed = batch_df.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("content_hash")
        )
        batch_min = hashed.groupBy("content_hash").agg(
            F.min("doc_id").alias("doc_id")
        )
        if os.path.exists(store):
            seen = sp.read.parquet(store).select("content_hash")
            batch_min = batch_min.join(seen, "content_hash", "left_anti")
        batch_min.select("doc_id", "content_hash").write.mode("append").parquet(store)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(screen_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i in (0, 1):
        shutil.copy(os.path.join(staged, f"batch{i}.parquet"), src)
    run_once()
    n_after_first = spark.read.parquet(store).count()

    shutil.copy(os.path.join(staged, "batch2.parquet"), src)
    run_once()  # resumes from checkpoint: only batch2 is processed

    final = spark.read.parquet(store)
    docs = load_table(spark, sf_small, "documents")
    want = (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id"))
        .count()
    )
    assert n_after_first < final.count() == want
    # no hash screened twice (re-processing would duplicate rows)
    assert final.groupBy("content_hash").count().filter("count > 1").count() == 0


def test_salted_join_equals_plain_join(spark, sf_small):
    """The salted (replicate-dim) join must return exactly the plain
    equi-join's multiset of rows -- salting redistributes work, never
    changes semantics."""
    from dgraph_etl_spark.pipeline.edges import salted_join

    register_views(spark, sf_small)
    li = spark.table("lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber"
    )
    o = spark.table("orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plain = (
        li.join(o, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    salted = (
        salted_join(li, o, "k", buckets=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_rejects_outer_and_salt_collisions(spark):
    """right/full outer would emit `buckets` null-padded copies of each
    unmatched dim row -- salted_join must refuse; it must also refuse
    inputs that already carry a _salt column."""
    import pytest

    from dgraph_etl_spark.pipeline.edges import salted_join

    a = spark.range(4).withColumnRenamed("id", "k")
    b = spark.range(4).withColumnRenamed("id", "k")
    for bad in ("right", "full", "right_outer", "fullouter"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(a, b, "k", how=bad)
    with pytest.raises(ValueError, match="_salt"):
        salted_join(a.withColumn("_salt", F.lit(0)), b, "k")


def test_salted_salts_are_deterministic(spark):
    """The salt must be a pure function of row payload (stage retries /
    speculative tasks must reproduce identical partitioning) -- two
    independent evaluations of the salted plan agree row-for-row."""
    from dgraph_etl_spark.pipeline.edges import aggregate_max_salted

    edges = spark.createDataFrame(
        [(str(i % 3), str(i % 5), float(i)) for i in range(100)],
        ["src", "dst", "score"],
    )
    one = sorted(map(tuple, aggregate_max_salted(edges, buckets=8).collect()))
    two = sorted(map(tuple, aggregate_max_salted(edges, buckets=8).collect()))
    assert one == two


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_small, tmp_path):
    """Z-order layout contract: files range-clustered on the
    interleaved (day, partkey) address have BOUNDED footer-stat spans
    in BOTH dimensions, so a selective predicate on EITHER column
    overlaps only a fraction of files -- while the usual
    single-dimension (date-sorted) layout overlaps EVERY file for a
    partkey predicate. Footer min/max stats are read directly (the
    same stats a lakehouse manifest indexes); content is preserved
    exactly."""
    import pyarrow.parquet as pq

    from dgraph_etl_spark.sinks.layout import zorder_write
    from dgraph_etl_spark.registry import REGISTRY, _load_suites

    _load_suites()
    register_views(spark, sf_small)
    # the certified address query: min-max-normalized 8-bit dims
    zdf = REGISTRY["b95_zorder_address"].fn(spark, sf_small)
    li = zdf.drop("zkey")

    n_files = 8
    zdir = str(tmp_path / "z")
    ldir = str(tmp_path / "linear")
    zorder_write(zdf, zdir, n_files=n_files, key_bits=16)
    # the baseline layout every time-series table already has -- the
    # same deterministic bucketing discipline, on day alone
    (
        zdf.withColumn("zbucket", F.floor(F.col("day8") / 32).cast("int"))
        .repartition(n_files, F.col("zbucket"))
        .sortWithinPartitions("day8")
        .write.partitionBy("zbucket")
        .mode("overwrite")
        .parquet(ldir)
    )

    def overlap_fraction(d, col, lo, hi):
        files = [
            os.path.join(root, f)
            for root, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert len(files) >= n_files - 1, files
        n = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            cmin = min(
                md.row_group(i).column(
                    next(
                        j
                        for j in range(md.num_columns)
                        if md.row_group(i).column(j).path_in_schema == col
                    )
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            cmax = max(
                md.row_group(i).column(
                    next(
                        j
                        for j in range(md.num_columns)
                        if md.row_group(i).column(j).path_in_schema == col
                    )
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            if cmax >= lo and cmin <= hi:
                n += 1
        return n / len(files)

    # selective partkey predicate: bottom 1/8 of the normalized keyspace
    z_part = overlap_fraction(zdir, "part8", 0, 31)
    l_part = overlap_fraction(ldir, "part8", 0, 31)
    assert l_part == 1.0, l_part  # date-sorted layout can't skip on part
    assert z_part <= 0.5, z_part  # z-order skips at least half the files
    # and the z-layout still skips on time (bottom 1/8 of the day range)
    z_day = overlap_fraction(zdir, "day8", 0, 31)
    assert z_day <= 0.5, z_day
    # content preserved exactly
    assert (
        spark.read.parquet(zdir).count()
        == li.count()
        == spark.read.parquet(ldir).count()
    )


def test_ivf_kmeans_scale_lane(spark, sf_oracle, tmp_path):
    """The c51 SCALE lane (sampled codebook -> Arrow cell assignment ->
    partitioned index -> pruned probe) must (a) prune unprobed cell
    partitions at the scan, (b) reach a recall@10 floor vs the exact
    brute lane, (c) return rows in brute_topk's contract (4dp sims,
    vec_id tiebreak). The registered c51 stays the hash-certified
    correctness form; this lane is what runs past ~1M vectors."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import similarity as S

    emb = load_table(spark, sf_oracle, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    n = emb.count()
    ncells = max(2, int(n**0.5))
    path = str(tmp_path / "ivf_scale")
    cb = S.build_ivf_kmeans_index(
        spark, emb, path, ncells, sample_size=n, n_iter=5
    )
    assert cb.shape[0] <= ncells

    nprobe = max(2, ncells // 3)
    got = S.ivf_kmeans_scale_topk(spark, query, 10, path, nprobe)
    plan = formatted_plan(got)
    import re

    m = re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert m, plan  # probe prunes at the partition column

    truth = {r.vec_id for r in S.brute_topk(emb, query, 10).collect()}
    hits = {r.vec_id for r in got.collect()}
    recall = len(truth & hits) / 10
    assert recall >= 0.8, f"recall@10 {recall} below floor"

    # idempotent rebuild: second call loads, never retrains
    cb2 = S.build_ivf_kmeans_index(spark, emb, path, ncells)
    assert (cb == cb2).all()


def test_ivfpq_scale_lane(spark, sf_oracle, tmp_path):
    """The c57/c63 SCALE lanes (sample-trained subspace codebooks ->
    one Arrow encode pass -> persisted uint8 code table -> numpy-LUT
    ADC probe + exact rerank) must (a) store only codes (the
    compression claim: no float vector column in the index), (b) hide
    the codebook sidecars from Spark's file listing in BOTH layouts
    (the flat table has no partition dirs to mask them), (c) reach a
    rerank-recall floor vs exact brute, (d) prune cell partitions in
    the IVFPQ layout, and (e) reload rather than retrain on rebuild."""
    import numpy as np

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import similarity as S

    emb = load_table(spark, sf_oracle, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    n = emb.count()
    truth = {r.vec_id for r in S.brute_topk(emb, query, 10).collect()}

    # flat PQ (ncells=1): no partition dirs, sidecars must stay hidden
    flat = str(tmp_path / "pq_flat")
    co, pq = S.build_ivfpq_index(
        spark, emb, flat, ncells=1, k_codes=32, sample_size=n, n_iter=5
    )
    assert co is None and pq.shape[0] == 8
    idx = spark.read.parquet(flat)
    assert sorted(idx.columns) == ["codes", "vec_id"]  # codes only
    assert idx.count() == n
    got = S.ivfpq_scale_topk(
        spark, query, 10, flat, topc=max(50, n // 5), rerank_emb=emb
    )
    recall = len(truth & {r.vec_id for r in got.collect()}) / 10
    assert recall >= 0.6, f"flat PQ rerank recall@10 {recall}"

    # IVFPQ: partitioned by learned cell, pruned at the scan
    ncells = max(4, int(n**0.5) // 2)
    ivfpq = str(tmp_path / "ivfpq")
    co, pq = S.build_ivfpq_index(
        spark, emb, ivfpq, ncells=ncells, k_codes=32,
        sample_size=n, n_iter=5,
    )
    assert co is not None and co.shape[0] <= ncells
    got = S.ivfpq_scale_topk(
        spark, query, 10, ivfpq, nprobe=max(2, ncells // 2),
        topc=max(50, n // 5), rerank_emb=emb,
    )
    plan = formatted_plan(got)
    import re

    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan), plan
    recall = len(truth & {r.vec_id for r in got.collect()}) / 10
    assert recall >= 0.6, f"IVFPQ rerank recall@10 {recall}"

    # rebuild loads the SAME codebooks (content equality, not retrain)
    co2, pq2 = S.build_ivfpq_index(spark, emb, ivfpq, ncells=ncells)
    assert np.array_equal(pq, pq2) and np.array_equal(co, co2)


def test_ivfpq_zero_norm_query_null_sims(spark, sf_oracle, tmp_path):
    """A zero-norm query through the no-rerank IVFPQ lane must return
    NULL adc_sims ordered deterministically by vec_id -- NaN would
    sort FIRST under desc and hand back arbitrary 'top' rows (every
    other lane maps the degenerate query to NULL via try_divide)."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import similarity as S

    emb = load_table(spark, sf_oracle, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    flat = str(tmp_path / "pq_zero")
    S.build_ivfpq_index(
        spark, emb, flat, ncells=1, k_codes=16,
        sample_size=emb.count(), n_iter=2,
    )
    zq = spark.createDataFrame([([0.0] * dim,)], "qvec array<float>")
    got = S.ivfpq_scale_topk(spark, zq, 5, flat, topc=20).collect()
    assert all(r.adc_sim is None for r in got), got
    assert [r.vec_id for r in got] == sorted(r.vec_id for r in got), got


def test_assign_cells_arrow_preserves_vector_type(spark):
    """The Arrow cell-assignment pass must carry the INPUT vector type
    through to the persisted index: hardcoding array<float> silently
    truncated a float64 corpus, breaking the probe's exact-rerank
    parity with brute_topk over the original vectors."""
    from pyspark.sql.types import ArrayType, DoubleType

    from dgraph_etl_spark.functions.similarity import assign_cells_arrow

    emb = spark.createDataFrame(
        [(1, [0.1234567890123456, 1.0]), (2, [1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = assign_cells_arrow(emb, [[0.0, 1.0], [1.0, 0.0]])
    assert out.schema["embedding"].dataType == ArrayType(DoubleType())
    v = {r.vec_id: r.embedding for r in out.collect()}
    assert v[1][0] == 0.1234567890123456  # no float32 truncation


def test_bucketed_table_evicts_superseded_versions(spark):
    """A fixture refresh (new content version) must not strand the
    previous version's full-size bucketed copy: creating vNEW drops
    vOLD's catalog entry and files under this session's scratch root."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from dgraph_etl_spark.sources.bucketed import bucketed_table

    df = spark.range(100).withColumn("k", F.col("id") % 7)
    bucketed_table(spark, df, "bkt_evict_test", "k", 4, version="old1")
    root = os.path.join(
        tempfile.gettempdir(),
        f"dgraph_etl_bucketed_{os.getpid()}_{id(spark)}",
    )
    old_dir = os.path.join(root, "bkt_evict_test_vold1")
    assert os.path.isdir(old_dir)
    bucketed_table(spark, df, "bkt_evict_test", "k", 4, version="new2")
    assert not os.path.exists(old_dir), "superseded version must be evicted"
    assert not spark.catalog.tableExists("bkt_evict_test_vold1")
    assert spark.table("bkt_evict_test_vnew2").count() == 100


def test_evict_stale_generations_is_age_gated_and_scoped(tmp_path):
    """The generational sweep must (a) never touch a generation younger
    than the grace period — a concurrent process may still be lazily
    scanning it — (b) delete old superseded generations, and (c) never
    cross its prefix scope (a same-basename fixture under a different
    parent keys a different prefix)."""
    import os
    import time

    from dgraph_etl_spark.staging import (
        _EVICT_GRACE_SECONDS,
        _evict_stale_generations,
    )

    root = str(tmp_path)
    old_sib = os.path.join(root, "sf0.01_aaaa_lineitem_1_2_32")
    young_sib = os.path.join(root, "sf0.01_aaaa_lineitem_3_4_32")
    live = os.path.join(root, "sf0.01_aaaa_lineitem_5_6_32")
    foreign = os.path.join(root, "sf0.01_bbbb_lineitem_1_2_32")
    in_progress = os.path.join(root, "sf0.01_aaaa_lineitem_7_8_32.tmp.xyz")
    for d in (old_sib, young_sib, live, foreign, in_progress):
        os.makedirs(d)
    stale = time.time() - _EVICT_GRACE_SECONDS - 60
    os.utime(old_sib, (stale, stale))
    _evict_stale_generations(
        root, "sf0.01_aaaa_lineitem_", "sf0.01_aaaa_lineitem_5_6_"
    )
    assert not os.path.exists(old_sib), "aged-out generation must go"
    assert os.path.exists(young_sib), "grace period must protect readers"
    assert os.path.exists(live)
    assert os.path.exists(foreign), "sweep crossed its prefix scope"
    assert os.path.exists(in_progress), "in-progress builds are not swept"


def test_evict_stale_generations_keep_name_is_exact(tmp_path):
    """keep_name matches the live dir EXACTLY: a stale generation whose
    name string-extends the live one (mtime ties, size 50 vs 500) must
    still be collected, and the live dir itself must survive."""
    import os
    import time

    from dgraph_etl_spark.staging import (
        _EVICT_GRACE_SECONDS,
        _evict_stale_generations,
    )

    root = str(tmp_path)
    live = os.path.join(root, "ivf_t_123_50")
    extends = os.path.join(root, "ivf_t_123_500")
    for d in (live, extends):
        os.makedirs(d)
    stale = time.time() - _EVICT_GRACE_SECONDS - 60
    os.utime(extends, (stale, stale))
    os.utime(live, (stale, stale))
    _evict_stale_generations(root, "ivf_t_", keep_name="ivf_t_123_50")
    assert os.path.exists(live)
    assert not os.path.exists(extends), "string-extending stale dir kept"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        _evict_stale_generations(root, "ivf_t_")
