"""Tier B suite: the engine's declared relational surface (SURVEY.md §2
Tier B) -- the capability closure the reference delegates to its
backends (ES range queries, MySQL lookups/scans, Dgraph filters),
expressed over the TPC-H-ish fixtures and oracle-checked per operator.

Cross-engine determinism: see registry.py module docstring. The
``_DSUM`` pattern (decimal-exact sums surfaced as doubles) appears in
both the Spark and DuckDB text of every double aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window as Wnd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import register_views
from ..functions.dedup import md5_int60
from ..registry import REGISTRY, register
from ..staging import source_tag, source_version, stage
from ..views import oracle_with_views as V


def _t(spark, sf_dir, name):
    register_views(spark, sf_dir)
    return spark.table(name)


def dsum(col, alias):
    """Deterministic double sum: exact decimal accumulate, double out."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast("decimal(18,6)")).cast("double").alias(alias)


def fpsum(expr: str, alias: str):
    """Deterministic double sum on the codegen fast path: 6-decimal
    FIXED-POINT LONG accumulate (exact for 2dp-factor products;
    round-then-sum == sum-then-round), double out. ~2x faster than the
    decimal(18,6) path, which falls off codegen onto java BigDecimal.
    Overflow headroom: see b14_agg_tpch_q1 docstring.

    The scaling avoids ROUND: Spark's round(double) allocates a
    java.math.BigDecimal per value (BigDecimal.valueOf half-up), which
    measured 6.3x slower end-to-end than the sign-aware half-away cast
    below on the 100x soak (3.70 s vs 0.59 s over 60M rows x 5
    measures) -- the ROUND allocations, not scan or shuffle, were
    b14's superlinear term. The cast is EXACT here, not approximate:
    every fpsum input is a product of <= 3 exact-<=2dp factors, so the
    true value m/1e6 has <= 6 decimals and |expr*1e6 - m| is bounded by
    the double ulp (< 2e-3 at the largest magnitudes used, vs the 0.5
    the truncation tolerates), hence trunc(expr*1e6 +/- 0.5) == m ==
    ROUND(expr*1e6) always -- verified mismatch-free per-row over the
    60M-row fixture for all seven measure shapes incl. negatives.
    fpsum_sql keeps ROUND on the DuckDB side; equality of the two
    texts is exactly the m-recovery argument above."""
    return _fp_scaled_sum(expr).alias(alias)


def _fp_long_sum(expr: str):
    """The raw fixed-point LONG accumulator behind fpsum -- exposed so
    a HAVING-style threshold can compare on the exact scaled integer
    (q > T  <=>  long > T*1e6; both recover the same m, see fpsum)
    and the final column can still be emitted bit-identically to
    fpsum via the same cast-divide."""
    return F.sum(
        F.expr(
            f"CAST(({expr}) * 1000000 + "
            f"IF(({expr}) >= 0, 0.5D, -0.5D) AS BIGINT)"
        )
    )


def _fp_scaled_sum(expr: str):
    """The ONE definition of the fixed-point accumulator Column (see
    fpsum's docstring for the exactness argument): every consumer
    (fpsum, b14's exact averages, b81's reused per-order sum) must
    accumulate identically or the averages stop matching the sums
    they divide."""
    return _fp_long_sum(expr).cast("double") / F.lit(1000000.0)


def fpsum_sql(expr: str, alias: str) -> str:
    """The DuckDB-side text of fpsum (must mirror it exactly)."""
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * 1000000, 0) AS BIGINT)) AS DOUBLE)"
        f" / 1000000.0 AS {alias}"
    )


# ---------------------------------------------------------------- scans


@register(
    "b01_scan_projection",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
    """,
)
def b01_scan_projection(spark, sf_dir):
    """B1/B5: pruned projection + pushed range filter. explain() must
    show ReadSchema with 5 columns and PushedFilters on l_shipdate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= "1999-01-01").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )


@register(
    "b06_filter_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND o_orderpriority LIKE '%URGENT'
      AND o_totalprice BETWEEN 1000 AND 50000
      AND o_custkey IS NOT NULL
    """,
)
def b06_filter_predicates(spark, sf_dir):
    """B6: IN / LIKE / BETWEEN / null-test predicate battery."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_orderpriority").like("%URGENT")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register(
    "b02_jsonl_scan",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def b02_jsonl_scan(spark, sf_dir):
    """B2: JSON-lines source with explicit schema (no driver-side
    inference scan). Round-trips documents through a json copy —
    the ES hits the reference decodes (A4, elastic.go:81) are exactly
    this shape."""
    docs = _t(spark, sf_dir, "documents")
    path = stage(
        "io",
        sf_dir,
        ("documents",),
        lambda p: docs.write.mode("overwrite").json(p),
        suffix="_docs_jsonl",
    )
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    return spark.read.schema(schema).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "b02_csv_scan",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def b02_csv_scan(spark, sf_dir):
    """B2: CSV source with header + explicit schema."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    # null/empty disambiguation pinned on BOTH sides: by default the
    # CSV reader maps empty fields to NULL, so a lang='' row would
    # round-trip as NULL and diverge from the parquet-reading oracle.
    # Writing nulls as \N and empties as a quoted "" keeps the two
    # distinct through the text format (probed: exact round-trip).
    path = stage(
        "io",
        sf_dir,
        ("documents",),
        lambda p: docs.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(p),
        suffix="_docs_csv",
    )
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", "\\N")
        .csv(path)
    )


@register(
    "b03_jdbc_scan",
    """
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               AS total_acctbal,
           MIN(c_custkey) AS min_key,
           MAX(c_custkey) AS max_key
    FROM customer
    GROUP BY c_nationkey
    """,
    defer=True,
    expedite=True,
)
def b03_jdbc_scan(spark, sf_dir):
    """B3: parallel JDBC scan against a real embedded database
    (reference mysql.go:59-82 — the SELECT-by-key-range extract; shard
    routing bulk/main.go:222-269). The customer fixture is staged once
    into Derby (content-keyed, sources/jdbc.stage_derby_table), then
    read back through ``spark.read.jdbc`` with 8 non-overlapping
    key-range predicates (the first carrying the NULL-key catch-all
    arm) — one JDBC connection-partition per predicate, the
    declarative form of the reference's hand-rolled two-shard router. The per-nation
    COUNT/SUM/MIN/MAX fingerprint against the parquet oracle proves
    complete, duplicate-free recovery of every row through the JDBC
    boundary (a dropped or double-scanned partition shifts counts and
    key extrema). Key bounds come from a 2-value metadata agg on the
    source, exactly the SHOW-like bounds probe the reference's router
    hard-codes."""
    from ..sources.jdbc import range_predicates, read_jdbc, stage_derby_table

    url = stage_derby_table(spark, sf_dir, "customer")
    lo, hi = (
        _t(spark, sf_dir, "customer")
        .agg(F.min("c_custkey"), F.max("c_custkey"))
        .first()
    )
    # Spark's JDBC writer quotes column identifiers, so the Derby-side
    # names are case-exact and must be quoted in partition predicates
    # (range_predicates' first fragment carries the NULL-key arm)
    preds = range_predicates('"c_custkey"', int(lo), int(hi), 8)
    cust = read_jdbc(
        spark,
        url,
        "customer",
        predicates=preds,
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_acctbal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


@register(
    "b02_orc_scan",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def b02_orc_scan(spark, sf_dir):
    """B2: ORC source -- the other columnar format Spark bundles a
    vectorized reader for. Round-trips documents through an ORC copy
    and reads it back (column pruning and predicate pushdown behave as
    with parquet); the oracle reads the identical rows from the parquet
    fixture."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = stage(
        "io",
        sf_dir,
        ("documents",),
        lambda p: docs.write.mode("overwrite").orc(p),
        suffix="_docs_orc",
    )
    return spark.read.orc(path).select("doc_id", "lang", "source", "n_chars")


@register(
    "b04_partitioned_sink",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def b04_partitioned_sink(spark, sf_dir):
    """B4: hive-partitioned parquet sink + partition-pruned read-back.
    The filter on the partition column must prune at file listing
    (PartitionFilters in explain, zero non-matching files opened) —
    the scan-side contract that makes 100 TB tables usable."""
    o = _t(spark, sf_dir, "orders")
    path = stage(
        "io",
        sf_dir,
        ("orders",),
        lambda p: o.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(p),
        suffix="_orders_part",
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
    )


# ---------------------------------------------------------------- joins


@register(
    "b07_join_inner",
    f"""
    SELECT c.c_mktsegment,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def b07_join_inner(spark, sf_dir):
    """B7: two equi-joins + hash agg (revenue per market segment).
    customer is broadcast; lineitem<->orders is the one real shuffle --
    deliberately kept a shuffle join (both sides are fact-sized at
    100 TB; broadcasting orders only pays at toy scale). Revenue sums
    as 6dp fixed-point longs (fpsum) to stay on codegen."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            fpsum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "b08_join_broadcast",
    """
    SELECT n.n_name, r.r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def b08_join_broadcast(spark, sf_dir):
    """B8: explicit broadcast of the dimension chain (nation, region) --
    a star-join with zero shuffles on the dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_bal"),
        )
    )


@register(
    "b09_join_outer",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def b09_join_outer(spark, sf_dir):
    """B9: left outer join preserving order-less customers (count 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "b10_join_semi",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def b10_join_semi(spark, sf_dir):
    """B10: left semi (EXISTS) -- parts ever shipped in bulk."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(
        li, p["p_partkey"] == li["l_partkey"], "left_semi"
    ).select("p_partkey", "p_name")


@register(
    "b11_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def b11_join_anti(spark, sf_dir):
    """B11: left anti (NOT EXISTS) -- customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "b12_join_range",
    """
    SELECT b.bucket_name, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM part p
    JOIN (VALUES ('low', 0.0, 925.0), ('mid', 925.0, 975.0),
                 ('high', 975.0, 10000.0)) b(bucket_name, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.bucket_name
    """,
)
def b12_join_range(spark, sf_dir):
    """B12: theta/range join (the reference's shard routing,
    mysql.go:22-37, is exactly this shape). The naive translation is a
    broadcast nested-loop join (every probe row compared against every
    interval); this engine plans the interval join as the binned
    EQUI-join instead -- identical results, and the plan survives both
    a 100x probe side and an interval table too large to compare
    row-by-row. b58_binned_range_join documents the rewrite itself;
    b12 is the operator surface, and it ships the scale-safe plan by
    default (plan contract: no BroadcastNestedLoopJoin)."""
    return b58_binned_range_join(spark, sf_dir)


@register(
    "b13_self_join",
    """
    SELECT a.l_orderkey, a.l_linenumber AS line_a, b.l_linenumber AS line_b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    """,
)
def b13_self_join(spark, sf_dir):
    """B13: self-join (same-order line pairs) -- the graph-hop shape.

    In-row pair explode (round 13, the c02 LSH pattern): the literal
    self-join either BUILT a 6M-row lineitem hash relation (the
    2-column projection estimates under the broadcast pin; 3.4s at
    sf1) or, past the threshold, shuffles the fact TWICE for an SMJ.
    Grouping the line numbers per order and exploding the ordered
    pairs in-row moves the fact through ONE narrow exchange and no
    join at all: 0.72s at sf1 (+0.08s at sf0.1 where the small build
    was nearly free, accepted). The strict value compare (not index
    compare) keeps pair multiplicity identical even under duplicate
    line numbers; group sizes are bounded by lines-per-order (<= 7),
    so collect_list cannot skew. Fixture contract: l_orderkey is NOT
    NULL -- a NULL key would form a group and emit pairs the oracle's
    equi-self-join drops (pinned in tests/test_fixture_contract.py,
    test_not_null_contract[lineitem.l_orderkey])."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lns")
    )
    return (
        grouped.select(
            "l_orderkey", "lns", F.posexplode("lns").alias("i", "line_a")
        )
        .select(
            "l_orderkey",
            "line_a",
            F.explode(F.expr("slice(lns, i + 2, size(lns))")).alias(
                "line_b"
            ),
        )
        .filter(F.col("line_a") < F.col("line_b"))
    )


# ----------------------------------------------------------- aggregates


@register(
    "b14_agg_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000, 0)
               AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
               * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           (CAST(SUM(CAST(ROUND(l_quantity * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0) / COUNT(l_quantity) AS avg_qty,
           (CAST(SUM(CAST(ROUND(l_discount * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def b14_agg_tpch_q1(spark, sf_dir):
    """B14: TPC-H Q1 shape -- the canonical partial+final hash agg.

    Determinism + speed: measures are summed as 6-decimal FIXED-POINT
    LONGS (exact for these 2dp-factor products; round-then-sum ==
    sum-then-round) instead of DECIMAL(18,6) -- Spark's decimal sum
    widens past 18 digits and falls off the codegen long fast path
    onto java BigDecimal (~2x slower end-to-end here). Overflow head-
    room: scaled values are ≤ ~1e11, so a long holds ~9e7 of them per
    (group, partition) partial-agg grain; at 100 TB widen the FINAL
    (tiny) reduce to decimal, keeping the hot partial path on longs. Averages are exact-sum / count (engine AVG
    over doubles is summation-order dependent)."""
    li = _t(spark, sf_dir, "lineitem")

    ssum = fpsum

    def savg(expr: str, alias: str):
        # exact-sum / count over the SHARED fixed-point accumulator
        # (see fpsum; one definition keeps averages matching the sums)
        return (_fp_scaled_sum(expr) / F.count(expr)).alias(alias)

    return (
        li.filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            ssum("l_quantity", "sum_qty"),
            ssum("l_extendedprice", "sum_base_price"),
            ssum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
            ssum(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"
            ),
            savg("l_quantity", "avg_qty"),
            savg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "b15_count_distinct",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def b15_count_distinct(spark, sf_dir):
    """B15: exact distinct aggregation (expand + two-phase agg)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def _hll_verdict(hll_col: str, exact_col: str, alias: str):
    """The sketch family's shared tolerance verdict: 1 iff the HLL
    estimate (rsd 1%) is within ``max(1, 5% of exact)`` of the exact
    distinct count. One definition for b15_approx_error_bound and
    b69_sketch_error_bound -- the two certified sketch rows must age
    the same way if the tolerance or rsd ever changes.

    Round 13: the verdict is a PROJECTION over separately-aggregated
    columns, no longer an in-agg expression mixing
    approx_count_distinct with countDistinct. Mixing them planned the
    16KB-per-group HLL buffers THROUGH the multi-distinct Expand
    pipeline (every countDistinct adds a replicated row-set and an
    agg stage, and the sketch buffers ride all of them): b69 measured
    57s at sf1 combined vs 4.0s with the exact arm (one Expand agg)
    and the sketch arm (one linear agg) computed separately and
    joined -- identical values, same tolerance arithmetic."""
    return (
        F.when(
            F.abs(F.col(hll_col) - F.col(exact_col))
            <= F.greatest(F.lit(1.0), F.col(exact_col) * 0.05),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias(alias)
    )


@register(
    "b15_approx_error_bound",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           1 AS within_bound
    FROM orders GROUP BY o_orderstatus
    """,
)
def b15_approx_error_bound(spark, sf_dir):
    """B15 approx: HLL sketch, certified hash-green -- the sketch
    ESTIMATE stays out of the output (it is engine-specific by
    construction), what's emitted is the exact distinct count plus a
    within-tolerance verdict computed in the same plan:
    ``|approx - exact| <= max(1, 5% of exact)`` at rsd 1% (a 5-sigma
    band -- HLL is order-independent and deterministic on fixed data,
    so the boolean can only flip if the sketch breaks, which is
    exactly when the driver hash should fail). The oracle replays the
    exact side and asserts the bound as the literal 1. At 100 TB the
    sketch arm replaces exact distinct wherever a ±2% answer is
    acceptable: one pass, fixed memory, mergeable. The two arms are
    aggregated separately and joined on the group key (see
    _hll_verdict: mixing them rode the HLL buffers through the
    distinct Expand pipeline; 19.2 -> 1.5 s at sf1). Fixture contract:
    o_orderstatus is NOT NULL -- the inner join on it would drop a NULL
    group the oracle's GROUP BY keeps (pinned in
    tests/test_fixture_contract.py,
    test_not_null_contract[orders.o_orderstatus])."""
    o = _t(spark, sf_dir, "orders")
    exact = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )
    hll = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("h_custkey")
    )
    return exact.join(hll, "o_orderstatus").select(
        "o_orderstatus",
        "n_customers",
        _hll_verdict("h_custkey", "n_customers", "within_bound"),
    )


@register(
    "b16_collect_set",
    """
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',')
             AS nations,
           COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
)
def b16_collect_set(spark, sf_dir):
    """B16: collect_set -> sorted list (set semantics made
    deterministic for comparison). Sorted NUMERICALLY, then rendered
    as one comma-joined string: the external comparator row-sorts
    with pandas and cannot hash array cells."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("c_nationkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "b17_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def b17_rollup(spark, sf_dir):
    """B17: rollup with GROUPING markers (subtotals + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "b17_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def b17_cube(spark, sf_dir):
    """B17: cube (all grouping-set combinations)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
    )


# ------------------------------------------------------- dedup & windows


@register(
    "b18_dedup_exact",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def b18_dedup_exact(spark, sf_dir):
    """B18: exact distinct on a column subset."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "b19_argmax_per_key",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
)
def b19_argmax_per_key(spark, sf_dir):
    """B19: whole-row argmax per key (biggest order per customer),
    deterministic tie-break on the unique key."""
    from ..pipeline.edges import argmax_row_per_edge

    o = _t(spark, sf_dir, "orders")
    return argmax_row_per_edge(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_orderkey",
        keys=("o_custkey",),
        score="o_totalprice",
    )


@register(
    "b20_ranking",
    """
    SELECT s_suppkey, s_name,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(3) OVER w AS INT) AS tile
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def b20_ranking(spark, sf_dir):
    """B20: rank / dense_rank / ntile over a total order."""
    s = _t(spark, sf_dir, "supplier")
    w = Wnd.orderBy(F.desc("s_acctbal"), F.col("s_suppkey"))
    return s.select(
        "s_suppkey",
        "s_name",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(3).over(w).cast("int").alias("tile"),
    )


@register(
    "b20_distribution_ranks",
    """
    SELECT s_suppkey, s_nationkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def b20_distribution_ranks(spark, sf_dir):
    """B20 (distribution form): percent_rank / cume_dist per nation --
    exact integer rank and count with ONE IEEE division each, so the
    doubles hash-match cross-engine. Partitioned window (parallel per
    nation), not a global order."""
    s = _t(spark, sf_dir, "supplier")
    w = Wnd.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "b21_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def b21_lag_lead(spark, sf_dir):
    """B21: analytic lag/lead/first over each customer's order history."""
    o = _t(spark, sf_dir, "orders")
    w = Wnd.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


@register(
    "b22_window_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def b22_window_frame(spark, sf_dir):
    """B22: cumulative frame aggregate (running customer spend);
    decimal-exact so incremental vs. segment-tree evaluation order
    cannot flip the hash."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Wnd.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Wnd.unboundedPreceding, Wnd.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


# ------------------------------------------------------ sort / set ops


@register(
    "b24_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def b24_topk(spark, sf_dir):
    """B23/B24: order-by-limit -> TakeOrderedAndProject (per-partition
    top-k then merge; no global sort at scale)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(25)


@register(
    "b22_time_range_frame",
    """
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DECIMAL(18,6))
                AS DOUBLE) AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def b22_time_range_frame(spark, sf_dir):
    """B22 (time form): rolling 1-hour per-user metrics via a RANGE
    frame over event time -- the frame every rolling-rate/limit job at
    scale needs (ROWS frames count rows, RANGE frames honor the clock).
    Ordered by epoch micros on both engines so frame boundaries and
    equal-timestamp peer groups are bit-identical."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Wnd.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("sum_last_hour"),
    )


@register(
    "b46_funnel_steps",
    """
    SELECT user_id,
           epoch_us(t_view) AS t_view_us,
           epoch_us(t_click) AS t_click_us,
           epoch_us(t_purchase) AS t_purchase_us,
           (t_click IS NOT NULL AND t_click > t_view) AS reached_click,
           (t_click IS NOT NULL AND t_click > t_view
            AND t_purchase IS NOT NULL AND t_purchase > t_click)
               AS reached_purchase
    FROM (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' AND ts > (
                   SELECT MIN(e2.ts) FROM events e2
                   WHERE e2.user_id = e.user_id AND e2.event_type = 'view')
                 THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events e GROUP BY user_id
    ) WHERE t_view IS NOT NULL
    """,
)
def b46_funnel_steps(spark, sf_dir):
    """B46: ordered funnel (view -> click -> purchase) per user in ONE
    hash agg -- earliest view, earliest click AFTER that view, earliest
    purchase, plus step-reached flags. The correlated-looking "click
    after first view" is a conditional MIN over a per-user window
    column, so the whole funnel is a single shuffle keyed by user (no
    self-joins, no per-step passes -- the shape sequence analytics
    needs at 100 TB event volumes).

    NOTE on t_purchase semantics: the FLAG demands the full ordering,
    while t_purchase itself is the user's earliest purchase overall."""
    ev = _t(spark, sf_dir, "events")
    w = Wnd.partitionBy("user_id")
    first_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    agg = (
        ev.withColumn("first_view", first_view)
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("t_purchase"),
        )
        .filter(F.col("t_view").isNotNull())
    )
    reached_click = F.col("t_click").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    return agg.select(
        "user_id",
        F.unix_micros("t_view").alias("t_view_us"),
        F.unix_micros("t_click").alias("t_click_us"),
        F.unix_micros("t_purchase").alias("t_purchase_us"),
        reached_click.alias("reached_click"),
        (
            reached_click
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") > F.col("t_click"))
        ).alias("reached_purchase"),
    )


# ONE SQL text, executed VERBATIM by both engines (Spark spark.sql and
# DuckDB): the ANSI-only subset both dialects share -- joins, agg,
# HAVING, CASE, decimal casts, timestamp literal, ORDER BY + LIMIT.
_ANSI_ROUNDTRIP_SQL = """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price,
           COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS n_returned
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o.o_orderpriority
    HAVING COUNT(*) > 10
    ORDER BY o.o_orderpriority
    LIMIT 5
"""


@register("b47_ansi_sql_roundtrip", _ANSI_ROUNDTRIP_SQL)
def b47_ansi_sql_roundtrip(spark, sf_dir):
    """B47: the SQL front-end is first-class -- this query is the SAME
    string the oracle runs, submitted through spark.sql() against the
    registered views (the engine's declared ANSI surface, not a
    DataFrame translation of it)."""
    register_views(spark, sf_dir)
    return spark.sql(_ANSI_ROUNDTRIP_SQL)


@register(
    "b23_sort_pagination",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def b23_sort_pagination(spark, sf_dir):
    """B23: global total-order sort with offset pagination (unique
    tiebreak column makes the page deterministic). Range-partitioned
    sort at scale; for repeated paging prefer keyset predicates over
    growing offsets."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(100)
        .limit(50)
    )


@register(
    "b25_set_ops",
    """
    SELECT n_nationkey, 'both' AS side FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    ) i
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS side FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
    ) e
    """,
)
def b25_set_ops(spark, sf_dir):
    """B25/B26: intersect / except / union all over nation keys."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    both = c.intersect(s).withColumn("side", F.lit("both"))
    only = c.subtract(s).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only)


# -------------------------------------------------------- scalar suites


@register(
    "b27_string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS upper_name,
           lower(p_brand) AS lower_brand,
           substring(p_name, 1, 4) AS prefix,
           length(p_name) AS name_len,
           trim(concat(' ', p_name, ' ')) AS trimmed,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           replace(p_type, 'ECONOMY', 'ECO') AS type_short,
           split_part(p_name, ' ', 1) AS first_token
    FROM part
    """,
)
def b27_string_funcs(spark, sf_dir):
    """B27: scalar string battery (A18's formatting machinery)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.lower("p_brand").alias("lower_brand"),
        F.substring("p_name", 1, 4).alias("prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias(
            "type_short"
        ),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_token"),
    )


@register(
    "b28_date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
               AS days_since_epoch_start,
           CAST(strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS STRING)
               AS due_day
    FROM orders
    """,
)
def b28_date_funcs(spark, sf_dir):
    """B28: date/time battery (A5/A24 closure): extract, trunc, diff,
    interval arithmetic."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.unix_micros(F.date_trunc("month", "o_orderdate")).alias(
            "month_start_us"
        ),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_since_epoch_start"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd"
        ).alias("due_day"),
    )


@register(
    "b29_math_funcs",
    """
    SELECT c_custkey,
           round(c_acctbal, 1) AS bal_round,
           abs(c_acctbal) AS bal_abs,
           greatest(c_acctbal, 0.0) AS bal_pos,
           least(c_acctbal, 0.0) AS bal_neg,
           CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
           CAST(ceil(c_acctbal) AS BIGINT) AS bal_ceil,
           c_acctbal * 2 + 1 AS bal_affine,
           CAST(c_custkey % 7 AS BIGINT) AS key_mod
    FROM customer
    """,
)
def b29_math_funcs(spark, sf_dir):
    """B29: arithmetic battery."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round("c_acctbal", 1).alias("bal_round"),
        F.abs("c_acctbal").alias("bal_abs"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_pos"),
        F.least("c_acctbal", F.lit(0.0)).alias("bal_neg"),
        F.floor("c_acctbal").cast("bigint").alias("bal_floor"),
        F.ceil("c_acctbal").cast("bigint").alias("bal_ceil"),
        (F.col("c_acctbal") * 2 + 1).alias("bal_affine"),
        (F.col("c_custkey") % 7).cast("bigint").alias("key_mod"),
    )


@register(
    "b30_case_coalesce",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 30000 THEN 'large'
                WHEN o_totalprice > 10000 THEN 'medium'
                ELSE 'small' END AS size_class,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_norm
    FROM orders
    """,
)
def b30_case_coalesce(spark, sf_dir):
    """B30: CASE WHEN / coalesce / nullif conditional battery (A21)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 30000, "large")
        .when(F.col("o_totalprice") > 10000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_norm"),
    )


@register(
    "b31_array_funcs",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           list_sort(list_distinct(string_split(text, ' ')))[1] AS min_token
    FROM documents
    """,
)
def b31_array_funcs(spark, sf_dir):
    """B31: array battery -- split/size/element_at/contains/sort."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.element_at(F.array_sort(F.array_distinct(toks)), 1).alias("min_token"),
    )


@register(
    "b32_map_funcs",
    V("""
    SELECT team_id, n_members FROM (
      SELECT team_id, COUNT(*) AS n_members FROM team_member GROUP BY team_id
    ) t
    """),
)
def b32_map_funcs(spark, sf_dir):
    """B32: map construction + lookup (teams map, mysql.go:60). Spark
    builds a MapType and reads it back via map_* functions; the oracle
    checks the observable result relationally."""
    register_views(spark, sf_dir)
    tm = spark.table("team_member")
    as_map = tm.groupBy("team_id").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("person_id", F.lit(1).alias("one")))
            )
        ).alias("members_map")
    )
    return as_map.select(
        "team_id",
        F.size(F.map_keys("members_map")).cast("bigint").alias("n_members"),
    )


@register(
    "b33_json_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           concat('{"id":', CAST(event_id AS STRING), '}') AS back_to_json
    FROM events
    """,
)
def b33_json_funcs(spark, sf_dir):
    """B33: JSON battery -- extraction (A4) + construction (A17's
    SetJson analog)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.concat(
            F.lit('{"id":'), F.col("event_id").cast("string"), F.lit("}")
        ).alias("back_to_json"),
    )


@register(
    "b34_casts",
    """
    SELECT c_custkey,
           CAST(c_custkey AS STRING) AS key_str,
           CAST(CAST(c_custkey AS STRING) AS BIGINT) AS key_roundtrip,
           CAST(floor(c_acctbal) AS BIGINT) AS bal_floor_int,
           CAST(c_custkey % 2 = 0 AS BOOLEAN) AS is_even,
           CAST(CAST(c_custkey % 2 = 0 AS BOOLEAN) AS STRING) AS bool_str,
           CAST('2024-03-15 12:30:00' AS TIMESTAMP) IS NOT NULL AS ts_parsed
    FROM customer
    """,
)
def b34_casts(spark, sf_dir):
    """B34: cast battery. Note CAST(double AS INT): Spark truncates and
    DuckDB rounds, so the oracle-checked column uses values where both
    agree is NOT guaranteed -- we therefore cast through floor."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_custkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.floor("c_acctbal").cast("bigint").alias("bal_floor_int"),
        (F.col("c_custkey") % 2 == 0).cast("boolean").alias("is_even"),
        (F.col("c_custkey") % 2 == 0).cast("boolean").cast("string").alias(
            "bool_str"
        ),
        F.lit("2024-03-15 12:30:00").cast("timestamp").isNotNull().alias(
            "ts_parsed"
        ),
    )


@register(
    "b29_unpivot",
    """
    SELECT o_orderkey, 'o_totalprice' AS measure, o_totalprice AS value
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def b29_unpivot(spark, sf_dir):
    """Unpivot/melt (pivot's dual): wide measures -> long (measure,
    value) rows via the native unpivot operator -- a narrow transform
    (no shuffle), vs. the oracle's UNION-of-selects which scans twice."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_custkey").cast("double").alias("o_custkey"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "b29_pivot",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE)
               AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE)
               AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def b29_pivot(spark, sf_dir):
    """Pivot (B14 closure): linestatus columns per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


# ------------------------------------------------------------- UDF tier


@register(
    "b41_pandas_udf",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * 1.0825 AS taxed_price
    FROM lineitem
    """,
)
def b41_pandas_udf(spark, sf_dir):
    """B41: vectorized (Arrow) pandas UDF. The arithmetic is pure IEEE
    double ops so the oracle can reproduce it exactly; the point of the
    entry is the Arrow-batched execution path (10-100x over row UDFs).
    """
    def _taxed(price, discount):
        return price * (1 - discount) * 1.0825

    taxed = F.pandas_udf(_taxed, T.DoubleType())

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        taxed("l_extendedprice", "l_discount").alias("taxed_price"),
    )


@register(
    "b42_apply_in_pandas",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def b42_apply_in_pandas(spark, sf_dir):
    """B42: grouped-map pandas UDAF (applyInPandas): per-customer top-3
    orders computed in pandas, oracle-checked against the window form.
    Demonstrates the custom-stateful-aggregation escape hatch."""
    import pandas as pd

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        ).head(3)
        pdf = pdf.assign(rn=range(1, len(pdf) + 1))
        return pdf[["o_custkey", "o_orderkey", "o_totalprice", "rn"]]

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return o.groupBy("o_custkey").applyInPandas(
        top3, schema="o_custkey long, o_orderkey long, o_totalprice double, rn int"
    )


@register(
    "b43_udtf_explode",
    """
    SELECT o_orderkey, CAST(gs.i AS INT) AS repeat_idx
    FROM orders, generate_series(1, 3) gs(i)
    WHERE o_orderstatus = 'P'
    """,
)
def b43_udtf_explode(spark, sf_dir):
    """B43: table-function row expansion (A9's generalization): each
    input row yields N output rows via explode(sequence)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return o.select(
        "o_orderkey",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("repeat_idx"),
    ).select("o_orderkey", F.col("repeat_idx").cast("int").alias("repeat_idx"))


@register(
    "b44_asof_join",
    """
    WITH ev AS (
      SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      FROM events
    ),
    trades AS (
      SELECT user_id, ts_us, event_id, value AS trade_value
      FROM ev WHERE event_type = 'click'
    ),
    quotes AS (
      SELECT user_id, ts_us, MAX(value) AS quote_value
      FROM ev WHERE event_type = 'view' GROUP BY user_id, ts_us
    )
    SELECT t.user_id, t.ts_us, t.event_id, t.trade_value,
           q.quote_value, q.ts_us AS quote_ts_us
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts_us >= q.ts_us
    """,
)
def b44_asof_join(spark, sf_dir):
    """B44: as-of (point-in-time) join — every 'click' event picks up
    the most recent preceding 'view' value per user. Implemented as the
    linear union-and-carry-forward pattern (one shuffle + per-key sort),
    never the quadratic range-join expansion; the oracle is DuckDB's
    native ASOF LEFT JOIN."""
    from ..functions.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    trades = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id", F.col("value").alias("trade_value")
    )
    # the oracle pre-aggregates quotes to MAX(value) per (user, ts);
    # Spark folds that dedup into the carry-forward window instead
    # (right_order=["quote_value"]: the max-value view row sorts last
    # among equal-ts duplicates, so it is the one carried -- provably
    # the same row the GROUP BY produced, both its fields being
    # (ts, MAX(value))). Drops the pre-agg's full exchange of the view
    # stream: the as-of join is back to its designed ONE exchange +
    # one per-key sort for the whole query (round 12).
    quotes = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts_us", F.col("value").alias("quote_value")
    )
    return asof_join(
        trades,
        quotes,
        on="user_id",
        ts="ts_us",
        right_cols=["quote_value"],
        matched_ts="quote_ts_us",
        right_order=["quote_value"],
    )


@register(
    "b45_sessionize",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
                  OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id, ts_us, event_id,
             SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM gaps
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM sess GROUP BY user_id, session_seq
    """,
)
def b45_sessionize(spark, sf_dir):
    """B45: batch sessionization — the classic gap-and-island pattern
    (lag -> session-start flag -> running sum -> per-session agg), the
    batch twin of s03's session_window. One shuffle keyed by user; the
    windows and the final agg reuse the same partitioning (no second
    exchange until the session rollup). 30-minute gap."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Wnd.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    is_start = F.when(
        F.lag("ts_us").over(w).isNull()
        | ((F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("is_start", is_start)
        .withColumn(
            "session_seq",
            F.sum("is_start")
            .over(w.rowsBetween(Wnd.unboundedPreceding, Wnd.currentRow))
            .cast("bigint"),
        )
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@register(
    "b48_scd2_intervals",
    """
    SELECT user_id,
           value,
           epoch_us(ts) AS eff_from_us,
           LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS eff_to_us,
           LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL AS is_current
    FROM events
    """,
)
def b48_scd2_intervals(spark, sf_dir):
    """B48: slowly-changing-dimension (SCD type 2) history build --
    each per-user change event becomes a validity interval
    [eff_from, eff_to), closed by the NEXT change (LEAD) and open
    (is_current) on the last. This is the warehouse-side twin of A13's
    merge-with-existing: instead of keeping only the winning row, keep
    every version with its validity window. One shuffle keyed by
    user_id; LEAD and the projection share the same window, so a
    100 TB dimension builds in a single exchange + sort, no self-join
    (the naive formulation joins the table to itself on 'next change')."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Wnd.partitionBy("user_id").orderBy("ts_us", "event_id")
    nxt = F.lead("ts_us").over(w)
    return ev.select(
        "user_id",
        "value",
        F.col("ts_us").alias("eff_from_us"),
        nxt.alias("eff_to_us"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "b49_merge_upsert",
    """
    WITH base AS (
      SELECT c_custkey AS k, c_name AS name, c_acctbal AS acctbal
      FROM customer
    ),
    upd AS (
      SELECT c_custkey AS k, concat('upd_', c_name) AS name,
             c_acctbal + 100.0 AS acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000 AS k, concat('new_', c_name) AS name,
             0.0 AS acctbal
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT COALESCE(u.k, b.k) AS k,
           COALESCE(u.name, b.name) AS name,
           COALESCE(u.acctbal, b.acctbal) AS acctbal,
           CASE WHEN b.k IS NULL THEN 'insert'
                WHEN u.k IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN upd u ON b.k = u.k
    """,
)
def b49_merge_upsert(spark, sf_dir):
    """B49: SCD type-1 MERGE (upsert) as one full outer join --
    matched rows take the update's values, unmatched updates insert,
    unmatched base rows pass through, with the MERGE action tagged.
    This is the batch form of the reference's find-or-create +
    conditional-update live path (cmd/etl/etl.go:67-111) and the
    engine-owned equivalent of lakehouse MERGE INTO: ONE shuffle keyed
    by the merge key at any scale (never per-row lookups). The update
    set is derived from the same fixture so the query is self-contained
    and oracle-checkable."""
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    upd = _merge_upsert_feed(cust)
    b, u = base.alias("b"), upd.alias("u")
    merged = b.join(u, F.col("b.k") == F.col("u.k"), "full_outer")
    return _merge_upsert_output(merged)


def _merge_upsert_feed(cust):
    """b49's deterministic update feed (updates + inserts), shared by
    the shuffle lane and its bucketed twin."""
    return (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.concat(F.lit("upd_"), F.col("c_name")).alias("name"),
            (F.col("c_acctbal") + 100.0).alias("acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 10000000).alias("k"),
                F.concat(F.lit("new_"), F.col("c_name")).alias("name"),
                F.lit(0.0).alias("acctbal"),
            )
        )
    )


def _merge_upsert_output(merged):
    """b49's merged-row projection, shared by both lanes."""
    return merged.select(
        F.coalesce(F.col("u.k"), F.col("b.k")).alias("k"),
        F.coalesce(F.col("u.name"), F.col("b.name")).alias("name"),
        F.coalesce(F.col("u.acctbal"), F.col("b.acctbal")).alias("acctbal"),
        F.when(F.col("b.k").isNull(), F.lit("insert"))
        .when(F.col("u.k").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )


@register(
    "b49_merge_upsert_bucketed",
    REGISTRY["b49_merge_upsert"].oracle,
    defer=True,
)
def b49_merge_upsert_bucketed(spark, sf_dir):
    """b49's layout twin: the MERGE base (the maintained table a
    nightly pipeline upserts into, 100 TB-side) lives bucketed+sorted
    by the merge key, so the recurring full-outer merge re-shuffles
    ONLY the update feed -- one Exchange sized O(delta), zero exchange
    and zero network on the base (the shuffle the plain lane pays over
    the whole base every night moves to ingest, once). Same values as
    b49_merge_upsert (same oracle); plan pinned in
    tests/test_plan_shapes.py::test_merge_lane_bucketed_twin_contracts."""
    from ..sources.bucketed import bucketed_table

    base = bucketed_table(
        spark,
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        ),
        f"bkt_merge_base_{source_tag(sf_dir)}",
        "k",
        n_buckets=16,
        version=source_version(sf_dir, "customer"),
    )
    upd = _merge_upsert_feed(_t(spark, sf_dir, "customer"))
    b, u = base.alias("b"), upd.alias("u")
    # merge hint: pins the bucket-local SMJ against estimate-driven
    # strategy flips (the b07-twin regression; full outer can also
    # plan as a shuffled-hash join, which PLAN_AUDIT forbids)
    merged = b.join(u.hint("merge"), F.col("b.k") == F.col("u.k"), "full_outer")
    return _merge_upsert_output(merged)


def _bucketed_join_inputs(spark, sf_dir):
    """Shared by the b50 query and its plan contract: orders and
    customer bucketed+sorted by custkey into matching bucket counts."""
    from ..sources.bucketed import bucketed_table

    tag = source_tag(sf_dir)

    orders = bucketed_table(
        spark,
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        f"bkt_orders_{tag}",
        "o_custkey",
        version=source_version(sf_dir, "orders"),
    )
    cust = bucketed_table(
        spark,
        _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        f"bkt_customer_{tag}",
        "c_custkey",
        version=source_version(sf_dir, "customer"),
    )
    return orders, cust


@register(
    "b50_bucketed_join",
    """
    SELECT c.c_nationkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def b50_bucketed_join(spark, sf_dir):
    """B50: co-located (bucketed) join -- both sides pre-hashed and
    sorted by the join key at write time, so the equi-join runs with
    ZERO exchange and zero sort (contract-tested in test_plan_shapes):
    the layout answer for a recurring 100 TB fact-fact join. Values are
    identical to the plain shuffle join, which is what the oracle
    checks."""
    orders, cust = _bucketed_join_inputs(spark, sf_dir)
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


def _bucketed_orderkey_facts(spark, sf_dir):
    """ONE bucketed+sorted-by-orderkey copy of each fact table, shared
    by every orderkey-equi-join bucketed lane (b07_join_inner_bucketed,
    b87_tpch_q21_bucketed): the tables carry the UNION of the lanes'
    columns, and parquet column pruning keeps each query's read to its
    own subset — one ingest amortizes across every recurring query on
    the layout, which is how a real warehouse maintains it."""
    from ..sources.bucketed import bucketed_table

    tag = source_tag(sf_dir)
    li = bucketed_table(
        spark,
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_suppkey",
            "l_extendedprice",
            "l_discount",
            "l_shipdate",
        ),
        f"bkt_lineitem_ok_{tag}",
        "l_orderkey",
        n_buckets=32,
        version=source_version(sf_dir, "lineitem"),
    )
    o = bucketed_table(
        spark,
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
        ),
        f"bkt_orders_ok_{tag}",
        "o_orderkey",
        n_buckets=32,
        version=source_version(sf_dir, "orders"),
    )
    return li, o


@register(
    "b07_join_inner_bucketed",
    f"""
    SELECT c.c_mktsegment,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    defer=True,
)
def b07_join_inner_bucketed(spark, sf_dir):
    """B7 bucketed lane: byte-identical result to b07_join_inner, but
    lineitem and orders are materialized bucketed+sorted by orderkey
    (32 buckets each side), so the fact-fact equi-join plans with ZERO
    exchanges (SelectedBucketsCount 32/32) -- the shuffle moves to
    ingest time, once, instead of every query. This is the measured
    remedy for the engine's only above-decade scale ratio (b07 at 36x
    on 100x data, SCALE.md): locally the gain is modest because the
    shuffle is in-memory, but on a 1000-executor cluster the elided
    exchange is the network-bound term. Registered as a headline twin
    so every BENCH/SCALE snapshot records both lanes side by side."""
    li, o = _bucketed_orderkey_facts(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    return (
        # merge hint: the fact-fact join MUST stay the bucket-local
        # sort-merge join. Without it, Catalyst's pruned-size estimate
        # of the shared (wider) bucketed orders table can drop under
        # the broadcast threshold and flip the plan to BROADCASTING a
        # fact side -- measured 6x slower at 100x locally (8.4 s vs
        # 1.4 s) and an executor-OOM plan on a real cluster. The hint
        # declares the layout's intent; on bucketed inputs the SMJ is
        # zero-exchange and zero-sort.
        li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            fpsum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "b51_tpch_q3",
    f"""
    SELECT l.l_orderkey,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           epoch_us(o.o_orderdate) AS o_orderdate_us,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY 2 DESC, l.l_orderkey
    LIMIT 10
    """,
)
def b51_tpch_q3(spark, sf_dir):
    """B51: TPC-H Q3 shape (shipping-priority top-N) -- the classic
    3-table join + agg + top-k. Scale plan (r13): revenue is
    pre-aggregated per l_orderkey BELOW the join (guide 2.3 "aggregate
    before you shuffle") -- the map-side partials collapse the
    orderkey-clustered lineitem rows, so the join moves one narrow row
    per shipped-late order instead of one per lineitem; the join
    output is then already one row per group (o_orderkey is the
    orders PK; o_orderdate/o_orderpriority are functions of it, the
    same uniqueness contract the oracle's GROUP BY rests on), so no
    second aggregate is needed and the final ORDER BY ... LIMIT
    compiles straight to TakeOrderedAndProject (per-partition heaps).
    The r12 join-then-agg form also let the size estimator broadcast
    the FILTERED LINEITEM (the bigger side) at 10x sf; the pre-agg is
    measured -47% there (2.95 -> 1.55 s) and -6% at sf0.1, rows
    identical at both scales. l_orderkey breaks revenue ties so the
    top-10 is deterministic across engines."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    lrev = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(fpsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(lrev, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "b52_tpch_q5",
    f"""
    SELECT n.n_name,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
         AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def b52_tpch_q5(spark, sf_dir):
    """B52: TPC-H Q5 shape (local-supplier volume) -- the 6-table join
    with the region/nation dimension chain. Scale plan: nation/region
    (and supplier at this cardinality) broadcast; the
    c_nationkey = s_nationkey condition rides the supplier join as a
    non-equi residual. Catalyst reorders the dimension filters ahead
    of the fact joins (r_name prunes nations before any fact row
    moves).

    Join order (round 13): lineitem leads as the STREAMED probe side.
    The previous c-o-l order made (customer JOIN orders) the streamed
    side of the lineitem join, and because the 4-column lineitem
    projection estimates under the 64MB broadcast pin, the planner
    BUILT the whole fact table as a hash relation (single-threaded
    ~6M-row broadcast build at sf1: 3.80s) and streamed the small
    side. With lineitem leading, every build side is genuinely small
    (filtered orders, customer, supplier, nation, region) and the fact
    streams through the BHJ chain once: 0.54s at sf1, 0.25s at sf0.1,
    rows identical (inner joins commute). Above the broadcast
    threshold the same order degrades to SMJ on the join keys, which
    is the correct fallback at scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, c["c_custkey"] == F.col("o_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == s["s_suppkey"])
            & (F.col("c_nationkey") == s["s_nationkey"]),
        )
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(fpsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


@register(
    "b53_stat_aggs",
    """
    WITH ps AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                  AS DOUBLE) AS sq2,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS sp2,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE) AS sqp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sq2 - sq * sq) / (n * (n - 1)), 6) AS var_qty,
           ROUND(sqrt((n * sq2 - sq * sq) / (n * (n - 1))), 6)
             AS stddev_qty,
           ROUND((n * sqp - sq * sp)
                 / (sqrt(n * sq2 - sq * sq) * sqrt(n * sp2 - sp * sp)),
                 6) AS corr_qty_price
    FROM ps
    """,
)
def b53_stat_aggs(spark, sf_dir):
    """B53: statistical aggregates (sample variance / stddev /
    Pearson correlation) computed from EXACT power sums -- the
    deterministic form of Spark's var_samp/stddev/corr built-ins,
    whose float accumulation is partition-order-dependent. The five
    power sums are decimal-exact (2dp inputs -> 4dp products), so
    both engines feed bit-identical doubles into the same closed-form
    expression; sqrt is IEEE-correctly-rounded, so the results match
    to the bit before the defensive 6dp round. One map-side-combinable
    hash agg at any scale -- the same single-pass shape the built-ins
    use, with none of their nondeterminism."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", "sq"),
        dsum("l_extendedprice", "sp"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sq2"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("sp2"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("sqp"),
    )
    n, sq, sp = F.col("n"), F.col("sq"), F.col("sp")
    sq2, sp2, sqp = F.col("sq2"), F.col("sp2"), F.col("sqp")
    return ps.select(
        "l_returnflag",
        "n",
        F.round((n * sq2 - sq * sq) / (n * (n - 1)), 6).alias("var_qty"),
        F.round(F.sqrt((n * sq2 - sq * sq) / (n * (n - 1))), 6).alias(
            "stddev_qty"
        ),
        F.round(
            (n * sqp - sq * sp)
            / (F.sqrt(n * sq2 - sq * sq) * F.sqrt(n * sp2 - sp * sp)),
            6,
        ).alias("corr_qty_price"),
    )


_EXISTS_SQL = """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
          AND o.o_totalprice < 1000
    )
"""


@register("b54_exists_subquery", _EXISTS_SQL)
def b54_exists_subquery(spark, sf_dir):
    """B54: correlated EXISTS / NOT EXISTS, submitted as verbatim ANSI
    SQL (same string both engines). Catalyst decorrelates both
    predicates into one left-semi and one left-anti join keyed on
    o_custkey -- point-lookup semantics executed as two set joins, the
    same plan shape a hand-written a06/b11 pair produces. At 100 TB
    both subqueries shuffle once on the correlation key; no per-row
    re-execution ever happens."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
    SELECT n.n_name,
           (SELECT COUNT(*) FROM supplier s
            WHERE s.s_nationkey = n.n_nationkey) AS n_suppliers,
           (SELECT COUNT(*) FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
              AND c.c_acctbal > 0) AS n_positive_customers
    FROM nation n
"""


@register("b55_scalar_subquery", _SCALAR_SUBQ_SQL)
def b55_scalar_subquery(spark, sf_dir):
    """B55: correlated SCALAR subqueries in the projection, verbatim
    ANSI SQL. Catalyst rewrites each into a grouped aggregate joined
    back on the correlation key (RewriteCorrelatedScalarSubquery) --
    per-row COUNT(*) lookups become two hash aggs + left joins, the
    reference's MySQL COUNT endpoint (mysql.go:18) as set algebra."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


_FILTERED_AGG_SQL = """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_quantity >= 30) AS n_bulk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                FILTER (WHERE l_quantity >= 30) AS DOUBLE) AS bulk_price
    FROM lineitem
    GROUP BY l_returnflag
"""


@register("b56_filtered_agg", _FILTERED_AGG_SQL)
def b56_filtered_agg(spark, sf_dir):
    """B56: FILTER-clause aggregates, verbatim ANSI SQL -- several
    differently-conditioned aggregates in ONE pass over the fact table
    (the alternative is one scan per condition or a pivot). Still a
    plain map-side-combinable hash agg; the filters are per-row
    predicates fused into the aggregate update."""
    register_views(spark, sf_dir)
    return spark.sql(_FILTERED_AGG_SQL)


@register(
    "b57_string_agg",
    """
    SELECT n.n_name,
           array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), ',')
             AS segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def b57_string_agg(spark, sf_dir):
    """B57: deterministic string aggregation (LISTAGG/STRING_AGG
    surface): collect_set -> sort -> join, so the emitted string is
    independent of partitioning and arrival order -- the only safe
    listagg form in ANY distributed engine (an unordered STRING_AGG
    hash-compares only by luck). One hash agg keyed by nation."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments")
        )
    )


@register(
    "b58_binned_range_join",
    """
    SELECT b.bucket_name, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM part p
    JOIN (VALUES ('low', 0.0, 925.0), ('mid', 925.0, 975.0),
                 ('high', 975.0, 10000.0)) b(bucket_name, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.bucket_name
    """,
)
def b58_binned_range_join(spark, sf_dir):
    """B12's 100 TB form: the interval join rewritten as an EQUI-join.
    Each interval explodes to the fixed-width bins it overlaps; each
    probe row computes its bin; the join key is the bin and the
    original range predicate survives as a residual filter. Result is
    identical to b12 (same oracle text), but the plan is a hash join --
    a nested-loop range join compares every row against every interval
    (broadcast saves it only while the interval table is tiny), while
    the binned form scales to millions of intervals: work is
    |probe| + sum(interval spans / bin width), all hash-partitioned.
    The plan contract pins no-nested-loop."""
    W = 100
    p = _t(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("low", 0.0, 925.0), ("mid", 925.0, 975.0), ("high", 975.0, 10000.0)],
        schema="bucket_name string, lo double, hi double",
    )
    bins = buckets.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / W).cast("int"),
                (F.ceil(F.col("hi") / W) - 1).cast("int"),
            )
        ),
    )
    probe = p.withColumn(
        "bin", F.floor(F.col("p_retailprice") / W).cast("int")
    )
    return (
        probe.join(F.broadcast(bins), "bin")
        .filter(
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi"))
        )
        .groupBy("bucket_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("p_retailprice", "total_price"),
        )
    )


@register(
    "b59_quantile_error_bound",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS exact_p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
           1 AS p50_within, 1 AS p95_within
    FROM lineitem GROUP BY l_returnflag
    """,
)
def b59_quantile_error_bound(spark, sf_dir):
    """B59: approximate percentiles (Greenwald-Khanna sketch via
    percentile_approx, accuracy 10000), certified hash-green. The
    sketch VALUE stays out of the output (GK merge order across
    partitions can jitter the returned element); what's emitted per
    group is the exact percentile (type-7 interpolation, 4-dp round
    on both sides -- the c06 convention) plus a rank-error verdict
    computed in the same plan: the GK invariant guarantees the
    returned element's rank r satisfies |r - q*n| <= n/accuracy
    REGARDLESS of merge order, so with slack 2n/accuracy + 1 the
    boolean is merge-schedule-invariant and only flips if the sketch
    breaks. Rank is bracketed as [count(<v)+1, count(<=v)] so ties
    cannot fake a violation. The oracle replays the exact side and
    asserts the bound as the literal 1. At 100 TB the sketch merges
    map-side -- one pass, bounded memory, no sort -- which is the
    whole point vs the exact form's full shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    sketch = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 4).alias(
            "exact_p50"
        ),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias(
            "exact_p95"
        ),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("ap95"),
    )

    def within(q: float, ap: str):
        # rank interval of the sketch's answer vs target rank q*n,
        # slack = 2n/accuracy + 1 (2x the GK bound + one-rank tie slop)
        lo = F.col(f"r_lt_{ap}") + 1  # lowest rank of value ap
        hi = F.col(f"r_le_{ap}")  # highest rank of value ap
        slack = F.col("n") * (2.0 / 10000.0) + 1.0
        target = F.col("n") * q
        return (
            F.when((lo <= target + slack) & (hi >= target - slack), 1)
            .otherwise(0)
            .cast("int")
        )

    ranked = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(sketch), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n"),
            F.first("exact_p50").alias("exact_p50"),
            F.first("exact_p95").alias("exact_p95"),
            *[
                F.sum(
                    F.when(F.col("l_extendedprice") < F.col(ap), 1).otherwise(0)
                ).alias(f"r_lt_{ap}")
                for ap in ("ap50", "ap95")
            ],
            *[
                F.sum(
                    F.when(F.col("l_extendedprice") <= F.col(ap), 1).otherwise(
                        0
                    )
                ).alias(f"r_le_{ap}")
                for ap in ("ap50", "ap95")
            ],
        )
    )
    return ranked.select(
        "l_returnflag",
        "n",
        "exact_p50",
        "exact_p95",
        within(0.50, "ap50").alias("p50_within"),
        within(0.95, "ap95").alias("p95_within"),
    )


@register(
    "b60_timeseries_deltas",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS day_us,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_us, n_events, total_value,
           n_events - LAG(n_events) OVER w AS delta_events,
           ROUND((n_events - LAG(n_events) OVER w)
                 / LAG(n_events) OVER w, 6) AS pct_change
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_us)
    """,
)
def b60_timeseries_deltas(spark, sf_dir):
    """B60: time-series day-over-day analytics -- daily rollup per
    event type, then LAG-based absolute and percent deltas. Two
    shuffles at any scale: the daily hash agg (map-side combinable,
    keyed by type+day) and one window keyed by event_type whose
    per-partition state is days, not events. The day bucket and the
    division are the only non-integer steps (epoch arithmetic + one
    IEEE division, both engine-identical)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )
    w = Wnd.partitionBy("event_type").orderBy("day_us")
    lagged = F.lag("n_events").over(w)
    return daily.select(
        "event_type",
        "day_us",
        "n_events",
        "total_value",
        (F.col("n_events") - lagged).alias("delta_events"),
        F.round((F.col("n_events") - lagged) / lagged, 6).alias("pct_change"),
    )


@register(
    "b61_share_of_total",
    """
    WITH nat AS (
      SELECT n.n_name, r.r_name,
             COUNT(*) AS n_customers,
             CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               AS nation_balance
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT n_name, r_name, n_customers, nation_balance,
           ROUND(nation_balance /
                 CAST(SUM(CAST(nation_balance AS DECIMAL(18,6)))
                      OVER (PARTITION BY r_name) AS DOUBLE), 6)
             AS share_of_region
    FROM nat
    """,
)
def b61_share_of_total(spark, sf_dir):
    """B61: share-of-total analytics (RATIO_TO_REPORT): each nation's
    balance as a fraction of its region's total. The fact scan
    aggregates to nation rows FIRST (map-side combinable), so the
    share window runs over ~25 nation rows partitioned by region --
    the window never sees fact-table cardinality. Decimal-exact sums
    feed one IEEE division."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nat = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "nation_balance"),
        )
    )
    w = Wnd.partitionBy("r_name")
    region_total = (
        F.sum(F.col("nation_balance").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
    )
    return nat.select(
        "n_name",
        "r_name",
        "n_customers",
        "nation_balance",
        F.round(F.col("nation_balance") / region_total, 6).alias(
            "share_of_region"
        ),
    )


@register(
    "b62_schema_evolution",
    """
    SELECT doc_id, n_chars, NULL AS lang_code FROM documents
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, NULL AS n_chars, lang AS lang_code FROM documents
    WHERE doc_id % 2 = 1
    """,
)
def b62_schema_evolution(spark, sf_dir):
    """B62: schema-evolution read -- two parquet batches written with
    DIFFERENT columns (an old ingest with n_chars, a new ingest that
    replaced it with lang_code) read back as ONE table via
    mergeSchema: missing columns surface as NULLs, the union schema is
    the table schema. This is the lakehouse reality of a pipeline
    whose upstream adds/drops fields between runs; at scale mergeSchema
    reads footers only (schema union on the driver), the data pages
    are untouched."""
    import os

    docs = _t(spark, sf_dir, "documents")

    def write(p):
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "n_chars"
        ).write.mode("overwrite").parquet(os.path.join(p, "part=old"))
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", F.col("lang").alias("lang_code")
        ).write.mode("overwrite").parquet(os.path.join(p, "part=new"))

    d = stage("io", sf_dir, ("documents",), write, suffix="_schemaevo")
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(d, "part=old"), os.path.join(d, "part=new")
    )
    return merged.select("doc_id", "n_chars", "lang_code")


@register(
    "b63_forward_fill",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS last_purchase_value
    FROM events
    """,
)
def b63_forward_fill(spark, sf_dir):
    """B63: forward fill (gap imputation) -- every event carries the
    most recent purchase value seen for its user (NULL until the
    first). last(ignorenulls) over a per-key running frame: ONE
    exchange keyed by user, per-partition state is a single value --
    the imputation primitive sessionization/as-of joins build on."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "pv"
        ),
    )
    w = (
        Wnd.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Wnd.unboundedPreceding, Wnd.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.last("pv", ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "b64_nested_struct_hof",
    """
    WITH ev AS (
      SELECT user_id,
             list({'t': epoch_us(ts), 'et': event_type, 'v': value}
                  ORDER BY ts, event_id) AS events
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(events) AS n_events,
           len(list_filter(events, e -> e.et = 'purchase'))
             AS n_purchases,
           CAST(list_sum(list_transform(
                  list_filter(events, e -> e.et = 'purchase'),
                  e -> CAST(ROUND(e.v * 1000000, 0) AS BIGINT))) AS BIGINT)
             AS purchase_micros,
           events[1].t AS first_ts_us
    FROM ev
    """,
)
def b64_nested_struct_hof(spark, sf_dir):
    """B64: nested arrays-of-structs + higher-order functions -- each
    user's event history collected into ONE ordered array-of-struct
    cell, then analyzed entirely IN-ROW (filter/transform/aggregate
    lambdas, no re-shuffle, no second explode). This is the
    document-model surface (events-as-nested-history) Spark shares
    with the reference's Dgraph edge lists (dgraph.go:24-31): one
    shuffle to build the nest, then every per-entity pass is free.
    Values fold in fixed-point micros so the in-row sum is exact."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("t"),
            F.col("event_type").alias("et"),
            F.col("value").alias("v"),
            F.col("event_id").alias("eid"),
        ).alias("e"),
    )
    nested = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("events_raw")
    )
    # sorted by (t, et, v, eid) struct order == (ts, event_id) order
    # because (t, eid) is unique per event; drop eid for the output
    events = F.transform(
        F.col("events_raw"),
        lambda s: F.struct(
            s["t"].alias("t"), s["et"].alias("et"), s["v"].alias("v")
        ),
    )
    purchases = F.filter(events, lambda e: e["et"] == F.lit("purchase"))
    return nested.select(
        "user_id",
        F.size(events).alias("n_events"),
        F.size(purchases).alias("n_purchases"),
        # SQL SUM-over-empty is NULL (DuckDB list_sum([]) IS NULL),
        # while F.aggregate returns its initial 0 -- the repo's named
        # recurring divergence shape. Emit NULL for zero purchases so
        # the Spark side carries SQL semantics, not accumulator ones.
        F.when(
            F.size(purchases) > 0,
            F.aggregate(
                F.transform(
                    purchases,
                    lambda e: F.round(e["v"] * 1000000, 0).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        ).alias("purchase_micros"),
        events[0]["t"].alias("first_ts_us"),
    )


@register(
    "b65_winsorize",
    """
    WITH cuts AS (
      -- cuts rounded to 6dp BEFORE use: interpolated percentiles are
      -- the documented c44 ulp hazard (engine expression shapes differ)
      SELECT l_returnflag,
             ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
             ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(GREATEST(LEAST(l.l_extendedprice, c.p95),
                                        c.p05) * 1000000, 0) AS BIGINT))
                AS DOUBLE) / 1000000.0 AS winsorized_sum,
           CAST(SUM(CASE WHEN l.l_extendedprice < c.p05
                           OR l.l_extendedprice > c.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def b65_winsorize(spark, sf_dir):
    """B65: winsorization -- clamp each group's values into its own
    [p05, p95] percentile band before aggregating (the robust-stats
    answer to heavy-tailed facts). Two passes over the fact table: an
    exact per-group percentile agg (tiny result, broadcast back) and
    the clamped fixed-point sum. The percentile interpolation is the
    same IEEE arithmetic in both engines; clamped values fold through
    ROUND-to-micros so the sum is exact."""
    li = _t(spark, sf_dir, "lineitem")
    # cuts rounded to 6dp before the compare/clamp, both engines: raw
    # interpolated percentiles can differ by an ulp across engines
    # (the documented c44 hazard), which would flip boundary rows
    cuts = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
    )
    clamped = F.greatest(
        F.least(F.col("l_extendedprice"), F.col("p95")), F.col("p05")
    )
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(
                    F.round(clamped * 1000000, 0).cast("bigint")
                ).cast("double")
                / 1000000.0
            ).alias("winsorized_sum"),
            F.sum(
                F.when(
                    (F.col("l_extendedprice") < F.col("p05"))
                    | (F.col("l_extendedprice") > F.col("p95")),
                    1,
                ).otherwise(0)
            ).alias("n_clamped"),
        )
    )


@register(
    "b66_integrity_audit",
    """
    SELECT 'lineitem_without_order' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'order_without_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer_without_nation',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def b66_integrity_audit(spark, sf_dir):
    """B66: referential-integrity audit -- orphan counts along the
    fact-to-dimension chain, each check one anti-join (the batch form
    of a foreign-key constraint the lake doesn't enforce). The checks
    are independent anti-joins unioned into one small report; at scale
    each is a single shuffle on its key."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def orphans(name, left, right, lk, rk):
        cnt = left.join(
            right, left[lk] == right[rk], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return cnt.select(F.lit(name).alias("check_name"), "n_orphans")

    return (
        orphans("lineitem_without_order", li, o, "l_orderkey", "o_orderkey")
        .unionByName(
            orphans("order_without_customer", o, c, "o_custkey", "c_custkey")
        )
        .unionByName(
            orphans(
                "customer_without_nation", c, n, "c_nationkey", "n_nationkey"
            )
        )
    )


@register(
    "b67_tpch_q6",
    f"""
    SELECT {fpsum_sql("l_extendedprice * l_discount", "revenue")},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def b67_tpch_q6(spark, sf_dir):
    """B67: TPC-H Q6 shape (forecast revenue change) -- the pure
    scan-filter-aggregate anchor: every predicate pushes into the
    parquet scan, the whole query is one map-side-combinable agg with
    no shuffle beyond the final single-row combine. The simplest
    query any engine runs; its time is the scan floor."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fpsum("l_extendedprice * l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "b68_tpch_q12",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def b68_tpch_q12(spark, sf_dir):
    """B68: TPC-H Q12 shape (shipping-mode priority split) -- fact-fact
    join + conditional counts. The date filter pushes to the lineitem
    scan BEFORE the join (Catalyst pushes through), so only the
    filtered year shuffles; the priority split is two CASE sums in one
    agg pass, not two scans."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "b69_sketch_error_bound",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS d_orderkey,
           COUNT(DISTINCT o_custkey) AS d_custkey,
           COUNT(DISTINCT o_orderstatus) AS d_status,
           COUNT(DISTINCT o_orderpriority) AS d_priority,
           1 AS ok_orderkey, 1 AS ok_custkey,
           1 AS ok_status, 1 AS ok_priority
    FROM orders
    """,
)
def b69_sketch_error_bound(spark, sf_dir):
    """B69: the sketch-based table profile -- approx_count_distinct
    (HLL, rsd 1%) per column in ONE aggregation pass, the documented
    100 TB swap-in for c16's exact profile -- certified hash-green:
    the output carries the EXACT distinct counts plus a per-column
    within-5% verdict computed in the same plan (HLL is
    order-independent, so on fixed data the verdict is deterministic
    and only flips if the sketch breaks). The oracle replays the
    exact side and asserts each bound as the literal 1. The exact arm
    here exists to certify the sketch; the production profile at
    100 TB runs the sketch arm alone (one scan, fixed memory,
    mergeable) instead of re-shuffling the table per column. The two
    arms aggregate separately (exact: one multi-distinct Expand agg;
    sketch: one linear agg) and meet in a 1-row cross join -- mixing
    them dragged the 16KB HLL buffers through every Expand stage
    (57 -> 4.0 s at sf1, see _hll_verdict)."""
    o = _t(spark, sf_dir, "orders")
    exact = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("d_orderkey"),
        F.countDistinct("o_custkey").alias("d_custkey"),
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_priority"),
    )
    hll = o.agg(
        F.approx_count_distinct("o_orderkey", 0.01).alias("h_orderkey"),
        F.approx_count_distinct("o_custkey", 0.01).alias("h_custkey"),
        F.approx_count_distinct("o_orderstatus", 0.01).alias("h_status"),
        F.approx_count_distinct("o_orderpriority", 0.01).alias("h_priority"),
    )
    return exact.crossJoin(hll).select(
        "n_rows",
        "d_orderkey",
        "d_custkey",
        "d_status",
        "d_priority",
        _hll_verdict("h_orderkey", "d_orderkey", "ok_orderkey"),
        _hll_verdict("h_custkey", "d_custkey", "ok_custkey"),
        _hll_verdict("h_status", "d_status", "ok_status"),
        _hll_verdict("h_priority", "d_priority", "ok_priority"),
    )


@register(
    "b70_incremental_agg_merge",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def b70_incremental_agg_merge(spark, sf_dir):
    """B70: incremental aggregate maintenance -- the stored per-type
    totals built from PRE-watermark events merged with the new
    post-watermark batch's partial aggregate. COUNT and decimal-SUM
    are associative, so merge = add the partials: the result must
    equal the full-table aggregate exactly (the oracle), proving the
    nightly-refresh pattern never needs to rescan history. At 100 TB
    this is the difference between aggregating one day and aggregating
    five years; the merge itself is a tiny keyed union-agg."""
    from ..suites import pipeline_reference as PR

    ev = _t(spark, sf_dir, "events")
    wm = F.timestamp_seconds(F.lit(PR.WM_S))

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        )

    # NULL-ts rows satisfy NEITHER side of a ts split and would vanish
    # from the merged aggregate while the full-table oracle counts
    # them; route them to the stored side (they are "already known"
    # history from the maintenance loop's perspective)
    stored = partial(ev.filter((F.col("ts") < wm) | F.col("ts").isNull()))
    fresh = partial(ev.filter(F.col("ts") >= wm))
    merged = (
        stored.unionByName(fresh)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("total_value"),
    )


@register(
    "b71_null_semantics",
    """
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN value END AS pv,
             CASE WHEN event_type = 'click' THEN value END AS cv,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE event_type END AS nullable_key
      FROM events
    )
    SELECT nullable_key,
           COUNT(*) AS n_rows,
           COUNT(pv) AS n_pv,
           CAST(SUM(CASE WHEN pv IS NOT DISTINCT FROM cv
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           CAST(SUM(CASE WHEN pv IS DISTINCT FROM cv
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_ne
    FROM base
    GROUP BY nullable_key
    """,
)
def b71_null_semantics(spark, sf_dir):
    """B71: NULL-semantics battery -- COUNT(col) skips NULLs,
    null-safe equality (<=> / IS NOT DISTINCT FROM) treats NULL=NULL
    as true, and a NULL group key forms its own group. These are the
    three-valued-logic corners where engines silently diverge; pinning
    them against the oracle certifies the engine's NULL algebra, not
    just its happy path."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ).alias("nullable_key"),
    )
    return base.groupBy("nullable_key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("pv").alias("n_pv"),
        F.sum(
            F.when(F.col("pv").eqNullSafe(F.col("cv")), 1).otherwise(0)
        ).alias("n_nullsafe_eq"),
        F.sum(
            F.when(~F.col("pv").eqNullSafe(F.col("cv")), 1).otherwise(0)
        ).alias("n_nullsafe_ne"),
    )


@register(
    "b72_table_fingerprint",
    """
    SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
           bit_xor(CAST(concat('0x', substr(md5(
             concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                       CAST(ROUND(o_totalprice * 1000000, 0) AS BIGINT),
                       epoch_us(o_orderdate),
                       o_orderpriority)), 1, 15)) AS BIGINT)) AS fingerprint
    FROM orders
    UNION ALL
    SELECT 'customer', COUNT(*),
           bit_xor(CAST(concat('0x', substr(md5(
             concat_ws('|', c_custkey, c_name, c_nationkey,
                       CAST(ROUND(c_acctbal * 1000000, 0) AS BIGINT),
                       c_mktsegment)), 1, 15)) AS BIGINT))
    FROM customer
    """,
)
def b72_table_fingerprint(spark, sf_dir):
    """B72: order-insensitive table fingerprint -- XOR of per-row
    content hashes (+ row count, since XOR alone misses even-count
    duplicates). THE replication/migration equality primitive: two
    copies of a table compare by exchanging 16 bytes instead of
    terabytes, and XOR's commutativity makes the result partitioning-
    independent -- a plain map + one combine, no shuffle of data rows.
    The row hash is md5_int60 (60 bits, inside BIGINT in both
    engines). Double columns enter the hash as fixed-point micros
    bigints, never as strings: Spark (Java) renders doubles in
    scientific notation outside (1e-3, 1e7) while DuckDB renders them
    positionally, so a raw double in concat_ws would fingerprint the
    FORMATTING, not the value (the registry's doubles-never-to-strings
    rule)."""

    def fp(df, name, cols):
        return (
            df.select(md5_int60(F.concat_ws("|", *cols)).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("fingerprint"),
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "fingerprint")
        )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return fp(
        o,
        "orders",
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 1_000_000, 0).cast("bigint"),
            F.unix_micros("o_orderdate"),
            "o_orderpriority",
        ],
    ).unionByName(
        fp(
            c,
            "customer",
            [
                "c_custkey",
                "c_name",
                "c_nationkey",
                F.round(F.col("c_acctbal") * 1_000_000, 0).cast("bigint"),
                "c_mktsegment",
            ],
        )
    )


@register(
    "b73_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id,
             epoch_us(MIN(time_bucket(INTERVAL 1 WEEK, ts))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             epoch_us(time_bucket(INTERVAL 1 WEEK, ts)) AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST((a.active_week - f.cohort_week)
                / CAST(604800000000 AS BIGINT) AS BIGINT) AS weeks_since,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def b73_retention_cohorts(spark, sf_dir):
    """B73: retention cohort matrix -- users grouped by first-seen
    week, counted per weeks-since-cohort of later activity (the
    product-analytics staple). Spark shape (round 12): ONE per-user
    pass -- groupBy(user).agg(min week, collect_set week) computes the
    cohort AND the distinct active weeks together, the explode of the
    per-user week set replaces the firsts-to-activity join, and the
    distinct-user count per (cohort, offset) collapses to a plain
    count because each (user, week) occurs exactly once after the
    in-row set dedup. The oracle text's two-scan join + COUNT DISTINCT
    plan becomes 1 scan and 2 exchanges (raw user-weeks once, then the
    tiny cohort-matrix agg) with no join and no count-distinct Expand;
    the per-user set is bounded by the timeline's week count, never by
    event volume."""
    # NULL users never survive the oracle's inner join -- the fixture
    # carries none, but the filter keeps the single-pass form
    # join-equivalent by construction. (A NULL ts would be the one
    # residual divergence -- collect_set drops it where the join kept
    # the NULL week; the events fixture is NOT NULL there at every sf,
    # same fixture contract the dedup lanes document.)
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    week = F.unix_micros(F.date_trunc("week", "ts"))
    wk_us = 7 * 24 * 3600 * 1_000_000
    per_user = ev.groupBy("user_id").agg(
        F.min(week).alias("cohort_week"),
        F.collect_set(week).alias("weeks"),
    )
    return (
        per_user.select(
            "cohort_week",
            F.explode("weeks").alias("active_week"),
        )
        .groupBy(
            "cohort_week",
            (
                (F.col("active_week") - F.col("cohort_week")) / F.lit(wk_us)
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ------------------------------------------------- TPC-H closure (r4)
# The remaining TPC-H query shapes the fixture schema supports, adapted
# where the fixture lacks a column (no partsupp/commitdate/receiptdate;
# p_retailprice stands in for ps_supplycost, l_shipdate > o_orderdate
# stands in for the commit/receipt lateness tests). Together with
# q1/q3/q5/q6/q12 (b14/b51/b52/b67/b68) these close out the dialect's
# canonical join/subquery/disjunction shapes. All registered defer=True
# (behind the pre-existing certification backlog).


@register(
    "b74_tpch_q4",
    """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
    defer=True,
)
def b74_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking), lateness adapted to
    l_shipdate > o_orderdate.

    Shape (round 13): EXISTS is computed as INNER join + DISTINCT on
    the orders PK instead of a LEFT SEMI join. A broadcast left-semi
    must BUILD its right side, so the previous form hashed the whole
    6M-row lineitem table to probe ~100k date-filtered orders (3.0s
    at sf1). Flipped, lineitem STREAMS through a broadcast of the
    filtered orders and the map-side-combinable distinct on
    (o_orderkey, o_orderpriority) collapses the matches to one row
    per order before the exchange -- 0.58s at sf1, identical rows
    (o_orderkey is the orders PK, so DISTINCT-on-PK = EXISTS; +0.07s
    at sf0.1 where the extra distinct exchange exceeds the small
    build it saves, accepted for the scale win). At 100 TB, where
    neither side broadcasts, the same plan degrades to one SMJ on
    orderkey plus the collapsing distinct -- still one fact shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    hit = (
        li.join(
            o,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "b75_tpch_q7",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    defer=True,
)
def b75_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): revenue between a nation PAIR by
    ship year. Spark shape: the two nation-filtered dimension chains
    (supplier->nation, customer->nation) are broadcast; lineitem joins
    orders on the one real shuffle. The OR-of-pairs predicate lands
    after both nation names are attached, on the already-tiny joined
    dims -- at 100 TB the broadcast semi-filters supplier/customer
    before they touch the facts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(fpsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


@register(
    "b76_tpch_q8",
    f"""
    SELECT o_year,
           {fpsum_sql("CASE WHEN nat = 'NATION_1' THEN volume ELSE 0 END",
                      "nation_volume")},
           {fpsum_sql("volume", "total_volume")}
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS nat
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    ) shipping
    GROUP BY o_year
    """,
    defer=True,
)
def b76_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): a nation's share of ECONOMY
    part revenue inside one customer region, by order year. Emitted as
    exact numerator + denominator (the share is their ratio; keeping
    both sums exact keeps the hash deterministic). Spark shape: all
    five dims broadcast (region+nation prune customers BEFORE the
    fact join), lineitem->orders is the only shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nat"))
    )
    cust_in_region = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(
            F.broadcast(cust_in_region),
            o["o_custkey"] == F.col("c_custkey"),
            "inner",
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            fpsum(
                "CASE WHEN nat = 'NATION_1' THEN l_extendedprice * (1 - l_discount)"
                " ELSE 0 END",
                "nation_volume",
            ),
            fpsum("l_extendedprice * (1 - l_discount)", "total_volume"),
        )
    )


@register(
    "b77_tpch_q9",
    f"""
    SELECT nat AS nation, o_year,
           {fpsum_sql(
               "l_extendedprice * (1 - l_discount)"
               " - p_retailprice * l_quantity * 0.1",
               "sum_profit")}
    FROM (
      SELECT n.n_name AS nat,
             EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice, l.l_discount, l.l_quantity, p.p_retailprice
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%gear%'
    ) profit
    GROUP BY 1, 2
    """,
    defer=True,
)
def b77_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product type profit), p_retailprice*0.1 standing in
    for ps_supplycost (the fixture has no partsupp). Spark shape:
    part (LIKE-filtered) and supplier->nation broadcast; the only
    shuffle is lineitem->orders; profit expression folded into one
    fixed-point sum. The LIKE filter can't prune the parquet scan by
    stats, but it cuts the broadcast table before the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            fpsum(
                "l_extendedprice * (1 - l_discount)"
                " - p_retailprice * l_quantity * 0.1",
                "sum_profit",
            )
        )
    )


@register(
    "b78_tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    defer=True,
)
def b78_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned item reporting): top-20 customers by
    returned revenue in a quarter. Spark shape: date+returnflag
    pushed to the scans, customer/nation broadcast, one shuffle agg
    keyed by customer, TakeOrderedAndProject for the top-20 (never a
    global sort). Ties broken by c_custkey so LIMIT is deterministic
    cross-engine."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(fpsum("l_extendedprice * (1 - l_discount)", "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "b79_tpch_q14",
    f"""
    SELECT
      {fpsum_sql(
          "CASE WHEN p_type = 'PROMO'"
          " THEN l_extendedprice * (1 - l_discount) ELSE 0 END",
          "promo_revenue")},
      {fpsum_sql("l_extendedprice * (1 - l_discount)", "total_revenue")}
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    defer=True,
)
def b79_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): promo share of one month's
    revenue, emitted as exact numerator+denominator. Spark shape:
    month filter pushed to the lineitem scan, part broadcast, single
    partial-agg -- no shuffle at all beyond the final 1-row gather."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            fpsum(
                "CASE WHEN p_type = 'PROMO'"
                " THEN l_extendedprice * (1 - l_discount) ELSE 0 END",
                "promo_revenue",
            ),
            fpsum("l_extendedprice * (1 - l_discount)", "total_revenue"),
        )
    )


@register(
    "b80_tpch_q17",
    f"""
    SELECT {fpsum_sql("l.l_extendedprice", "sum_extended")} ,
           COUNT(*) AS n_small_orders
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#17'
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
    defer=True,
)
def b80_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): rows under 20% of
    their part's average quantity. The correlated scalar subquery is
    DECORRELATED Spark-side into a per-part aggregate joined back --
    the scan runs twice but each pass is columnar and the join key is
    the natural partkey; at 100 TB the per-part averages table is tiny
    relative to lineitem and broadcast-joins back onto it. Threshold
    arithmetic is exact-sum/count in BOTH engines so the < comparison
    sees bit-identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#17")
    per_part = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
            * 0.2
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .join(per_part, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            fpsum("l_extendedprice", "sum_extended"),
            F.count(F.lit(1)).alias("n_small_orders"),
        )
    )


@register(
    "b81_tpch_q18",
    f"""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           epoch_us(o.o_orderdate) AS o_orderdate_us, o.o_totalprice,
           {fpsum_sql("l.l_quantity", "sum_qty")}
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
    )
    GROUP BY 1, 2, 3, 4, 5
    """,
    defer=True,
)
def b81_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large volume customers): orders whose total quantity
    clears a threshold, with customer detail.

    One lineitem pass (round 13): every outer GROUP BY key is
    order-level (o_orderkey is the orders PK) and lineitem joins on
    orderkey alone, so the outer SUM(l_quantity) per group IS the
    HAVING subquery's per-order total -- the previous form scanned
    lineitem twice (agg + detail semi-join) and built the whole
    4-column orders table as a broadcast hash relation to probe the
    qualifying lineitems. Now the per-order agg runs once, keeps the
    fixed-point LONG (threshold compared on the exact scaled integer,
    emitted bit-identically to fpsum by the same cast-divide), and
    joins orders/customer directly: 1.42 -> 1.13 s at sf1,
    1.07 -> 0.60 s at sf0.1, rows identical. The qualifying-order set
    stays un-hinted (an O(corpus) fraction of orders -- forcing it
    onto every executor OOMs at scale; AQE picks the build side)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_fp_long_sum("l_quantity").alias("fp_qty"))
        .filter(F.col("fp_qty") > 150 * 1000000)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            (F.col("fp_qty").cast("double") / F.lit(1000000.0)).alias(
                "sum_qty"
            ),
        )
    )


@register(
    "b82_tpch_q19",
    f"""
    SELECT {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    defer=True,
)
def b82_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the
    OR-of-ANDs shape optimizers historically fumbled. Spark keeps it
    one broadcast hash join + residual disjunction; Catalyst derives
    the common l_quantity <= 30 and part-side brand/size union bounds
    for pushdown. No shuffle beyond the final 1-row gather."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    q, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & q.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & q.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 35) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        fpsum("l_extendedprice * (1 - l_discount)", "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "b83_tpch_q22",
    f"""
    WITH avgbal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           {fpsum_sql("c.c_acctbal", "totacctbal")}
    FROM customer c, avgbal
    WHERE c.c_acctbal > avgbal.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_nationkey
    """,
    defer=True,
)
def b83_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), phone-prefix clause
    dropped (no c_phone in the fixture) and "never ordered" adapted to
    "no order since 2000-01-01" (every fixture customer has at least
    one order): above-average-balance inactive customers, per nation. Spark shape: the global average
    is a 1-row broadcast crossJoin (no driver round-trip), the NOT
    EXISTS is a left_anti join shuffling only custkeys, one final hash
    agg. Exact-sum/count average so both engines compare identical
    doubles."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    avgbal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            fpsum("c_acctbal", "totacctbal"),
        )
    )


@register(
    "b84_tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
    defer=True,
)
def b84_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): orders-per-customer histogram
    with customers who ordered nothing kept at zero (the comment-filter
    clause adapted to order priority). Spark shape: LEFT OUTER join
    with the filter INSIDE the join condition (pushed to the orders
    scan; an outer-join filter in WHERE would wrongly drop the zero
    customers), first agg shuffles on custkey, the distribution agg
    sees only distinct counts. COUNT(col) vs COUNT(*) null semantics
    are what keeps the zero bucket honest -- the b71 battery's corner
    in a real query."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o["o_custkey"] == c["c_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "b85_tpch_q15",
    f"""
    WITH revenue AS MATERIALIZED (
      SELECT l_suppkey AS supplier_no,
             {fpsum_sql("l_extendedprice * (1 - l_discount)", "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    defer=True,
)
def b85_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the supplier(s) hitting the quarter's
    maximum revenue. Spark shape: one pushed date-range scan + suppkey
    hash agg builds the revenue view; the scalar-subquery max is a
    1-row broadcast crossJoin against it (no second scan of lineitem,
    no driver round-trip); supplier attaches by broadcast. The equality
    against MAX is safe cross-engine because revenue is a fixed-point
    long sum -- identical doubles on both sides. The revenue CTE is
    MATERIALIZED for DuckDB (referenced twice) and reused once in
    Spark's plan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    # two consumers (the max scalar and the equality filter): Catalyst
    # re-plans the scan + suppkey agg per consumer -- checkpoint the
    # supplier-count-sized view once instead (b88/b89's fix; the
    # "MATERIALIZED" the oracle text already declares). Plan: 2 lineitem
    # scans + 2 revenue-agg exchanges -> 1 + 1 (round 12).
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(fpsum("l_extendedprice * (1 - l_discount)", "total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


# -------------------------------------------- TPC-H closure: Q2/Q11/Q16/Q20/Q21
#
# The fixture set carries no partsupp table, so the four partsupp
# queries run against a DERIVED part-supplier relation: the distinct
# (l_partkey, l_suppkey) pairs of lineitem, with
#   ps_supplycost = MIN(l_extendedprice / l_quantity)   (unit price floor)
#   ps_availqty   = exact-decimal SUM(l_quantity)       (total shipped)
# Both engines build it from the same rows with order-independent
# aggregates (MIN of identical per-row IEEE divisions; decimal-exact
# sum), so the derived table is bit-identical cross-engine. At 100 TB
# the derivation is one map-side-combined hash agg keyed by
# (partkey, suppkey) -- the same shuffle a real partsupp scan would
# need for these queries' joins, so nothing is lost vs a stored table.

_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS ps_availqty
  FROM lineitem WHERE l_quantity > 0
  GROUP BY 1, 2
"""


def _partsupp(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "ps_supplycost"
        ),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("ps_availqty"),
    )


@register(
    "b87_tpch_q21",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
               AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    """,
    defer=True,
)
def b87_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting). Adapted to the
    fixture: "late" is l_shipdate > o_orderdate + 90 days (no
    l_receiptdate/l_commitdate columns), and the nation filter widens
    to a region (100 suppliers / 25 nations would leave ~4).

    The oracle keeps the classic triple-correlated EXISTS/NOT-EXISTS
    text; Spark does NOT mirror those self-joins -- it folds all three
    into a TWO-LEVEL hash agg: first per (orderkey, suppkey) (late
    line count per participant -- no distinct needed at this grain),
    then per orderkey (participant count, late-participant count, the
    single late supplier, its late rows), keeping orders where exactly
    one supplier was late among >=2 participants. Three lineitem
    shuffles become one fact-grain shuffle plus one over distinct
    (order, supplier) pairs -- and no Expand: a single-level
    multi-countDistinct would triple the shuffled rows duplicating
    every joined row per distinct aggregate. Counting late l1 ROWS
    (not orders) is what makes the agg form row-equivalent to the
    EXISTS text."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    return _q21_fold(spark, sf_dir, li, o, single_exchange=True)


def _q21_fold(spark, sf_dir, li, o, single_exchange=False):
    """Q21's EXISTS-fold, shared by the shuffle and bucketed lanes.

    ``single_exchange`` (the shuffle lane): both grouping levels key on
    l_orderkey (the pair level's key is a superset), so ONE explicit
    hash partitioning by l_orderkey below the first groupBy satisfies
    both aggregations' distribution requirements -- the plan drops from
    two fact-grain exchanges (pair-level partials, then order-level
    partials) to one (guide: two operations keyed the same way share
    one exchange). The exchanged rows are projected down to
    (l_orderkey, l_suppkey, is_late boolean) FIRST, so the single
    exchange also moves strictly fewer bytes than either of the two it
    replaces did (they carried partial-agg state; map-side partial agg
    bought ~nothing here -- lineitem averages ~1.2 rows per
    (orderkey, suppkey)). The bucketed lane passes False: its SMJ
    output is already hash(orderkey)-clustered and both agg levels are
    bucket-local with zero exchanges -- an explicit repartition would
    ADD one."""
    o = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    # full-timestamp interval arithmetic (b28's form): a date_add over
    # a .cast("date") truncates any time-of-day component, and nothing
    # pins the generator to midnight orderdates -- the oracle computes
    # o_orderdate + INTERVAL 90 DAY over the full timestamp
    late = F.col("l_shipdate") > (
        F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    if single_exchange:
        joined = joined.repartition(F.col("l_orderkey"))
    per_pair = (
        joined.groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.when(F.col("is_late"), 1)).alias("late_rows"))
    )
    is_late = F.col("late_rows") > 0
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count(F.when(is_late, 1)).alias("n_late_supp"),
            F.min(F.when(is_late, F.col("l_suppkey"))).alias("waiter"),
            F.sum("late_rows").alias("n_late_rows"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    s_in = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", "s_name")
    return (
        per_order.join(
            F.broadcast(s_in), per_order["waiter"] == s_in["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
    )


@register(
    "b87_tpch_q21_bucketed",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 1
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
               AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    """,
    defer=True,
)
def b87_tpch_q21_bucketed(spark, sf_dir):
    """b87's layout twin: the identical Q21 EXISTS-fold over the
    SHARED bucketed-by-orderkey fact layout (_bucketed_orderkey_facts).
    The 100x profile attributed ~85% of b87's compute to the
    lineitem-orders shuffle join (5.7 s of 6.5 s at 60M lineitem rows;
    both grouping levels then reuse the join's hash partitioning for
    +0.8 s) -- so the remedy is the same as b07's: bucket both fact
    sides by orderkey at ingest, and the join AND both agg levels
    become bucket-local. The only exchange left in the whole plan is
    the ~100-supplier final rollup. Registered as b07's twin is, so
    BENCH/SCALE snapshots record the shuffle lane and the layout lane
    side by side at every scale."""
    li, o = _bucketed_orderkey_facts(spark, sf_dir)
    return _q21_fold(
        spark,
        sf_dir,
        li.select("l_orderkey", "l_suppkey", "l_shipdate"),
        # merge hint: pin the bucket-local SMJ (b07_bucketed's note --
        # a pruned-size estimate under the broadcast threshold would
        # otherwise broadcast the 15M-row orders side)
        o.select("o_orderkey", "o_orderdate", "o_orderstatus").hint("merge"),
    )


@register(
    "b88_tpch_q2",
    f"""
    WITH partsupp AS ({_PS_SQL}),
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_supplycost, s.s_suppkey, s.s_acctbal,
             s.s_name, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
                   AND r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
           e.ps_supplycost
    FROM part p
    JOIN eligible e ON e.ps_partkey = p.p_partkey
    WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY'
      AND e.ps_supplycost = (
        SELECT MIN(e2.ps_supplycost) FROM eligible e2
        WHERE e2.ps_partkey = p.p_partkey)
    """,
    defer=True,
)
def b88_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for ECONOMY parts up to size
    15, every EUROPE supplier quoting that part's minimum cost among
    EUROPE suppliers. The p_type LIKE '%BRASS' clause becomes equality
    (fixture types are single words) and size narrows to a range for
    non-trivial output.

    Spark shape: the correlated MIN subquery is de-correlated by hand
    -- group the region-filtered partsupp once by partkey, join the
    min back on (partkey, cost-equality); ties survive exactly as in
    the SQL. supplier/nation/region reduce to a broadcast chain
    (suppliers are dimension-sized); the only fact shuffles are the
    partsupp derivation and the min-per-part agg, both keyed by
    partkey -- AQE coalesces them into adjacent stages. Double
    equality on ps_supplycost is cross-engine-safe: both sides carry
    the identical MIN of identical divisions."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dim = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eligible = (
        ps.join(F.broadcast(dim), ps["ps_suppkey"] == dim["s_suppkey"])
        .select(
            "ps_partkey", "ps_supplycost", "s_suppkey", "s_acctbal",
            "s_name", "n_name",
        )
        # feeds BOTH the min-per-part agg and the final join: without
        # materialization each consumer re-plans the partsupp
        # derivation -- a second full lineitem scan plus a second
        # (partkey, suppkey) agg exchange (r12; the relation itself is
        # partsupp-sized, ~4 rows/part, dimension-class storage)
        .localCheckpoint(eager=False)
    )
    min_cost = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY")
    )
    return (
        eligible.join(
            # one row per part -- broadcastable at any corpus scale
            # (parts are dimension-sized even when lineitem is 100 TB)
            F.broadcast(
                min_cost.withColumnRenamed("ps_partkey", "mc_partkey")
            ),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == p["p_partkey"])
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_supplycost",
        )
    )


@register(
    "b89_tpch_q11",
    f"""
    WITH partsupp AS ({_PS_SQL}),
    eligible AS (
      SELECT ps.* FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 2
    ),
    total AS (
      SELECT {fpsum_sql("ps_supplycost * ps_availqty", "grand_total")}
      FROM eligible
    )
    SELECT e.ps_partkey,
           {fpsum_sql("e.ps_supplycost * e.ps_availqty", "part_value")}
    FROM eligible e, total t
    GROUP BY e.ps_partkey, t.grand_total
    HAVING CAST(SUM(CAST(ROUND((e.ps_supplycost * e.ps_availqty) * 1000000,
                               0) AS BIGINT)) AS DOUBLE) / 1000000.0
           > 0.001 * t.grand_total
    """,
    defer=True,
)
def b89_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock): parts whose inventory value among
    ASIA-region suppliers exceeds 0.1% of the region's total (nation
    filter widened to a region; fraction scaled to the fixture). Spark
    shape: one partkey hash agg over the region-filtered derived
    partsupp, the grand total as a 1-row broadcast crossJoin (no
    second pass, no driver round-trip). Value sums are fixed-point
    longs on both engines so the HAVING threshold compares identical
    doubles."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    dim = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey")
    eligible = ps.join(
        F.broadcast(dim), ps["ps_suppkey"] == dim["s_suppkey"]
    ).localCheckpoint(eager=False)  # two consumers (per-part agg +
    # grand total): uncheckpointed, each re-plans the partsupp
    # derivation = a second lineitem scan + agg exchange (r12)
    per_part = eligible.groupBy("ps_partkey").agg(
        fpsum("ps_supplycost * ps_availqty", "part_value")
    )
    # the grand total re-aggregates the same fixed-point longs from
    # `eligible` (summing per_part's doubles would reintroduce IEEE
    # order sensitivity)
    total = eligible.agg(fpsum("ps_supplycost * ps_availqty", "grand_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.001 * F.col("grand_total"))
        .select("ps_partkey", "part_value")
    )


@register(
    "b90_tpch_q16",
    f"""
    WITH partsupp AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    defer=True,
)
def b90_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship): distinct supplier
    count per (brand, type, size) bucket, excluding one brand, one
    type, and blacklisted suppliers (the customer-complaints LIKE
    clause adapted to s_acctbal < 0 -- the fixture supplier table has
    no comment column). Spark shape: the NOT IN becomes a broadcast
    left_anti join (safe: s_suppkey is non-null), part attaches by
    broadcast with brand/type/size filters pushed to its scan, one
    distinct-agg keyed by the output buckets. The partial-distinct
    runs map-side, so the shuffle carries (bucket, suppkey) pairs
    already deduped per task -- the 100 TB shape."""
    ps = _partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        ps.join(
            F.broadcast(bad),
            ps["ps_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "b91_tpch_q20",
    f"""
    WITH partsupp AS ({_PS_SQL})
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 0
    WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey FROM partsupp ps
      WHERE ps.ps_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND ps.ps_availqty > 0.5 * (
          SELECT CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
          FROM lineitem l
          WHERE l.l_partkey = ps.ps_partkey
            AND l.l_suppkey = ps.ps_suppkey
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate <  TIMESTAMP '1997-01-01')
    )
    """,
    defer=True,
)
def b91_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion): AFRICA-region suppliers
    holding more than half their 1996 shipped quantity of any 'small*'
    part (nation filter widened to a region). Spark shape: the
    correlated quantity subquery is FUSED into the derived-partsupp
    aggregation -- ps_supplycost/ps_availqty and the 1996-only
    quantity are conditional aggregates of the SAME (partkey, suppkey)
    groupBy, so lineitem is scanned and shuffled exactly once where
    the textual plan (partsupp CTE + correlated subquery) would scan
    it twice and join the two aggregates back together. qty96 is NULL
    for pairs with no 1996 shipments, which mirrors the SQL's
    NULL-comparison semantics (the > fails on both engines). The
    part-name IN is a broadcast left_semi pushed below the agg, the
    supplier IN another broadcast semi, nation a broadcast filter."""
    in96 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    # NO dataframe-level l_quantity > 0 filter: only the partsupp CTE
    # carries it in the oracle -- the correlated 1996 threshold sums
    # ALL rows of the pair. In the fused single-scan form that split
    # becomes per-aggregate conditions: availqty counts only positive
    # quantities (a pair with none gets NULL, exactly its absence from
    # the CTE -- the > comparison fails either way), qty96 counts every
    # 1996 row regardless of sign.
    li = _t(spark, sf_dir, "lineitem")
    q_pos = F.col("l_quantity") > 0
    fused = (
        li.join(
            F.broadcast(small),
            li["l_partkey"] == small["p_partkey"],
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.sum(
                F.when(q_pos, F.col("l_quantity").cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("ps_availqty"),
            F.sum(
                F.when(in96, F.col("l_quantity").cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("qty96"),
        )
    )
    qualifying = (
        fused.filter(F.col("ps_availqty") > 0.5 * F.col("qty96"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(qualifying),
            s["s_suppkey"] == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )


@register(
    "b92_cube_rollup",
    f"""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
                ELSE l_returnflag END AS ret_flag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
                ELSE l_linestatus END AS line_status,
           CAST(GROUPING(l_returnflag) AS INT) AS flag_grp,
           CAST(GROUPING(l_linestatus) AS INT) AS status_grp,
           COUNT(*) AS n_rows,
           {fpsum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    defer=True,
)
def b92_cube_rollup(spark, sf_dir):
    """Multi-dimensional OLAP subtotals: revenue by returnflag x
    linestatus with every CUBE margin (per-flag, per-status, grand
    total) in one pass. GROUPING() flags disambiguate the 'ALL'
    margins from real values -- the standard lossless-cube encoding.
    Spark shape: Expand (one synthetic row per grouping set) feeding a
    single hash agg; partial aggregation still applies per grouping
    set, so the shuffle carries at most |sets| x |distinct keys| rows
    per task -- at 100 TB this beats 4 separate aggs by sharing the
    one lineitem scan. Flag/status cardinality is tiny (3 x 2), so
    the Expand fan-out (4x rows map-side) collapses immediately into
    partial aggregates.

    Known upstream divergence (surfaced by the grouping-sets fuzzer,
    tests/test_fuzz_differential.py): on EMPTY input the SQL standard
    emits one zero-count grand-total row for the () grouping set
    (DuckDB/PostgreSQL do); Spark's Expand-based cube emits zero rows.
    This query's fixtures are non-empty, so the oracle is unaffected;
    users filtering to an empty set under CUBE/ROLLUP get Spark's
    behavior."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("flag_grp"),
            F.grouping("l_linestatus").cast("int").alias("status_grp"),
            F.count(F.lit(1)).alias("n_rows"),
            fpsum("l_extendedprice * (1 - l_discount)", "revenue"),
        )
        .select(
            F.when(F.col("flag_grp") == 1, F.lit("ALL"))
            .otherwise(F.col("l_returnflag"))
            .alias("ret_flag"),
            F.when(F.col("status_grp") == 1, F.lit("ALL"))
            .otherwise(F.col("l_linestatus"))
            .alias("line_status"),
            "flag_grp",
            "status_grp",
            "n_rows",
            "revenue",
        )
    )


@register(
    "b93_ntile_binning",
    """
    SELECT o_orderpriority, quartile,
           COUNT(*) AS n_orders,
           MIN(price_cents) AS min_cents,
           MAX(price_cents) AS max_cents
    FROM (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    ) t
    GROUP BY o_orderpriority, quartile
    """,
    defer=True,
)
def b93_ntile_binning(spark, sf_dir):
    """Equal-frequency binning: each order assigned to its price
    quartile WITHIN its priority class via NTILE(4) -- the
    discretization step feature pipelines run before histogramming /
    monotonic binning. Ties ordered by the unique orderkey so bucket
    assignment is total-ordered (engine-identical); both engines give
    the first (n mod 4) buckets the extra row per the SQL standard.
    Spark shape: one exchange keyed by priority feeds the window, and
    the per-bin summary reuses the same partitioning (bin keys are a
    prefix extension) -- at 100 TB this is one fact shuffle; when a
    single priority class outgrows a task, the percentile-cut form
    (b65's exact-percentile broadcast) replaces rank-based NTILE at
    identical output shape."""
    o = _t(spark, sf_dir, "orders")
    w = Wnd.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    binned = o.select(
        "o_orderpriority",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "price_cents"
        ),
        F.ntile(4).over(w).alias("quartile"),
    )
    return binned.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("price_cents").alias("min_cents"),
        F.max("price_cents").alias("max_cents"),
    )


@register(
    "b94_order_stats",
    """
    SELECT l_returnflag,
           MEDIAN(qty_int) AS median_qty,
           CAST(quantile_disc(price_cents, 0.25) AS BIGINT) AS p25_cents,
           CAST(quantile_disc(price_cents, 0.75) AS BIGINT) AS p75_cents,
           MIN(qty_mode.m) AS mode_qty
    FROM (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty_int,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
      FROM lineitem
    ) t,
    LATERAL (
      SELECT MIN(v) AS m FROM (
        SELECT qty_int AS v, COUNT(*) AS c
        FROM (SELECT l_returnflag AS rf2, CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty_int
              FROM lineitem) i
        WHERE i.rf2 = t.l_returnflag
        GROUP BY v
        QUALIFY c = MAX(c) OVER ()
      )
    ) qty_mode
    GROUP BY l_returnflag
    """,
    defer=True,
)
def b94_order_stats(spark, sf_dir):
    """Exact order statistics per group: median (interpolated, over
    integer quantities so the midpoint arithmetic is exact in double),
    discrete quartiles (percentile_disc semantics -- an actual data
    value, no interpolation), and the modal quantity with a
    deterministic min tie-break (engines disagree on bare MODE()'s
    tie). Spark shape: median/percentile are single-pass sort-based
    aggs per group key; the mode is its own (flag, qty) hash agg +
    argmax-by-struct -- no window over fact rows. At 100 TB exact
    per-group sorting caps at the largest group; the b59 sketch is
    the documented swap-in past that point."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        # ROUND before the bigint cast on BOTH sides: a fractional
        # quantity would otherwise round in DuckDB's CAST but truncate
        # in Spark's (the b64 hazard; exact on the integral fixture)
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("qty_int"),
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
            "price_cents"
        ),
    )
    stats = li.groupBy("l_returnflag").agg(
        F.expr("median(qty_int)").alias("median_qty"),
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY price_cents) AS BIGINT)").alias("p25_cents"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY price_cents) AS BIGINT)").alias("p75_cents"),
    )
    mode = (
        li.groupBy("l_returnflag", "qty_int")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("l_returnflag")
        .agg(F.max(F.struct(F.col("c"), (-F.col("qty_int")).alias("neg"))).alias("w"))
        .select(
            "l_returnflag", (-F.col("w.neg")).alias("mode_qty")
        )
    )
    return stats.join(mode, "l_returnflag")


from ..sinks.layout import z_address_sql as _z_sql


@register(
    "b95_zorder_address",
    f"""
    WITH dims AS (
      SELECT l_orderkey, l_linenumber,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS day_raw,
             l_partkey AS part_raw
      FROM lineitem
    ),
    bounds AS (
      SELECT MIN(day_raw) AS dlo, MAX(day_raw) AS dhi,
             MIN(part_raw) AS plo, MAX(part_raw) AS phi
      FROM dims
    ),
    scaled AS (
      SELECT d.l_orderkey, d.l_linenumber,
             ((d.day_raw - b.dlo) * 256) // (b.dhi - b.dlo + 1) AS day8,
             ((d.part_raw - b.plo) * 256) // (b.phi - b.plo + 1) AS part8
      FROM dims d, bounds b
    )
    SELECT l_orderkey, l_linenumber, day8, part8,
           {_z_sql('day8', 'part8', bits=8)} AS zkey
    FROM scaled
    """,
    defer=True,
)
def b95_zorder_address(spark, sf_dir):
    """Z-order clustering key: ship-day and partkey each min-max
    normalized to 8 bits (equal bit width is what makes the interleave
    balanced -- an unscaled wider dimension would own every high bit
    and range cuts would never reach the other column) then
    bit-interleaved into one 16-bit address. Range-clustering files on
    it bounds BOTH dimensions' footer-stat span per file -- the
    Delta/Iceberg OPTIMIZE ZORDER BY primitive as deterministic
    integer arithmetic (min/max are one exact 1-row aggregate,
    broadcast; the interleave is a codegen'd shift/or chain, no UDF).
    The file-skipping effect on either dimension is pinned in
    tests/test_scale_layouts.py; this query certifies the address
    arithmetic cross-engine."""
    from ..sinks.layout import z_address

    li = _t(spark, sf_dir, "lineitem")
    dims = li.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("long")
        .alias("day_raw"),
        F.col("l_partkey").alias("part_raw"),
    )
    bounds = dims.agg(
        F.min("day_raw").alias("dlo"),
        F.max("day_raw").alias("dhi"),
        F.min("part_raw").alias("plo"),
        F.max("part_raw").alias("phi"),
    )
    scaled = dims.crossJoin(F.broadcast(bounds)).select(
        "l_orderkey",
        "l_linenumber",
        F.floor(
            (F.col("day_raw") - F.col("dlo")) * 256
            / (F.col("dhi") - F.col("dlo") + 1)
        ).alias("day8"),
        F.floor(
            (F.col("part_raw") - F.col("plo")) * 256
            / (F.col("phi") - F.col("plo") + 1)
        ).alias("part8"),
    )
    return scaled.select(
        "l_orderkey",
        "l_linenumber",
        "day8",
        "part8",
        z_address(F.col("day8"), F.col("part8"), bits=8).alias("zkey"),
    )


@register(
    "b96_linear_interpolate",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT))
                  AS BIGINT) AS total_fp
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
    spine AS (
      SELECT t.event_type, CAST(u.d AS DATE) AS d
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (
        SELECT unnest(generate_series(CAST(b.lo AS TIMESTAMP),
                                      CAST(b.hi AS TIMESTAMP),
                                      INTERVAL 1 DAY)) AS d
        FROM bounds b
      ) u
    ),
    joined AS (
      SELECT s.event_type, s.d, dl.total_fp
      FROM spine s LEFT JOIN daily dl
        ON dl.event_type = s.event_type AND dl.d = s.d
    ),
    anchored AS (
      SELECT event_type, d, total_fp,
             last_value(total_fp IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN total_fp IS NOT NULL THEN d END
                        IGNORE NULLS) OVER w_prev AS prev_d,
             first_value(total_fp IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN total_fp IS NOT NULL THEN d END
                         IGNORE NULLS) OVER w_next AS next_d
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, epoch_us(CAST(d AS TIMESTAMP)) AS day_us,
           total_fp IS NOT NULL AS observed,
           ROUND(
             CASE
               WHEN total_fp IS NOT NULL THEN CAST(total_fp AS DOUBLE)
               WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
               WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
               ELSE CAST(prev_v AS DOUBLE)
                    + CAST(next_v - prev_v AS DOUBLE)
                      * CAST(date_diff('day', prev_d, d) AS DOUBLE)
                      / CAST(date_diff('day', prev_d, next_d) AS DOUBLE)
             END / 1000000.0, 6) AS value_interp
    FROM anchored
    """,
    defer=True,
)
def b96_linear_interpolate(spark, sf_dir):
    """Time-series gap repair by LINEAR interpolation -- b63's
    forward-fill sibling for quantities where holding the last value
    lies (rates, gauges): each missing day gets the line between its
    previous and next observed anchors; edge gaps fall back to the
    one available anchor. Daily totals are fixed-point longs, so the
    interpolation is one double expression over exact integers --
    identical on both engines, rounded at 6 dp.

    Spark shape: ONE exchange keyed by event_type serves both anchor
    windows (prev = running last ignorenulls, next = the mirrored
    frame); the day spine is a broadcast sequence-explode against the
    distinct type table, never a fact-sized generate. At 100 TB the
    spine is days x types (tiny) and the daily rollup is the only
    fact shuffle."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)")).alias(
            "total_fp"
        )
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
            ).alias("d"),
        )
    )
    joined = spine.join(daily, ["event_type", "d"], "left")
    w_prev = (
        Wnd.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Wnd.unboundedPreceding, Wnd.currentRow)
    )
    w_next = (
        Wnd.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Wnd.currentRow, Wnd.unboundedFollowing)
    )
    obs_d = F.when(F.col("total_fp").isNotNull(), F.col("d"))
    anchored = joined.select(
        "event_type",
        "d",
        "total_fp",
        F.last("total_fp", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_d, ignorenulls=True).over(w_prev).alias("prev_d"),
        F.first("total_fp", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_d, ignorenulls=True).over(w_next).alias("next_d"),
    )
    interp = (
        F.when(F.col("total_fp").isNotNull(), F.col("total_fp").cast("double"))
        .when(F.col("prev_v").isNull(), F.col("next_v").cast("double"))
        .when(F.col("next_v").isNull(), F.col("prev_v").cast("double"))
        .otherwise(
            F.col("prev_v").cast("double")
            + (F.col("next_v") - F.col("prev_v")).cast("double")
            * F.datediff(F.col("d"), F.col("prev_d")).cast("double")
            / F.datediff(F.col("next_d"), F.col("prev_d")).cast("double")
        )
    )
    return anchored.select(
        "event_type",
        F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
        F.col("total_fp").isNotNull().alias("observed"),
        F.round(interp / 1000000.0, 6).alias("value_interp"),
    )


@register(
    "b97_mad_outliers",
    """
    WITH vals AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, MEDIAN(cents) AS med FROM vals GROUP BY 1
    ),
    mad AS (
      SELECT v.event_type, m.med,
             MEDIAN(ABS(CAST(v.cents AS DOUBLE) - m.med)) AS mad
      FROM vals v JOIN med m USING (event_type)
      GROUP BY v.event_type, m.med
    )
    SELECT v.event_type, a.med, a.mad,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN ABS(CAST(v.cents AS DOUBLE) - a.med)
                              > 4.4478 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM vals v JOIN mad a USING (event_type)
    GROUP BY v.event_type, a.med, a.mad
    """,
    defer=True,
)
def b97_mad_outliers(spark, sf_dir):
    """Robust anomaly detection by median absolute deviation -- the
    outlier test that, unlike c14's z-score, is itself immune to the
    outliers it hunts (mean and stddev are corrupted by the anomalies;
    medians are not). Threshold 3 sigma-equivalents = 3 * 1.4826 * MAD.
    All inputs are integer cents, so both medians and every comparison
    are identical doubles cross-engine.

    Spark shape: two exact median aggs (the second over |x - med| after
    a broadcast join of the 5-row median table) + one counting pass --
    the fact table is never windowed or sorted globally; per-group
    median caps at the largest group, with b59's sketch as the
    documented swap-in."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    med = vals.groupBy("event_type").agg(
        F.expr("median(cents)").alias("med")
    )
    dev = vals.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("median(adev)").alias("mad")
    )
    return (
        vals.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.abs(F.col("cents").cast("double") - F.col("med"))
                    > 4.4478 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "med", "mad", "n_rows", "n_outliers")
    )


def _binary_stage_dir(sf_dir):
    """Stage a deterministic directory of raw binary files (the first
    16 documents' text bytes, one .bin each) -- the on-disk form
    multimodal corpora arrive in before any table exists. Delegates to
    staging.stage: ONE copy of the content-keyed atomic staging
    discipline (a hand-rolled twin here had already drifted from it)."""
    import os

    def write(tmp):
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            "SELECT doc_id, text FROM read_parquet(?) "
            "ORDER BY doc_id LIMIT 16",
            [os.path.join(sf_dir, "documents.parquet")],
        ).fetchall()
        con.close()
        for doc_id, text in rows:
            with open(os.path.join(tmp, f"doc_{doc_id:06d}.bin"), "wb") as f:
                f.write(text.encode("utf-8"))

    return stage("io", sf_dir, ("documents",), write, suffix="_bin")


@register(
    "b98_binaryfile_scan",
    """
    SELECT printf('doc_%06d.bin', doc_id) AS file_name,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 16)
    """,
    defer=True,
)
def b98_binaryfile_scan(spark, sf_dir):
    """B2+: RAW BINARY ingestion -- Spark's `binaryFile` source over a
    directory of opaque files (the front door of every multimodal
    pipeline: images/audio arrive as files, not rows). Emits file
    name, byte length, and content digest. The oracle recomputes all
    three from the DOCUMENTS table the files were staged from, so the
    whole file-write -> binaryFile-read round trip is certified
    byte-exact against the source of truth (not merely self-consistent
    with another reader of the same files). At 100 TB binaryFile
    parallelizes by file with maxPartitionBytes packing; decode
    happens downstream in c09's mapInPandas lane, never here."""
    d = _binary_stage_dir(sf_dir)
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


@register(
    "b99_variant_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_total,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max
    FROM events GROUP BY event_type
    """,
    defer=True,
)
def b99_variant_extract(spark, sf_dir):
    """Semi-structured analytics through the VARIANT type (Spark 4's
    binary JSON): props parses ONCE into variant and fields extract
    with typed paths -- unlike per-access get_json_object string
    re-parsing (A4/b33's lane), the open-format answer to schema
    drift: ingest keeps every field, queries bind types at read. At
    100 TB the parse is a narrow map and shredded variant columns
    carry only the accessed paths through the shuffle."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("k_total"),
        F.max(k).alias("k_max"),
    )


_RECURSIVE_WALK_SQL = V(
    """
    , asc_edges AS (
        SELECT DISTINCT src, dst FROM edges
        WHERE CAST(src AS BIGINT) < CAST(dst AS BIGINT)
    ),
    rseeds AS (
        SELECT DISTINCT person_id AS id FROM team_member
        WHERE team_id = '7'
    ),
    walk(start_id, node, depth) AS (
        SELECT id, id, 0 FROM rseeds
        UNION ALL
        SELECT w.start_id, e.dst, w.depth + 1
        FROM walk w JOIN asc_edges e ON e.src = w.node
        WHERE w.depth < 3
    )
    SELECT start_id, depth, COUNT(*) AS n_paths
    FROM walk GROUP BY start_id, depth
    """,
    recursive=True,
)


@register("b100_recursive_sql", _RECURSIVE_WALK_SQL, defer=True)
def b100_recursive_sql(spark, sf_dir):
    """RECURSIVE SQL, verbatim both engines (Spark 4's WITH RECURSIVE
    -- the b47 discipline applied to iteration): ascending-id path
    counts from the seed team, depth <= 3. The recursion walks a DAG
    (src < dst numerically), so UNION ALL -- the only recursive-union
    form Spark supports -- terminates without a dedup step; supporting
    CTEs use SELECT DISTINCT, never plain UNION, per the
    WITH RECURSIVE dedup caveat both engines share (views.py
    oracle_with_views). The DataFrame twins of this shape (bounded
    BFS, transitive closure with dedup-per-round) remain the 100 TB
    path -- g13/g12 -- because recursive SQL can't localCheckpoint
    per round; this certifies the SQL surface itself."""
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_WALK_SQL)


@register(
    "b101_dynamic_gap_sessions",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN 1800000000
                  ELSE 600000000 END AS gap_us
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ts_us, gap_us,
             MAX(ts_us + gap_us) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM ev
    ),
    brk AS (
      SELECT user_id, event_id, ts_us, gap_us,
             CASE WHEN prev_max_end IS NULL OR ts_us >= prev_max_end
                  THEN 1 ELSE 0 END AS b
      FROM marked
    ),
    grouped AS (
      SELECT user_id, ts_us, gap_us,
             SUM(b) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
      FROM brk
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us + gap_us) AS session_end_us,
           COUNT(*) AS n_events
    FROM grouped GROUP BY user_id, sess
    """,
    defer=True,
)
def b101_dynamic_gap_sessions(spark, sf_dir):
    """B37 dynamic form: session windows whose gap depends on the
    EVENT (purchases hold a session open 30 minutes, everything else
    10) -- the engagement model static gaps can't express. Each event
    claims the interval [ts, ts+gap); overlapping claims union into a
    session, end = the max claimed end. Spark's session_window with a
    gap EXPRESSION implements exactly that interval-union; the oracle
    replays it as a gaps-and-islands pass (running max of claimed
    ends, break where an event starts at-or-after it -- session ends
    are exclusive). One exchange keyed by user on both sides; total
    ordering by (ts, event_id) keeps tied timestamps
    engine-identical."""
    ev = _t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


@register(
    "b102_time_rollup_cascade",
    """
    WITH minutely AS (
      SELECT event_type, time_bucket(INTERVAL 1 MINUTE, ts) AS bkt,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
               AS v_fp
      FROM events GROUP BY 1, 2
    ),
    hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, bkt) AS bkt,
             CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(v_fp) AS BIGINT) AS v_fp
      FROM minutely GROUP BY 1, 2
    ),
    daily AS (
      SELECT event_type, time_bucket(INTERVAL 1 DAY, bkt) AS bkt,
             CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(v_fp) AS BIGINT) AS v_fp
      FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS lvl, event_type, epoch_us(bkt) AS bucket_us, n, v_fp
    FROM hourly
    UNION ALL
    SELECT 'day' AS lvl, event_type, epoch_us(bkt) AS bucket_us, n, v_fp
    FROM daily
    """,
    defer=True,
)
def b102_time_rollup_cascade(spark, sf_dir):
    """Hypertable-style continuous-aggregate cascade: hourly rollups
    re-aggregate the MINUTELY level and daily re-aggregates hourly --
    raw events are read once, at the finest grain, and every coarser
    resolution derives from the level below (the TSDB pattern that
    makes a year of history queryable at any resolution without
    rescanning facts; b70 is the incremental-refresh half, this is
    the resolution ladder). Only re-aggregatable state climbs the
    ladder -- counts and fixed-point sums here; avg derives at read
    time, and the b59/b69 sketches slot in for distincts/percentiles.
    The oracle computes the same cascade; equality with DIRECT
    per-level aggregation holds by associativity and is what the
    fixed-point representation guarantees cross-engine. Spark shape:
    one fact shuffle (the minutely agg); each subsequent level
    shuffles only the previous level's rows."""
    ev = _t(spark, sf_dir, "events")
    minutely = ev.groupBy(
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("bkt"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)")).alias(
            "v_fp"
        ),
    )
    # hourly feeds BOTH the daily rollup and the output union; the
    # lazy localCheckpoint (round 12) materializes the (event_type x
    # hour)-sized level once -- without it Catalyst plans the whole
    # minutely+hourly cascade per consumer and the FACT table is
    # scanned and minutely-aggregated twice
    hourly = (
        minutely.groupBy(
            "event_type", F.date_trunc("hour", F.col("bkt")).alias("bkt")
        )
        .agg(F.sum("n").alias("n"), F.sum("v_fp").alias("v_fp"))
        .localCheckpoint(eager=False)
    )
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", F.col("bkt")).alias("bkt")
    ).agg(F.sum("n").alias("n"), F.sum("v_fp").alias("v_fp"))

    def lvl(df, name):
        return df.select(
            F.lit(name).alias("lvl"),
            "event_type",
            F.unix_micros("bkt").alias("bucket_us"),
            "n",
            "v_fp",
        )

    return lvl(hourly, "hour").unionByName(lvl(daily, "day"))


@register(
    "b103_time_weighted_avg",
    """
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             epoch_us(ts) // 1000000 AS t_s,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    stepped AS (
      SELECT event_type, d, cents,
             COALESCE(
               LEAD(t_s) OVER (PARTITION BY event_type, d
                               ORDER BY t_s, event_id),
               epoch_us(CAST(d + INTERVAL 1 DAY AS TIMESTAMP)) // 1000000
             ) - t_s AS dur_s
      FROM ev
    )
    SELECT event_type, epoch_us(CAST(d AS TIMESTAMP)) AS day_us,
           CAST(SUM(dur_s) AS BIGINT) AS covered_s,
           CAST(SUM(cents * dur_s) AS BIGINT) AS weighted_cents_s,
           ROUND(CAST(SUM(cents * dur_s) AS DOUBLE)
                 / SUM(dur_s) / 100.0, 6) AS twa_value
    FROM stepped GROUP BY event_type, d
    """,
    defer=True,
)
def b103_time_weighted_avg(spark, sf_dir):
    """Time-weighted average over IRREGULAR samples -- the gauge
    statistic where the plain AVG lies (a value that held for 6 hours
    must outweigh one that held for a second): each reading holds
    until the next one in its (type, day) partition (step-function
    integral; the day's last reading extends to midnight). All
    arithmetic is integer cents x integer seconds -- products bounded
    far under 2^63 -- so the integral and its final division are
    engine-exact. Spark shape: ONE exchange keyed by (type, day)
    serves both the LEAD window and the aggregation (the agg keys
    extend the window partitioning); at 100 TB this is the same
    one-shuffle discipline as sessionize."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (F.unix_micros("ts") / 1_000_000).cast("long").alias("t_s"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w = Wnd.partitionBy("event_type", "d").orderBy("t_s", "event_id")
    day_end = (
        F.unix_micros(
            F.date_add(F.col("d"), 1).cast("timestamp")
        )
        / 1_000_000
    ).cast("long")
    stepped = ev.select(
        "event_type",
        "d",
        "cents",
        (
            F.coalesce(F.lead("t_s").over(w), day_end) - F.col("t_s")
        ).alias("dur_s"),
    )
    return stepped.groupBy("event_type", "d").agg(
        F.sum("dur_s").alias("covered_s"),
        F.sum(F.col("cents") * F.col("dur_s")).alias("weighted_cents_s"),
        F.round(
            F.sum(F.col("cents") * F.col("dur_s")).cast("double")
            / F.sum("dur_s")
            / 100.0,
            6,
        ).alias("twa_value"),
    ).select(
        "event_type",
        F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
        "covered_s",
        "weighted_cents_s",
        "twa_value",
    )


@register(
    "b104_bag_set_ops",
    """
    WITH a AS (
      SELECT l_suppkey AS k, CAST(ROUND(l_quantity, 0) AS BIGINT) AS q
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    b AS (
      SELECT l_suppkey AS k, CAST(ROUND(l_quantity, 0) AS BIGINT) AS q
      FROM lineitem WHERE l_linestatus = 'F'
    ),
    ex AS (SELECT 'except_all' AS op, k, q FROM (
             SELECT k, q FROM a EXCEPT ALL SELECT k, q FROM b)),
    inx AS (SELECT 'intersect_all' AS op, k, q FROM (
             SELECT k, q FROM a INTERSECT ALL SELECT k, q FROM b))
    SELECT op, k, q, COUNT(*) AS multiplicity
    FROM (SELECT * FROM ex UNION ALL SELECT * FROM inx)
    GROUP BY op, k, q
    """,
    defer=True,
)
def b104_bag_set_ops(spark, sf_dir):
    """B25/B26's BAG-semantics siblings: EXCEPT ALL and INTERSECT ALL
    preserve multiplicities (a row occurring 5 times in A and 2 in B
    survives EXCEPT ALL 3 times, INTERSECT ALL 2) -- the semantics
    reconciliation and audit queries actually need (set-EXCEPT hides
    duplicate-count drift entirely). Both engines implement the SQL
    standard's max(m-n,0)/min(m,n) rule; the result is emitted as
    (row, multiplicity) so the hash comparison pins the COUNTS, not
    just membership. Spark plans these as a single hash aggregation
    over tagged counts per side -- one shuffle each, no sort, no
    join."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_suppkey").alias("k"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("q"),
    )
    b = li.filter(F.col("l_linestatus") == "F").select(
        F.col("l_suppkey").alias("k"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("q"),
    )
    ex = a.exceptAll(b).select(F.lit("except_all").alias("op"), "k", "q")
    inx = a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "k", "q"
    )
    return (
        ex.unionByName(inx)
        .groupBy("op", "k", "q")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


@register(
    "b105_cdc_apply",
    """
    WITH base AS (
      SELECT doc_id, text, source FROM documents
    ),
    changes AS (
      -- the deterministic change feed: updates, deletes, inserts
      SELECT doc_id, 'U' AS op,
             'rev2: ' || text AS text, source
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id, 'D' AS op, NULL AS text, NULL AS source
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'I' AS op,
             'new: ' || text AS text, source
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
           COALESCE(c.text, b.text) AS text,
           COALESCE(c.source, b.source) AS source
    FROM base b
    FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    defer=True,
)
def b105_cdc_apply(spark, sf_dir):
    """The APPLY half of change-data-capture (c31 computes diffs;
    this consumes one): a keyed change feed of inserts / updates /
    deletes folded into the base snapshot in ONE full-outer join --
    updates take the change's columns, deletes drop the pair, inserts
    survive as right-only rows, untouched rows pass through. The
    b49-upsert/b48-SCD2 family's third member, and exactly what a
    foreachBatch sink does per micro-batch against a lakehouse table
    (s09). One shuffle on the key; at 100 TB the change feed is
    day-partition-pruned so the outer join touches only affected
    partitions. The feed here is derived deterministically from the
    fixture so both engines fold the identical changes."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    changes = _cdc_change_feed(docs)
    b, c = docs.alias("b"), changes.alias("c")
    return _cdc_apply_output(
        b.join(c, F.col("b.doc_id") == F.col("c.doc_id"), "full_outer")
    )


def _cdc_change_feed(docs):
    """b105's deterministic change feed (updates / deletes / inserts),
    shared by the shuffle lane and its bucketed twin."""
    upd = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0))
        .select(
            "doc_id",
            F.lit("U").alias("op"),
            F.concat(F.lit("rev2: "), F.col("text")).alias("text"),
            "source",
        )
    )
    dele = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("source"),
    )
    ins = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("I").alias("op"),
        F.concat(F.lit("new: "), F.col("text")).alias("text"),
        "source",
    )
    return upd.unionByName(dele).unionByName(ins)


def _cdc_apply_output(joined):
    """b105's fold projection (delete-filter + column coalesce), shared
    by both lanes."""
    return joined.filter(
        F.col("c.op").isNull() | (F.col("c.op") != "D")
    ).select(
        F.coalesce(F.col("c.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.coalesce(F.col("c.text"), F.col("b.text")).alias("text"),
        F.coalesce(F.col("c.source"), F.col("b.source")).alias("source"),
    )


def bucketed_documents_base(spark, sf_dir):
    """ONE bucketed+sorted-by-doc_id copy of documents, shared by every
    recurring doc_id-keyed merge lane (b105 CDC apply twin, c31
    snapshot-diff twin): the maintained 100 TB base a nightly pipeline
    folds deltas into. Bucketing it once at ingest removes the base
    side of every later merge's exchange -- the recurring cost becomes
    O(delta), not O(base)."""
    from ..sources.bucketed import bucketed_table

    return bucketed_table(
        spark,
        _t(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        f"bkt_documents_id_{source_tag(sf_dir)}",
        "doc_id",
        n_buckets=16,
        version=source_version(sf_dir, "documents"),
    )


@register(
    "b105_cdc_apply_bucketed",
    REGISTRY["b105_cdc_apply"].oracle,
    defer=True,
)
def b105_cdc_apply_bucketed(spark, sf_dir):
    """b105's layout twin: the CDC base snapshot lives bucketed+sorted
    by doc_id (bucketed_documents_base), so the nightly apply
    re-shuffles ONLY the change feed -- one Exchange sized O(changes),
    zero exchange on the base side (the plain lane re-shuffles the
    full base every apply). Same values as b105_cdc_apply (same
    oracle); plan pinned in tests/test_plan_shapes.py."""
    base = bucketed_documents_base(spark, sf_dir)
    changes = _cdc_change_feed(base)
    b, c = base.alias("b"), changes.alias("c")
    # merge hint: pins the bucket-local SMJ (the b07-twin regression;
    # a shuffled-hash plan would re-exchange the base side)
    return _cdc_apply_output(
        b.join(
            c.hint("merge"), F.col("b.doc_id") == F.col("c.doc_id"), "full_outer"
        )
    )


@register(
    "b106_salted_skew_join",
    f"""
    SELECT o.o_orderpriority,
           {fpsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    defer=True,
)
def b106_salted_skew_join(spark, sf_dir):
    """Salted SHUFFLE JOIN: the explicit skew remedy for a hash join
    whose key distribution is power-law (one hot orderkey lands a
    whole reducer's worth of probe rows on a single task). The probe
    (fact) side gets a deterministic salt in [0, S) from a hash of its
    full row key; the build side is replicated once per salt value;
    the join key becomes (key, salt), so a hot key's rows spread over
    S tasks. Result is byte-identical to the plain join (same oracle
    text as the unsalted shape), cost is an S-times replicated build
    side through the shuffle -- the documented trade.

    When to reach for it at 100 TB: AQE's skew-split
    (OptimizeSkewedJoin) is the first line and needs no code change,
    but it only engages on sort-merge/shuffled-hash plans it can
    re-plan at runtime. Explicit salting is the remedy where AQE
    cannot see or act -- bucketed zero-exchange layouts (b50),
    stream-static joins, and skewed AGGREGATION keys (a12's salted
    twin). The mechanism is the library's pipeline/edges.salted_join
    (deterministic xxhash64 salt + explode-replicated build side,
    left-preserving-join and column-collision guards, its own
    equality tests); the replicated side carries a merge hint: at
    test scale AQE would otherwise broadcast the replicated orders
    and the plan would never show the salted exchange the contract
    pins, and sort-merge (not shuffled-hash) is the honest 100 TB
    plan -- both sides are fact-sized, and SMJ spills where a
    shuffled-hash build of a fact-sized side would not. S=8 here;
    real deployments size S to the hot key's row count / target
    partition size."""
    from ..pipeline.edges import salted_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    return (
        salted_join(li, o.hint("merge"), "l_orderkey", buckets=8)
        .groupBy("o_orderpriority")
        .agg(
            fpsum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
