"""Physical-plan shape assertions (SURVEY.md §5 item 5): catch scale
regressions that row-level correctness tests can't see. Each assertion
is a 100 TB contract: a filter that stops reaching the parquet scan, a
broadcast that silently becomes a shuffle join, a top-k that becomes a
global sort — all invisible at sf0.001, all fatal at scale."""

from __future__ import annotations

import re

import pytest

from tests.oracle_utils import formatted_plan  # noqa: E402
from dgraph_etl_spark.registry import REGISTRY, _load_suites

_load_suites()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return formatted_plan(df)


CONTRACTS = [
    # (query, must_contain, must_not_contain, why)
    (
        "b01_scan_projection",
        ["GreaterThanOrEqual(l_shipdate", "ReadSchema: struct<l_orderkey"],
        ["l_comment"],
        "range filter pushed to parquet; untouched columns pruned",
    ),
    (
        "b08_join_broadcast",
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],
        "dim-table joins broadcast, never shuffle",
    ),
    (
        "b14_agg_tpch_q1",
        ["HashAggregate", "partial_", "LessThanOrEqual(l_shipdate"],
        ["l_comment", "Sort"],
        "map-side partial agg + pushed filter, no sort-based agg",
    ),
    (
        "b24_topk",
        ["TakeOrderedAndProject"],
        ["rangepartitioning"],
        "top-k is O(k)/partition, never a global sort",
    ),
    (
        "b23_sort_pagination",
        ["TakeOrderedAndProject"],
        ["rangepartitioning"],
        "sorted pagination stays a per-partition heap (limit+offset), no global sort",
    ),
    (
        "b04_partitioned_sink",
        ["PartitionFilters: [isnotnull(o_orderstatus", "= F)"],
        [],
        "partition-column filter prunes at file listing",
    ),
    (
        "c04_topk_cosine",
        ["TakeOrderedAndProject", "EqualTo(vec_id,0)"],
        [],
        "vector top-k: per-partition heap + pushed query-vector lookup",
    ),
    (
        "a12_max_score_per_edge",
        ["HashAggregate", "partial_max"],
        ["Sort"],
        "max-per-edge is hash agg with map-side combine (replaces rMap)",
    ),
    (
        "a06_trove_semi_join",
        ["Join LeftSemi"],
        [],
        "existence check is one semi-join, not N point lookups",
    ),
    (
        "a05_incremental_scan",
        ["PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"],
        [],
        "watermark resume predicate reaches the scan",
    ),
    (
        "c25_mixture_epochs",
        ["Generate"],
        ["Exchange"],
        "mixture upsampling is a narrow per-row explode -- zero shuffles",
    ),
    (
        "c26_sequence_chunks",
        ["Generate"],
        ["Exchange"],
        "sequence chunking is a narrow per-row explode -- zero shuffles",
    ),
    (
        "c07_top_bigrams",
        ["TakeOrderedAndProject", "partial_count"],
        ["Sort "],
        "bigram top-k is partial-agg + per-partition heaps, no global sort",
    ),
]


CONTRACTS += [
    (
        "b44_asof_join",
        ["Window"],
        ["CartesianProduct", "Join"],
        "as-of join is union+carry-forward: NO join operator may appear "
        "(a range-join formulation would explode |L|x|R| per key)",
    ),
    (
        "g09_triangle_count",
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "triangle closure is equi-joins only; a nested-loop join means "
        "the orientation predicate fell out of the join keys",
    ),
    (
        "b73_retention_cohorts",
        ["collect_set"],
        ["Join", "Expand"],
        "retention matrix is ONE per-user pass (round 12): a Join means "
        "the firsts-to-activity join came back, an Expand means the "
        "per-cell count regressed to a COUNT DISTINCT over non-unique "
        "user-weeks",
    ),
    (
        "b51_tpch_q3",
        ["TakeOrderedAndProject", "EqualTo(c_mktsegment,BUILDING)"],
        ["rangepartitioning", "CartesianProduct"],
        "Q3 top-10 is per-partition heaps; segment filter reaches the scan",
    ),
    (
        "g42_dql_normalize",
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],
        "@normalize attach joins broadcast their frontier-sized sides "
        "(round 13): a SortMergeJoin means a checkpointed value-variable "
        "block lost its broadcast hint and re-introduced an exchange + "
        "sort per nesting level",
    ),
    (
        "b52_tpch_q5",
        ["BroadcastHashJoin", "EqualTo(r_name,ASIA)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "Q5 dimension chain broadcasts; region filter reaches the scan; "
        "the c=s nationkey condition stays an equi/residual, never a "
        "nested loop",
    ),
    (
        "c27_span_dedup",
        ["HashAggregate", "windowspecdefinition(h#"],
        ["Expand", "Join"],
        "span duplication screen is a linear pipeline: distinct "
        "(h, doc) pairs, then a count window keyed by span hash -- "
        "never a count-distinct Expand and never a join back onto the "
        "exploded spans (the join form planned the explode+md5 subtree "
        "twice; 2.8x slower at 100x)",
    ),
    (
        "c28_token_commonness",
        ["HashAggregate", "partial_sum"],
        ["Expand", "Window"],
        "token commonness pre-aggregates (doc,token) tf before the "
        "token-keyed join; plain partial-sum aggs only",
    ),
    (
        "g15_link_prediction",
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "link-prediction wedge/anti/degree joins are all equi-joins; a "
        "nested loop means the x<y predicate displaced the join keys",
    ),
    (
        "b54_exists_subquery",
        ["Join LeftSemi", "Join LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "correlated EXISTS/NOT EXISTS decorrelate to one semi + one "
        "anti join -- never per-row subquery re-execution",
    ),
    (
        "b58_binned_range_join",
        ["BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "binned interval join is a hash join on the bin key; the range "
        "predicate is a residual, not the join itself",
    ),
    (
        "b12_join_range",
        ["BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "the B12 operator surface ships the binned equi-join plan by "
        "default -- the naive nested-loop translation never plans",
    ),
    (
        "b106_salted_skew_join",
        ["SortMergeJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "ShuffledHashJoin"],
        "the salted join exercises the sort-merge shuffle lane it "
        "exists for (a broadcast build makes salting a no-op; a "
        "shuffled-hash build of a fact-sized side cannot spill); the "
        "salt-in-partitioning property has its own dedicated test",
    ),
    (
        "b63_forward_fill",
        ["Window"],
        ["rangepartitioning", "Join"],
        "forward fill is one per-key running window -- no join, no "
        "global sort",
    ),
    (
        "c34_intradoc_span_dedup",
        ["HashAggregate"],
        ["rangepartitioning", "Window"],
        "intra-doc dedup is doc-keyed hash aggs with in-row reassembly "
        "-- no global sort, no window",
    ),
    (
        "c37_exact_k_sample",
        ["Window"],
        ["rangepartitioning"],
        "exact-k sampling windows per language stratum, never a global "
        "sort",
    ),
    (
        "c40_hard_negatives",
        ["HashAggregate", "Window"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "hard-negative candidates come from the SRP band-bucket "
        "equi-join (label inequality is a residual); an all-pairs "
        "nested loop means the bucketing fell out of the join keys",
    ),
    (
        "g31_dql_filter_algebra",
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        "DQL filter algebra is broadcast semi/anti set ops on small "
        "uid frontiers; a sort-merge join means a frontier stopped "
        "broadcasting",
    ),
    (
        "g32_dql_ordered_page",
        ["TakeOrderedAndProject"],
        ["rangepartitioning"],
        "DQL orderasc+first pagination is per-partition heaps (the "
        "b24 shape), never a global range sort",
    ),
    (
        "g33_dql_count_fanout",
        ["HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin"],
        "count(pred) semi-joins the broadcast root into the edge "
        "table BEFORE aggregating; a sort-merge join or full-table "
        "agg means the root-scoping fell out",
    ),
    (
        "g34_dql_recurse",
        [],
        ["Exchange", "SortMergeJoin"],
        "the recurse reach set is a checkpointed BFS result: its "
        "consuming plan is a plain scan with no residual exchange "
        "(per-level lineage truncation held)",
    ),
    (
        "g37_dql_groupby",
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "rangepartitioning"],
        "@groupby broadcasts the frontier into the attribute join and "
        "reduces with one hash aggregate -- never a shuffle of the "
        "attribute table or a sort-based agg",
    ),
    (
        "g38_dql_facet_filter",
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        "the facet-pruned traversal is checkpointed (like g34), so "
        "the count's consuming plan is scan + hash aggregate -- a "
        "join or sort appearing means the facet predicate stopped "
        "being a scan-level filter upstream",
    ),
]


@pytest.mark.parametrize(
    "name,must,must_not,why", CONTRACTS, ids=[c[0] for c in CONTRACTS]
)
def test_plan_shape(spark, sf_small, name, must, must_not, why):
    plan = plan_of(spark, sf_small, name)
    for frag in must:
        assert frag in plan, f"{name}: expected `{frag}` in plan ({why})"
    for frag in must_not:
        assert frag not in plan, f"{name}: `{frag}` must not appear ({why})"


def test_span_dedup_single_explode(spark, sf_small):
    """C27 scale contract: the explode+md5 span subtree is planned
    EXACTLY ONCE. The pre-rewrite groupBy-then-join form planned it
    twice (agg branch + join branch need differently-projected
    exchanges, so Catalyst cannot reuse one) and the duplicated span
    materialization was the superlinear term in the 100x soak."""
    plan = plan_of(spark, sf_small, "c27_span_dedup")
    assert plan.count(") Generate") == 1, plan


def test_asof_join_exchange_budget(spark, sf_small):
    """B44 scale contract (tightened round 12): exactly ONE exchange
    -- the carry-forward window's user keying. The quote pre-dedup agg
    no longer exists (equal-ts duplicates resolve inside the window's
    sort via right_order), so a second exchange reappearing means the
    pre-agg snuck back in."""
    plan = plan_of(spark, sf_small, "b44_asof_join")
    assert plan.count(") Exchange") == 1, plan


def test_sessionize_single_exchange(spark, sf_small):
    """B45 scale contract: ONE exchange total -- the lag window, the
    running-sum window, and the per-session agg all reuse the
    hashpartitioning(user_id) produced for the first window (the agg's
    (user_id, session_seq) clustering is satisfied by it)."""
    plan = plan_of(spark, sf_small, "b45_sessionize")
    assert plan.count(") Exchange") == 1, plan


def test_hash_split_zero_exchange(spark, sf_small):
    """C10/c11_hash_split scale contract: the train/val/test split is a pure per-row
    expression -- ZERO exchanges; anything else means the split started
    shuffling 100 TB to assign labels."""
    plan = plan_of(spark, sf_small, "c11_hash_split")
    assert ") Exchange" not in plan, plan


def test_scd2_intervals_single_exchange(spark, sf_small):
    """B48 scale contract: the SCD2 history build is ONE exchange
    (hashpartitioning on user_id) feeding LEAD + projection -- never a
    self-join on 'next change'."""
    plan = plan_of(spark, sf_small, "b48_scd2_intervals")
    assert plan.count(") Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_stream_source_stays_single_batch(sf_small):
    """s11's stream/batch equivalence rests on the events stream source
    being ONE file => one availableNow micro-batch (no cross-batch
    state eviction). Pin that staging invariant."""
    import os

    from dgraph_etl_spark.streaming.core import _scratch_stream_dir

    d = _scratch_stream_dir(sf_small)
    files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
    assert files == ["events.parquet"], files


def test_release_gate_single_corpus_shuffle_and_broadcast_anti(spark, sf_small):
    """C24 scale contract: the contaminated-id screen must ride a
    BROADCAST LeftAnti join (never a shuffled anti-join of the corpus),
    and the shingle side must also broadcast -- the only corpus
    exchanges allowed are the quality window's lang partitioning and
    AQE artifacts, not gram-keyed shuffles."""
    plan = plan_of(spark, sf_small, "c24_release_gate")
    # JOINT fragment: decoupled "BroadcastHashJoin" + "LeftAnti"
    # substrings stayed green if the anti-join regressed to a
    # ShuffledHashJoin while any OTHER join still broadcast
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_contamination_screen_broadcasts_eval_side(spark, sf_small):
    """C21 scale contract: the eval/benchmark shingle set is the tiny
    side and must BROADCAST; the corpus must never be sort-merge
    shuffled by shingle (that would shuffle ~100 TB of exploded
    grams)."""
    plan = plan_of(spark, sf_small, "c21_contamination_screen")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan  # gram-keyed corpus shuffle


def test_hash_split_respects_custom_key(spark):
    """A non-default key on a DataFrame WITHOUT doc_id must work and
    pair the split with that key's values (regression: the output
    select once hardcoded doc_id)."""
    from dgraph_etl_spark.functions.text import hash_split

    df = spark.range(10).withColumnRenamed("id", "vec_id")
    out = hash_split(df, key="vec_id")
    assert out.columns == ["vec_id", "bucket", "split"]
    assert {r.vec_id for r in out.collect()} == set(range(10))


def test_token_budget_pack_no_global_window_over_docs(spark, sf_small):
    """C13 scale contract: the doc-side cumsum window is partitioned by
    the length band (hashpartitioning(bkt)); the only single-partition
    stage is the B-row bucket-totals window, which must sit under the
    broadcast side of the offsets join -- never a full-table sort."""
    plan = plan_of(spark, sf_small, "c13_token_budget_pack")
    assert "hashpartitioning(bkt" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the doc-side window must not be the single-partition one. In
    # formatted explain the distribution sits on its own "Arguments:"
    # line ("Exchange SinglePartition" never occurs as a substring,
    # and a split-region check reads the join's ANCESTORS, not its
    # build side) -- so pin the COUNT: exactly one single-partition
    # exchange total, the B-row bucket-totals window
    assert plan.count("Arguments: SinglePartition") <= 1, plan


def test_funnel_single_exchange(spark, sf_small):
    """B46 scale contract: ONE exchange total -- the per-user window
    (first_view) and the funnel hash agg share hashpartitioning
    (user_id). A second exchange would mean the agg re-shuffled what
    the window already clustered."""
    plan = plan_of(spark, sf_small, "b46_funnel_steps")
    assert plan.count(") Exchange") == 1, plan


def test_ivf_persisted_probe_prunes_partitions(spark, sf_small):
    """C4 index contract: the probe scan must prune unprobed cells at
    the file listing (PartitionFilters over the cell column) -- at
    scale this is what makes IVF touch ~nprobe/ncells of the corpus."""
    plan = plan_of(spark, sf_small, "c04_ivf_persisted")
    assert "PartitionFilters: [label" in plan, plan


def test_ivf_persisted_equals_in_memory_ivf(spark, sf_small):
    """The persisted-index probe must return exactly the in-memory IVF
    result (same cells probed, same re-rank)."""
    from dgraph_etl_spark.registry import REGISTRY

    a = REGISTRY["c04_ivf_persisted"].fn(spark, sf_small).collect()
    b = REGISTRY["c04_ivf_topk"].fn(spark, sf_small).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_incremental_dedup_screens_are_joins_not_products(spark, sf_small):
    """C15 scale contract: both screens (exact hash, fuzzy jaccard)
    must be equi-joins/anti-joins -- a nested-loop or cartesian product
    means a screen degenerated to batch x corpus pairwise work."""
    plan = plan_of(spark, sf_small, "c15_incremental_dedup")
    assert "Join LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _plan_tree(plan: str) -> list[str]:
    """The operator-tree lines of a formatted plan (the block between
    the header and the per-node details)."""
    return plan.split("== Physical Plan ==\n", 1)[1].split("\n\n", 1)[0].splitlines()


def _node_details(plan: str, node: str) -> str:
    """The formatted-plan details block of the node whose tree line is
    ``node`` (e.g. ``+- Filter (47)``)."""
    nid = re.search(r"\((\d+)\)$", node).group(1)
    return plan.split(f"\n({nid}) ", 1)[1].split("\n\n", 1)[0]


def test_ngram_jaccard_one_equi_join_one_agg_pair(spark, sf_small):
    """c02_ngram_jaccard (the curation benchmark's near-dup hot path,
    via dedup.set_overlap): exactly ONE join, an equi-join on (blk, g)
    with the doc-id order as its residual, and ONE partial/final
    HashAggregate pair -- a second pair means a per-doc sizes
    aggregate came back instead of the in-row sizes; a nested loop
    means the element keys fell out of the join."""
    plan = plan_of(spark, sf_small, "c02_ngram_jaccard")
    tree = _plan_tree(plan)
    joins = [ln for ln in tree if "Join" in ln]
    assert len(joins) == 1, tree
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    details = _node_details(plan, joins[0])
    assert re.search(r"Left keys \[2\]: \[blk#\d+, g#\d+\]", details), details
    assert re.search(r"Right keys \[2\]: \[blk#\d+, g#\d+\]", details), details
    assert sum("HashAggregate" in ln for ln in tree) == 2, tree
    assert plan.count("partial_count(1)") == 1, plan


def test_gram_rows_build_grams_once(spark):
    """dedup.gram_rows (the exploded shingles behind c02/c15/c17/c21/
    c42/c64) builds each doc's gram array ONCE: a plain explode makes
    Spark infer a size(gs) > 0 filter and push it below the projection
    that names gs, inlining -- and so re-running -- the gram
    expression under the explode."""
    from dgraph_etl_spark.functions.dedup import gram_rows

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    plan = (
        gram_rows(docs, 2, "doc_id")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("transform(") == 1, plan


def test_link_prediction_threshold_below_anti_join(spark, sf_small):
    """g15: the set sizes (degrees) ride in-row through the wedge's
    set_overlap, so the jaccard >= threshold Filter is computable --
    and plans -- BELOW the existing-edge LeftAnti join: the anti-join
    only probes scored survivors."""
    plan = plan_of(spark, sf_small, "g15_link_prediction")
    tree = _plan_tree(plan)
    at = [i for i, ln in enumerate(tree) if "Join LeftAnti" in ln]
    assert len(at) == 1, tree
    depth = len(tree[at[0]]) - len(tree[at[0]].lstrip(" :+-|"))
    below = []
    for ln in tree[at[0] + 1:]:
        if len(ln) - len(ln.lstrip(" :+-|")) <= depth:
            break
        below.append(ln)
    thresholds = [
        ln
        for ln in below
        if re.search(r"\bFilter \(\d+\)$", ln)
        and ">= 0.3)" in _node_details(plan, ln)
    ]
    assert len(thresholds) == 1, (
        "the jaccard threshold Filter must sit below the LeftAnti join",
        tree,
    )


def test_bucketed_join_zero_exchange_zero_sort(spark, sf_small):
    """B50 scale contract: with both sides bucketed+sorted by the join
    key into matching bucket counts, the equi-join itself needs NO
    exchange and NO sort -- the only exchange in the whole query is the
    final small per-nation aggregate. A regression here means the
    recurring fact-fact join went back to shuffling 100 TB per run."""
    from dgraph_etl_spark.suites.relational_closure import (
        _bucketed_join_inputs,
    )

    orders, cust = _bucketed_join_inputs(spark, sf_small)
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    # at fixture scale the small side would broadcast (also exchange-free
    # but proves nothing about bucketing); force the 100 TB fact-fact
    # planning where neither side fits an executor
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_ordering = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # one file per bucket is written sorted, but since 3.0 Spark only
    # TRUSTS that order under the opt-in conf; without it the join is
    # still exchange-free, just re-sorted per bucket
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        plan = formatted_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_ordering is None:
            spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        else:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", prev_ordering
            )
    import re

    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert ") Exchange" not in plan, plan
    assert not re.search(r"\) Sort\b(?!MergeJoin)", plan), plan


def test_b07_bucketed_twin_contract(spark, sf_small):
    """The b07 headline twin's scale contract: (a) values identical to
    the shuffle lane b07_join_inner, (b) the lineitem<->orders join
    reads both sides bucketed (Bucketed: true, SelectedBucketsCount
    32/32) with no exchange between the scans and the join -- the
    shuffle that costs 36x at 100x data (SCALE.md) is elided by
    layout."""
    import re

    plain = REGISTRY["b07_join_inner"].fn(spark, sf_small)
    bucketed = REGISTRY["b07_join_inner_bucketed"].fn(spark, sf_small)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bucketed.collect())
    )
    # the plan is captured under the DEFAULT config: the previous
    # disable-broadcast-then-capture masked a real regression where a
    # pruned-size estimate under the threshold flipped the fact-fact
    # join to BROADCASTING the 15M-row orders side (6x slower at 100x,
    # executor-OOM on a cluster); the merge hint now pins the SMJ and
    # this contract would catch the flip
    plan = formatted_plan(bucketed)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") >= 2, plan
    assert "SelectedBucketsCount: 32 out of 32" in plan, plan
    # the bucketed layout's whole point: NO exchange re-partitions on
    # the orderkey anywhere in the plan (the remaining exchanges key
    # on custkey/mktsegment). Formatted explain puts the distribution
    # on an "Arguments: hashpartitioning(...)" line, so match the
    # distribution text itself, not "Exchange hashpartitioning" (which
    # never occurs as a substring in this mode)
    assert not re.search(r"hashpartitioning\(.*[lo]_orderkey", plan), plan
    # (any Sort left is the in-partition per-bucket sort Spark inserts
    # when legacy bucketedTableScan.outputOrdering is off -- local
    # work, no exchange; the zero-sort capture is b50's contract test)


def test_b87_bucketed_twin_contract(spark, sf_small):
    """The b87 layout twin's scale contract: (a) values identical to
    the shuffle lane b87_tpch_q21, (b) the lineitem<->orders join reads
    both sides bucketed and NOTHING in the plan re-partitions on the
    orderkey -- the join and BOTH grouping levels (per-(order,supp),
    per-order) run bucket-local, because hash-partitioning by orderkey
    already clusters every group of both aggs. The 100x profile put
    ~85% of b87's compute in exactly that shuffle (SCALE.md)."""
    import re

    plain = REGISTRY["b87_tpch_q21"].fn(spark, sf_small)
    bucketed = REGISTRY["b87_tpch_q21_bucketed"].fn(spark, sf_small)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bucketed.collect())
    )
    plan = formatted_plan(bucketed)
    assert "SortMergeJoin" in plan, plan  # merge hint pins the SMJ
    assert plan.count("Bucketed: true") >= 2, plan
    assert "SelectedBucketsCount: 32 out of 32" in plan, plan
    assert not re.search(r"hashpartitioning\(.*[lo]_orderkey", plan), plan


def test_cube_one_expand_one_agg(spark, sf_small):
    """B92 scale contract: the CUBE is ONE Expand feeding a single
    shared-scan hash agg (partial+final) -- never a Union of separate
    per-grouping-set aggregates, which would rescan lineitem 4x."""
    plan = plan_of(spark, sf_small, "b92_cube_rollup")
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan
    assert plan.count(") Exchange") == 1, plan


def test_q21_two_level_agg_no_expand(spark, sf_small):
    """B87 scale contract: the triple-EXISTS fold stays a two-level
    hash agg over ONE lineitem scan with no Expand -- a single-level
    multi-countDistinct would re-introduce Expand (3x the shuffled
    join output), and any lineitem self-join would mirror the oracle's
    O(3 scans) shape."""
    plan = plan_of(spark, sf_small, "b87_tpch_q21")
    assert "Expand" not in plan, plan
    assert plan.count("lineitem") == 1, plan
    # round 12: ONE fact-grain exchange (REPARTITION_BY_COL on
    # l_orderkey feeds both agg levels) + the ~100-supplier rollup
    assert plan.count(") Exchange") <= 2, plan
    assert "REPARTITION_BY_COL" in plan, plan


def test_q20_fused_single_lineitem_pass(spark, sf_small):
    """B91 scale contract: the derived-partsupp aggregate and the
    correlated 1996-quantity subquery are FUSED -- lineitem is scanned
    once and shuffled once (plus the tiny distinct), instead of the
    textual plan's two scans joined back together."""
    plan = plan_of(spark, sf_small, "b91_tpch_q20")
    assert plan.count("lineitem") == 1, plan
    assert plan.count(") Exchange") <= 2, plan


def test_ntile_single_exchange(spark, sf_small):
    """B93 scale contract: the NTILE window and the per-bin summary
    agg share ONE exchange (the bin keys extend the window's
    partitioning) -- a second exchange would mean the summary
    re-shuffles the fact table."""
    plan = plan_of(spark, sf_small, "b93_ntile_binning")
    assert plan.count(") Exchange") == 1, plan


def test_interpolate_exchange_budget(spark, sf_small):
    """B96 scale contract: at most three exchanges -- the daily
    rollup, the type spine, and ONE serving both anchor windows
    (prev/next share partitioning and ordering). More means the
    mirrored window frames stopped sharing their sort."""
    plan = plan_of(spark, sf_small, "b96_linear_interpolate")
    assert plan.count(") Exchange") <= 3, plan
    assert plan.count("SortMergeJoin") == 0, plan


def test_salted_join_salt_drives_partitioning(spark, sf_small):
    """B106 scale contract: the salt is a PARTITIONING key, not just a
    projected column -- both shuffle exchanges hash on (key, _salt),
    so a hot orderkey's probe rows land on S different tasks. A bare
    substring check would pass even if the salt fell out of the join
    condition (the explode still projects it); this pins it inside
    hashpartitioning(...)."""
    import re

    plan = plan_of(spark, sf_small, "b106_salted_skew_join")
    parts = re.findall(r"hashpartitioning\((.*)\)", plan)
    salted = [p for p in parts if "_salt" in p and "l_orderkey" in p]
    assert len(salted) >= 2, (
        f"expected both join-side exchanges keyed by (l_orderkey, _salt); "
        f"hashpartitioning args seen: {parts}"
    )


# --- PLAN_AUDIT lockfile: headline plans vs the committed audit ------
#
# The round-8 bucketed-lane regression (a pruned-size estimate dropped
# under autoBroadcastJoinThreshold and silently broadcast a 15M-row
# fact side) was caught only because the 100x soak happened to re-run;
# PLAN_AUDIT.md would have shown `bhj 0->1` the moment it happened.
# This test makes that signal a gate: every bench headline query's
# plan-feature counts must equal the committed PLAN_AUDIT.md row, so
# any exch/bhj/smj/shj/bnlj/expand/topk/gsort drift fails CI and
# PLAN_AUDIT.md must be regenerated (tools/plan_audit.py) in the same
# commit that changes a plan.
#
# scans/wsc are excluded: scan counts vary with staged-layout cache
# state (a bucketed table staged by an earlier test changes nothing
# about shuffle behavior), and codegen-span ids depend on fragment
# fusion order — neither is a 100 TB contract.

def _headline_names() -> list[str]:
    # import with the soak-subset env var cleared: a lingering
    # SPARK_GRAFT_BENCH_QUERIES must not narrow this gate's coverage
    # (HEADLINE_ALL is pre-filter anyway) nor SystemExit collection
    # on an unknown name
    import os

    saved = os.environ.pop("SPARK_GRAFT_BENCH_QUERIES", None)
    try:
        import bench  # repo root
    finally:
        if saved is not None:
            os.environ["SPARK_GRAFT_BENCH_QUERIES"] = saved
    return list(bench.HEADLINE_ALL)


# Every query whose frontier hop goes through graph/traverse.out_pairs
# (k_hop, the DQL front end, g21), plus g24/g27, whose relaxation_rounds
# shares its NULL-dst rule: one edit to the shared hop moves all of
# their plans at once.
_FRONTIER_HOP_QUERIES = [
    "g01_team_seed", "g02_hop1", "g03_hop2", "g03_hop2_coldedges",
    "g04_hop_counts", "g05_fof_persons", "g06_khop_k3", "g13_bfs_distance",
    "g21_path_multiplicity", "g24_bottleneck_paths",
    "g27_weighted_shortest_path", "g30_dql_reference_query",
    "g31_dql_filter_algebra", "g32_dql_ordered_page", "g33_dql_count_fanout",
    "g34_dql_recurse", "g35_dql_value_aggregates", "g36_dql_value_filter",
    "g37_dql_groupby", "g38_dql_facet_filter", "g39_dql_term_search",
    "g40_dql_between", "g41_dql_expand_all", "g42_dql_normalize",
    "g43_dql_fulltext",
]


def _locked_names() -> list[str]:
    names = _headline_names()
    return names + [n for n in _FRONTIER_HOP_QUERIES if n not in names]


_LOCKED_KEYS = ("exch", "bhj", "smj", "shj", "bnlj", "expand", "topk", "gsort")


def test_plan_audit_covers_every_batch_query():
    """Round-11 verdict finding: g40/g41 were registered in the same
    round as the last audit run but had no PLAN_AUDIT.md rows -- the
    audit had silently drifted two queries stale. Gate: EVERY
    registered batch query has an audit row (streaming 's*' lanes are
    audited by their suite oracles instead), so adding a batch lane
    without regenerating the audit (tools/plan_audit.py) fails in the
    same commit. An ERROR row does not parse as a row and fails here
    too -- a query whose plan cannot compile must not ship silently."""
    import os

    from dgraph_etl_spark.registry import REGISTRY, _load_suites
    from tools.plan_audit import parse_audit_md

    _load_suites()
    audit_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.md",
    )
    committed = parse_audit_md(audit_path)
    batch = {n for n in REGISTRY if not n.startswith("s")}
    missing = sorted(batch - set(committed))
    assert not missing, (
        f"batch queries with no PLAN_AUDIT.md row: {missing} -- "
        "regenerate with tools/plan_audit.py in this commit"
    )


@pytest.mark.parametrize("name", _locked_names())
def test_headline_plan_matches_audit_lockfile(spark, sf_small, name):
    import os

    from dgraph_etl_spark.graph.traverse import evict_frontier_caches
    from tools.plan_audit import parse_audit_md, plan_stats

    audit_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.md",
    )
    committed = parse_audit_md(audit_path)
    assert name in committed, (
        f"{name} is plan-locked but has no PLAN_AUDIT.md row -- "
        "regenerate with tools/plan_audit.py"
    )
    # planned like tools/plan_audit.py: against no earlier test's
    # cached k_hop frontiers, so the row holds in any test order
    evict_frontier_caches()
    live = plan_stats(plan_of(spark, sf_small, name))
    drift = {
        k: (committed[name][k], live[k])
        for k in _LOCKED_KEYS
        if committed[name][k] != live[k]
    }
    assert not drift, (
        f"{name} physical plan drifted from the committed PLAN_AUDIT.md "
        f"(committed, live): {drift} -- if intentional, regenerate "
        "PLAN_AUDIT.md in the same commit"
    )


def test_merge_lane_bucketed_twin_contracts(spark, sf_small):
    """The recurring keyed-merge layout twins (b49 upsert, b105 CDC
    apply, c31 snapshot diff): (a) values identical to their shuffle
    lanes, (b) the maintained base is read bucketed with NO exchange
    re-partitioning it -- the recurring merge's shuffle is O(delta)
    (b49/b105: one exchange, feed side only) or zero (c31: both
    snapshots bucketed), never O(base). Pinned under the DEFAULT
    config (the b07-twin silent-broadcast lesson)."""
    import re

    for plain_name, twin_name, max_exchanges in [
        ("b49_merge_upsert", "b49_merge_upsert_bucketed", 1),
        ("b105_cdc_apply", "b105_cdc_apply_bucketed", 1),
        ("c31_snapshot_diff", "c31_snapshot_diff_bucketed", 0),
    ]:
        plain = REGISTRY[plain_name].fn(spark, sf_small)
        twin = REGISTRY[twin_name].fn(spark, sf_small)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, twin.collect())
        ), twin_name
        # plan captured from a FRESH instance: after an action, the
        # formatted explain of an AQE plan prints the final AND the
        # initial plan, double-counting every operator
        plan = formatted_plan(REGISTRY[twin_name].fn(spark, sf_small))
        assert "SortMergeJoin FullOuter" in plan, (twin_name, plan)
        assert "Bucketed: true" in plan, (twin_name, plan)
        # count real exchange operators via numbered detail headers
        # (bare substrings double-count tree line + header)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_ex <= max_exchanges, (twin_name, n_ex, plan)
        if max_exchanges == 0:
            assert plan.count("Bucketed: true") >= 2, (twin_name, plan)


def test_pinned_partition_cache_join_contract(spark):
    """session.pinned_partition_cache: the big side of a keyed join
    against the pinned cache plans with NO Exchange and NO Sort above
    the InMemoryTableScan (the cache is registered AQE-off so the
    InMemoryRelation advertises HashPartitioning + ordering; under
    plain persist/localCheckpoint both report UnknownPartitioning and
    the per-round join re-shuffles -- the round-10 regression class),
    and session.RoundLane only pays for pinned caches at the per-round
    broadcast ceiling, and drops them on exit."""
    import re

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dgraph_etl_spark.session import (
        PER_ROUND_BCAST_CEILING_ROWS,
        RoundLane,
        pinned_partition_cache,
    )

    # DISTINCT logical plans per probe: the cache manager matches
    # entries by plan equality, so an unpersist of one probe would
    # silently evict an identical-plan sibling's cache
    base = spark.range(2000).select(
        (F.col("id") % 97).alias("u"), F.col("id").alias("v")
    )
    edges = spark.range(2001).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    )
    pinned = pinned_partition_cache(base, "u")
    try:
        # lane selection: under the ceiling -> one shared cheap
        # checkpoint for both keys (not cached)
        with RoundLane(10) as lane:
            by_src, by_dst = lane.static(edges, "src", "dst")
            assert by_src is by_dst
            assert by_src.storageLevel == StorageLevel.NONE, by_src.storageLevel
        # at the ceiling -> one pinned cache per key, unpersisted when
        # the with block is left
        with RoundLane(PER_ROUND_BCAST_CEILING_ROWS) as lane:
            hot = lane.static(edges, "src", "dst")
            assert hot[0] is not hot[1]
            assert all(h.storageLevel != StorageLevel.NONE for h in hot)
        assert all(h.storageLevel == StorageLevel.NONE for h in hot)

        right = spark.range(500).select(
            F.col("id").alias("k"), F.lit(1).alias("w")
        )
        j = (
            pinned.join(
                right.hint("merge"), pinned["u"] == right["k"]
            )
            .groupBy("v")
            .agg(F.sum("w").alias("s"))
        )
        plan = formatted_plan(j)
        scan = re.search(r"\((\d+)\) InMemoryTableScan", plan)
        assert scan, plan
        # the cached side's join branch: between the SMJ and the scan
        # there must be neither an Exchange nor a Sort (tree renders
        # the left branch lines as ':- ...' up to the right branch)
        tree = plan.split("(1) ", 1)[0]
        left_branch = "\n".join(
            line for line in tree.splitlines() if ":-" in line or "InMemory" in line
        )
        assert "InMemoryTableScan" in left_branch, plan
        assert "Exchange" not in left_branch, plan
        assert not re.search(r"\bSort\b(?!MergeJoin)", left_branch), plan
    finally:
        pinned.unpersist()


def test_pinned_partition_cache_concurrent_registrations(spark):
    """Round-10 verdict #4: two pinned-cache registrations racing each
    other (and a third thread compiling plans mid-window) must leave
    the session adaptive, pin BOTH caches' partitioning, and compute
    correct results. Without the module lock, the interleaved
    read-modify-write of spark.sql.adaptive.enabled can restore the
    OTHER caller's 'false' -- permanently disabling AQE -- or register
    a cache with AQE back on (losing its pinned partitioning)."""
    import re
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dgraph_etl_spark.session import pinned_partition_cache

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    bases = [
        spark.range(3000 + i).select(
            (F.col("id") % 89).alias("u"), F.col("id").alias("v")
        )
        for i in range(2)
    ]

    def compile_plans():
        # an unrelated query compiling DURING the flip window: must
        # plan and run correctly either way (adaptively or not)
        out = []
        for i in range(6):
            df = (
                spark.range(200 + i)
                .select((F.col("id") % 7).alias("k"))
                .groupBy("k")
                .count()
            )
            out.append(df.count())
        return out

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(pinned_partition_cache, b, "u") for b in bases]
        side = pool.submit(compile_plans)
        pinned = [f.result() for f in futs]
        assert side.result() == [7] * 6

    try:
        # the session conf is restored no matter how the two windows
        # interleaved
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        for i, p in enumerate(pinned):
            # both caches pinned their partitioning: a keyed merge
            # join plans with no Exchange/Sort over the cached branch
            right = spark.range(89).select(
                F.col("id").alias("k"), F.lit(1).alias("w")
            )
            j = p.join(right.hint("merge"), p["u"] == right["k"])
            plan = formatted_plan(j)
            tree = plan.split("(1) ", 1)[0]
            left_branch = "\n".join(
                line
                for line in tree.splitlines()
                if ":-" in line or "InMemory" in line
            )
            assert "InMemoryTableScan" in left_branch, (i, plan)
            assert "Exchange" not in left_branch, (i, plan)
            assert not re.search(r"\bSort\b(?!MergeJoin)", left_branch), (
                i,
                plan,
            )
            # and both results are right: every id lands exactly once
            assert p.count() == 3000 + i
            assert p.select(F.sum("v")).first()[0] == sum(
                range(3000 + i)
            )
    finally:
        for p in pinned:
            p.unpersist()


def test_pinned_state_round_plan_single_exchange(spark):
    """Round-12 pinned-STATE lane (r11 verdict #6): with the edge side
    pinned by src and the rank state pinned by node, a full
    pagerank-shaped round -- state->share projection riding
    hash(node)=hash(src) into the edges join, groupBy(dst) agg,
    rebuild left-join, dangling cross-join -- plans with exactly ONE
    hash-partitioned Exchange: the aggregation's, which is fundamental
    to the operator. The state branch of the rebuild join must carry
    neither Exchange nor Sort. Broadcasts are disabled for the probe
    so the planner must prove co-partitioning (at real lane scale,
    >= PER_ROUND_BCAST_CEILING_ROWS rows, it cannot broadcast either).
    Then session.pinned_state_cache must re-pin the round output's
    partitioning WITHOUT a repartition, so the NEXT round plans the
    same way -- the mechanism the per-round localCheckpoint erased."""
    import re

    from pyspark.sql import functions as F

    from dgraph_etl_spark.session import (
        pinned_partition_cache,
        pinned_state_cache,
    )

    edges = spark.range(4000).select(
        (F.col("id") % 211).cast("string").alias("src"),
        ((F.col("id") * 7 + 3) % 211).cast("string").alias("dst"),
    )
    nodes = spark.range(211).select(
        F.col("id").cast("string").alias("node"),
        F.when(F.col("id") % 5 != 0, (F.col("id") % 13 + 1).cast("double")).alias("om"),
        F.lit(1.0 / 211).alias("rank"),
    )
    e = pinned_partition_cache(edges, "src")
    cur = pinned_partition_cache(nodes, "node")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    nxt = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dangling = cur.filter(F.col("om").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass")
        )
        share = cur.filter(F.col("om").isNotNull()).select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("om")).alias("share"),
        )
        contribs = (
            e.join(share, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("in_share"))
        )
        nxt_plan = (
            cur.drop("rank")
            .join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "om",
                (
                    F.lit(0.15 / 211)
                    + F.lit(0.85) * F.col("mass") / F.lit(211.0)
                    + F.lit(0.85)
                    * F.coalesce(F.col("in_share"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        plan = formatted_plan(nxt_plan)
        # Per-round shuffles are the ENSURE_REQUIREMENTS exchanges
        # (the pinned caches' own one-time REPARTITION_BY_NUM builds
        # also print, inside their InMemoryRelation details -- those
        # ran once at registration, not per round). Exactly two may
        # exist: the contribs aggregation's hashpartitioning
        # (fundamental to the operator) and the 1-row dangling-mass
        # global agg's SinglePartition. NO O(nodes) exchange of the
        # state/share/rebuild sides is allowed.
        per_round = re.findall(
            r"Arguments: (hashpartitioning|SinglePartition)"
            r"[^\n]*ENSURE_REQUIREMENTS",
            plan,
        )
        assert sorted(per_round) == [
            "SinglePartition",
            "hashpartitioning",
        ], (per_round, plan)

        # re-pin WITHOUT repartition: next-round-shaped consumers see
        # the partitioning and ordering (no Exchange, no Sort over the
        # checkpointed branch of a keyed merge join). Since the 1000x
        # re-soak OOM find the pin is an AQE-off localCheckpoint, so
        # the branch must ALSO be lineage-truncated: a bare RDD scan,
        # not a re-planned round subtree.
        nxt = pinned_state_cache(nxt_plan, "node")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        probe = spark.range(211).select(
            F.col("id").cast("string").alias("node"), F.lit(1).alias("w")
        )
        j = nxt.join(probe.hint("merge"), "node")
        jplan = formatted_plan(j)
        tree = jplan.split("(1) ", 1)[0]
        left_branch = "\n".join(
            line
            for line in tree.splitlines()
            if ":-" in line or "ExistingRDD" in line
        )
        assert "Scan ExistingRDD" in left_branch, jplan
        assert "Exchange" not in left_branch, jplan
        assert not re.search(r"\bSort\b(?!MergeJoin)", left_branch), jplan
        # lineage truncated: no trace of the round's joins/aggs in the
        # pinned frame's own plan (the 3^k plan-growth driver OOM)
        own = formatted_plan(nxt)
        assert "Join" not in own and "HashAggregate" not in own, own
        # the round's arithmetic survived the pinning: same ranks as
        # the identical round built from the RAW frames (no caches)
        ref_share = nodes.filter(F.col("om").isNotNull()).select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("om")).alias("share"),
        )
        ref_mass = (
            nodes.filter(F.col("om").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass"))
            .first()[0]
        )
        ref = {
            r["node"]: r["rank"]
            for r in nodes.drop("rank")
            .join(
                edges.join(ref_share, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("share").alias("in_share")),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    F.lit(0.15 / 211)
                    + F.lit(0.85) * F.lit(ref_mass) / F.lit(211.0)
                    + F.lit(0.85)
                    * F.coalesce(F.col("in_share"), F.lit(0.0))
                ).alias("rank"),
            )
            .collect()
        }
        got = {r["node"]: r["rank"] for r in nxt.collect()}
        assert set(got) == set(ref)
        assert all(abs(got[k] - ref[k]) < 1e-12 for k in ref), (
            sorted((k, got[k], ref[k]) for k in ref if abs(got[k] - ref[k]) >= 1e-12)[:5]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        if nxt is not None:
            nxt.unpersist()
        e.unpersist()
        cur.unpersist()


def test_fact_table_never_builds_hash_relation(spark, sf_small):
    """B52/B74 scale contract (round 13): lineitem -- the biggest
    fact -- STREAMS through the join chain; it must never be the
    build side of a broadcast join. The pre-rewrite plans hashed the
    whole fact table (a single-threaded ~6M-row build at sf1) to
    probe a dimension-sized stream: Q5's c-o-l join order made the
    planner build lineitem's under-threshold 4-column projection, and
    Q4's LEFT SEMI forced BuildRight on lineitem by construction."""
    import re

    for name in ("b52_tpch_q5", "b74_tpch_q4"):
        plan = plan_of(spark, sf_small, name)
        for m in re.finditer(
            r"\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[([^\]]*)\]",
            plan,
        ):
            assert not re.search(r"\bl_", m.group(1)), (
                f"{name}: lineitem columns on a BroadcastExchange build "
                f"side: {m.group(1)}"
            )
