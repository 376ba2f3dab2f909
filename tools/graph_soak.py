#!/usr/bin/env python
"""Graph-family scale soak: the 100x decade for traversals/iterative ops.

The relational/text headline set has measured 10x and 100x evidence
(tools/scale_soak.py -> SCALE.md); the graph family was only soaked at
10x, where it sat inside fixed per-stage overhead. This tool runs the
graph operators against the 100x fixture (same builder: hub-SHARED
replication -- the 50 derived hub endpoints keep their IDs across
replicas, so hub degrees densify ~100x while the user population grows
disjointly; a harsher regime for traversals than disjoint cloning).

Also records the skew story the densified hubs create:
- hub degree stats at both scales (the skew is measured, not assumed);
- the A12-style max-per-edge aggregation run BOTH ways at 100x --
  plain hash agg vs two-level salted agg (pipeline/edges.py
  aggregate_max_salted) -- with result-equality asserted, so the
  salted remedy's engagement on real skewed data is a measured number
  next to the plain lane, whichever way it lands locally.

Timing: per fixture, per query, one warm execution then back-to-back
min-of-3 (the two-phase rationale in bench.py), noop sink.

Usage: python tools/graph_soak.py [--replicas N] [--skip-build]
Appends/replaces the graph section in SCALE.md below the scale-soak
auto-end marker (hand sections elsewhere untouched).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC_SF = "/root/testdata/sf0.1"

GRAPH_QUERIES = [
    "g03_hop2",               # 2-hop frontier w/ anti-join exclusion
    "g06_khop_k3",            # 3-hop traversal
    "g07_top_connections",    # semi-join + hash agg + top-k on hubs
    "g08_degree_stats",       # degree distribution agg
    "g10_pagerank",           # 10 fixed-point iterations
    "g25_personalized_pagerank",  # seed-teleport power iteration
    "g26_weighted_pagerank",  # score-weighted rank flow
    "g12_weakly_connected",   # O(diameter) label propagation
    "g34_dql_recurse",        # DQL text -> visited-pruned BFS (khop shape)
]

def _markers(replicas: int) -> tuple[str, str]:
    """Per-replicas markers (stream_soak's convention): a --replicas 10
    run must own its OWN SCALE.md span, never clobber the 100x section
    with mislabeled numbers. The historical unsuffixed markers are kept
    for replicas=100 so the existing section is replaced in place."""
    sfx = "" if replicas == 100 else f"-{replicas}x"
    return (f"<!-- graph-soak{sfx}:start -->", f"<!-- graph-soak{sfx}:end -->")


def _time_query(spark, fn, sf_dir: str) -> float:
    from md_sections import steady_noop_time

    return steady_noop_time(lambda: fn(spark, sf_dir))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scale_soak import resolved_fixture  # noqa: E402

    big = resolved_fixture(args.replicas, args.skip_build)
    print(f"fixture: {big}", flush=True)

    from pyspark.sql import functions as F  # noqa: E402

    from dgraph_etl_spark.catalog import register_views  # noqa: E402
    from dgraph_etl_spark.pipeline.edges import (  # noqa: E402
        aggregate_max_salted,
        explode_bidirectional,
        max_score_per_edge,
    )
    from dgraph_etl_spark.registry import REGISTRY, _load_suites  # noqa: E402
    from dgraph_etl_spark.session import get_spark  # noqa: E402

    _load_suites()
    # aggressive cleaner cadence for a session that runs MANY iterative
    # queries back-to-back at 1000x: each pagerank/WCC variant's
    # localCheckpoint'd edge side (~GBs at 1000x) is freed only when
    # JVM GC lets ContextCleaner see the dropped reference. The session
    # default is 5min (session.py); under Spark's own 30min default,
    # three pagerank variants' retained edge checkpoints OOM'd the 16g
    # heap inside one soak (round-11 session, AGGREGATE_OUT_OF_MEMORY
    # then GCLocker alloc failure in g26 at 1000x), and 1min keeps that
    # float well below 5min's at 1000x
    spark = get_spark(
        app_name="graph_soak",
        extra_conf={"spark.cleaner.periodicGC.interval": "1min"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # -- hub skew, measured at both scales --------------------------------
    def hub_stats(sf_dir: str) -> tuple[int, int, float]:
        register_views(spark, sf_dir, force=True)
        deg = spark.table("edges").groupBy("src").count()
        row = deg.agg(
            F.max("count").alias("mx"),
            F.expr("percentile_approx(count, 0.5)").alias("med"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return int(row["mx"]), int(row["med"]), int(row["n"])

    base_hub = hub_stats(SRC_SF)
    big_hub = hub_stats(big)
    print(f"hub skew sf0.1 max/med={base_hub[0]}/{base_hub[1]}  "
          f"{args.replicas}x max/med={big_hub[0]}/{big_hub[1]}", flush=True)

    # -- graph queries at both scales -------------------------------------
    results: dict[str, tuple[float, float]] = {}
    for name in GRAPH_QUERIES:
        fn = REGISTRY[name].fn
        register_views(spark, SRC_SF, force=True)
        t1 = _time_query(spark, fn, SRC_SF)
        register_views(spark, big, force=True)
        t100 = _time_query(spark, fn, big)
        results[name] = (t1, t100)
        print(f"{name:24s} {t1:7.3f}s -> {t100:7.3f}s  "
              f"ratio {t100 / max(t1, 1e-9):5.2f}", flush=True)
        # deterministic block reclamation BETWEEN queries (untimed):
        # drop Python refs, then force both GCs so ContextCleaner
        # frees the previous query's checkpointed RDDs/broadcasts
        # before the next one allocates -- the periodic cleaner alone
        # is asynchronous and lost the race at 1000x
        import gc

        gc.collect()
        spark._jvm.System.gc()

    # -- salted vs plain max-agg on the densified hubs --------------------
    register_views(spark, big, force=True)
    rel = spark.table("user_relationship")
    exploded = explode_bidirectional(rel)

    def _t(build) -> float:
        # pass the BUILDER, not a pre-built DataFrame: steady_noop_time's
        # contract re-plans a fresh query per sample so these lanes are
        # measured under the same protocol as every other SCALE.md table
        from md_sections import steady_noop_time

        return steady_noop_time(build)

    t_plain = _t(lambda: max_score_per_edge(exploded))
    t_salted = _t(lambda: aggregate_max_salted(exploded))
    n_plain = max_score_per_edge(exploded).count()
    n_salted = aggregate_max_salted(exploded).count()
    assert n_plain == n_salted, (n_plain, n_salted)
    print(f"a12 max-per-edge at {args.replicas}x: plain {t_plain:.3f}s, "
          f"salted {t_salted:.3f}s ({n_plain} edges)", flush=True)
    spark.stop()

    # -- SCALE.md section -------------------------------------------------
    SECTION_START, SECTION_END = _markers(args.replicas)
    lines = [
        SECTION_START,
        "",
        f"## Graph family at {args.replicas}x (hub-densified)",
        "",
        f"Generated by `tools/graph_soak.py` (replicas={args.replicas}).",
        "The builder keeps the 50 derived hub endpoints SHARED across",
        "replicas while user populations stay disjoint, so hub degrees",
        "densify with the corpus: max src degree "
        f"{base_hub[0]:,} at sf0.1 -> {big_hub[0]:,} at {args.replicas}x",
        f"(median {base_hub[1]} -> {big_hub[1]}; distinct src",
        f"{base_hub[2]:,} -> {big_hub[2]:,}) -- a power-law-style skew",
        "regime, measured not assumed. Timing: warm once, then",
        "back-to-back min-of-3, noop sink.",
        "",
        f"| query | t(sf0.1) s | t({args.replicas}x) s "
        f"| ratio on {args.replicas}x data |",
        "|---|---|---|---|",
    ]
    for name, (t1, t100) in sorted(results.items(), key=lambda kv: -kv[1][1]):
        lines.append(
            f"| {name} | {t1:.3f} | {t100:.3f} | {t100 / max(t1, 1e-9):.1f} |"
        )
    lines += [
        "",
        "Skew remedy, measured on the densified hubs (A12 max-per-edge",
        f"over the {args.replicas}x bidirectional explode,",
        f"{n_plain:,} output edges):",
        "",
        f"| lane | t at {args.replicas}x |",
        "|---|---|",
        f"| plain hash agg (max_score_per_edge) | {t_plain:.3f} s |",
        f"| two-level salted agg (aggregate_max_salted) | {t_salted:.3f} s |",
        "",
        "Result equality asserted at run time (salted == plain edge",
        "count; exactness of the re-max is property-tested in",
        "tests/test_properties.py). Reading the two lanes (derived from",
        "THIS run's numbers -- the winner flips with host conditions):",
        (
            f"this run the SALTED lane won ({t_salted:.2f} s vs "
            f"{t_plain:.2f} s, {t_plain / t_salted:.1f}x) -- the "
            "densified hubs were hot enough that the two-level "
            "re-max's smaller final exchange beat the plain lane's "
            "skewed reducers even with AQE's skew splitting."
            if t_salted < t_plain
            else f"this run the PLAIN lane won ({t_plain:.2f} s vs "
            f"{t_salted:.2f} s) -- on local[32] the shuffle is "
            "in-memory and AQE already splits skewed partitions, so "
            "the salted lane's extra partial-agg pass was pure "
            "overhead here."
        ),
        "Salting remains the remedy for the cluster regime AQE can't",
        "fix (skew on the build side, or a downstream window pinning",
        "partitioning; pipeline/edges.py docstrings). The number to",
        f"watch is the plain lane's ratio staying at/below its data",
        f"growth despite the {args.replicas - 1}x hub densification:",
        "map-side combine shrinks hub keys before the exchange, which",
        "is why no graph query here goes superlinear.",
        "",
        SECTION_END,
    ]

    from md_sections import replace_section

    replace_section(
        os.path.join(ROOT, "SCALE.md"),
        SECTION_START,
        SECTION_END,
        "\n".join(lines) + "\n",
    )
    print("updated SCALE.md graph section", flush=True)


if __name__ == "__main__":
    main()
