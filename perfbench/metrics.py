"""Metric names, units and their computation from one run's records.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares; ``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "in_rows_per_s": "rows/s",
    "ok_ops_ratio": "ratio",
}

# span name -> per-layer metric: median seconds per call over the
# traced window ops
SPANS = {
    "pipeline.plan": "pipeline.plan_s",
    "sinks.live.write_edges_live": "sinks.live.write_edges_live_s",
    "pipeline.watermark.next_watermark": "pipeline.watermark.next_watermark_s",
    "pipeline.rdf.write_rdf": "pipeline.rdf.write_rdf_s",
    "graph.traverse.k_hop": "graph.traverse.k_hop_s",
    "graph.traverse.collect": "graph.traverse.collect_s",
    "suites.graph_traversal.dql_fixture_graph": "suites.graph_traversal.dql_fixture_graph_s",
    "graph.dql.run_dql": "graph.dql.run_dql_s",
    "graph.dql.collect": "graph.dql.collect_s",
    "functions.dedup.exact_dedup": "functions.dedup.exact_dedup_s",
    "functions.dedup.lsh_candidate_pairs": "functions.dedup.lsh_candidate_pairs_s",
    "functions.dedup.neardup": "functions.dedup.neardup_s",
    "functions.text.term_stats": "functions.text.term_stats_s",
    "functions.similarity.brute_topk": "functions.similarity.brute_topk_s",
}

# exact counters: mean per op that records them, over the fixed set of
# traced ops at the start of the window
COUNTS = {
    "sinks.live.rows_out": "count",
    "sinks.live.bytes_out": "bytes",
    "pipeline.rdf.triples_out": "count",
    "pipeline.rdf.bytes_out": "bytes",
    "graph.hop1_rows": "count",
    "graph.hop2_rows": "count",
    "functions.dedup.pairs_out": "count",
}

SPARK_EXACT = {
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.stages_per_op": ("stages", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.input_bytes_per_op": ("input_bytes", "bytes"),
    "spark.shuffle_write_bytes_per_op": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes_per_op": ("spill_bytes", "bytes"),
}

# Per-layer metrics that must read the same in two traced runs of one
# seed (test_perfbench.py): what the program did, not how long it took.
EXACT = (*COUNTS, *SPARK_EXACT)

PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.register_views_s": "s",
    "setup.cold_op_s": "s",
    "harness.warmup_s": "s",
    "harness.warmup_ops": "count",
    **{m: "s" for m in SPANS.values()},
    **COUNTS,
    **{m: unit for m, (_, unit) in SPARK_EXACT.items()},
    "spark.executor_busy_s_per_op": "s",
    "spark.busy_ratio": "ratio",
    "spark.driver_gap_s_per_op": "s",
    "spark.failed_tasks": "count",
    "host.steal_pct": "%",
    "host.loadavg_1m": "procs",
    "jvm.vm_hwm_mb": "MB",
    "jvm.gc_s": "s",
    "tracing.overhead_ratio": "ratio",
}


def tail_index(n: int) -> int:
    """Index, in ascending order, of the sample with ten beyond it."""
    return max(n - 11, 0)


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile's rank (100 * samples at or below / samples)."""
    k = tail_index(len(latencies))
    return sorted(latencies)[k], math.floor(100 * (k + 1) / len(latencies))


def _named(values: dict[str, float], units: dict[str, str]) -> dict:
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def end_to_end(setup_s, p50, tail, ops_per_s, in_rows_per_s, ok_ratio) -> dict:
    return _named(
        {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_tail_s": tail,
            "ops_per_s": ops_per_s,
            "in_rows_per_s": in_rows_per_s,
            "ok_ops_ratio": ok_ratio,
        },
        END_TO_END,
    )


def host(cpu0: list[int], cpu1: list[int], gc_ms: int, vm_hwm_mb: float) -> dict:
    """Host and JVM figures over the window. /proc/stat's first eight
    fields are user nice system idle iowait irq softirq steal."""
    delta = [b - a for a, b in zip(cpu0[:8], cpu1[:8])]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {
        "host.steal_pct": 100.0 * delta[7] / max(sum(delta), 1),
        "host.loadavg_1m": load,
        "jvm.vm_hwm_mb": vm_hwm_mb,
        "jvm.gc_s": gc_ms / 1e3,
    }


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(*, timers, records, tracer, spark_rows, exact_ops, cores, host) -> dict:
    window = [r for r in records if r["phase"] == "window"]
    traced = [r for r in window if r["traced"]]
    traced_ids = {r["i"] for r in traced}
    values = dict(timers)
    per_call: dict[str, list[float]] = {m: [] for m in SPANS.values()}
    for name, t0, t1, op in tracer.spans:
        if op in traced_ids and name in SPANS:
            per_call[SPANS[name]].append(t1 - t0)
    for metric, xs in per_call.items():
        values[metric] = statistics.median(xs) if xs else 0.0
    for metric in COUNTS:
        values[metric] = _mean(
            [tracer.counts[i][metric] for i in exact_ops if metric in tracer.counts.get(i, {})]
        )
    for metric, (key, _) in SPARK_EXACT.items():
        values[metric] = _mean([spark_rows[i][key] for i in exact_ops])
    rows = [spark_rows[i] for i in sorted(traced_ids)]
    values["spark.executor_busy_s_per_op"] = _mean([s["busy_s"] for s in rows])
    values["spark.busy_ratio"] = sum(s["busy_s"] for s in rows) / max(
        sum(s["wall_s"] for s in rows) * cores, 1e-9
    )
    values["spark.driver_gap_s_per_op"] = _mean([s["gap_s"] for s in rows])
    values["spark.failed_tasks"] = sum(s["failed_tasks"] for s in spark_rows.values())
    untraced = [r["s"] for r in window if not r["traced"]]
    values["tracing.overhead_ratio"] = (
        statistics.median([r["s"] for r in traced]) / statistics.median(untraced)
        if traced and untraced
        else 1.0
    )
    values.update(host)
    return _named(values, PER_LAYER)


def write_log(cfg: dict, records, tracer, spark_rows, window_s: float) -> None:
    """Per-op records (and, for a traced run, spans and Spark counters)
    as one JSON file per run, for block-median and trace analysis."""
    os.makedirs(cfg["log_dir"], exist_ok=True)
    name = f"{cfg['workload']}-seed{cfg['seed']}-trace{cfg['trace']}-{int(time.time())}.json"
    with open(os.path.join(cfg["log_dir"], name), "w") as f:
        json.dump(
            {
                "workload": cfg["workload"],
                "seed": cfg["seed"],
                "window_s": window_s,
                "ops": records,
                "spans": tracer.spans,
                "counts": {str(k): v for k, v in tracer.counts.items()},
                "spark": {str(k): v for k, v in spark_rows.items()},
            },
            f,
        )
