#!/usr/bin/env python
"""Physical-plan audit over every registered BATCH query.

Emits PLAN_AUDIT.md: per-query counts of the plan features that decide
100 TB behavior -- exchanges (shuffles), broadcast vs sort-merge
joins, Expand fan-outs, global-sort vs TakeOrderedAndProject top-k,
scan count, and whole-stage-codegen span count. The table makes plan
regressions reviewable in diffs the way CORRECTNESS_r*.json makes
result regressions reviewable: a new Exchange or a BroadcastHashJoin
silently becoming SortMergeJoin shows up as a one-line change.

Streaming queries are skipped (their fn executes a full streaming job;
their state/shuffle discipline is pinned by the streaming suite's
oracles and tests instead).

Usage: python tools/plan_audit.py [sf_dir]  (default sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dgraph_etl_spark.graph.traverse import evict_frontier_caches  # noqa: E402
from dgraph_etl_spark.registry import REGISTRY, _load_suites  # noqa: E402
from dgraph_etl_spark.session import get_spark  # noqa: E402

# local[8] with 8 shuffle partitions, the test session's conf
# (tests/conftest.py), whatever SPARK_GRAFT_CPUS says: plans depend on
# the shuffle partition count (g08 over the 8-way bucketed edges plans
# 1 exchange at 8 partitions and 2 at 32), and the lockfile test
# compares its plans with these rows
AUDIT_CPUS = 8

KEYS = (
    "exch", "bhj", "smj", "shj", "bnlj",
    "expand", "topk", "gsort", "scans", "wsc",
)


def plan_stats(plan: str) -> dict[str, int]:
    """Feature counts for one FORMATTED explain string — the single
    definition shared by the PLAN_AUDIT.md generator and the lockfile
    test (tests/test_plan_shapes.py), so the two can never disagree
    about what a column means.

    Each operator counts ONCE via its numbered detail header
    "(n) Op": a bare substring also matches the tree rendering of the
    same node and double-counts (bhj=2 for one join)."""

    def _n(op: str) -> int:
        return len(re.findall(rf"\(\d+\) {op}", plan))

    return {
        "exch": _n("Exchange"),
        "bhj": _n("BroadcastHashJoin"),
        "smj": _n("SortMergeJoin"),
        "shj": _n("ShuffledHashJoin"),
        "bnlj": _n("BroadcastNestedLoopJoin"),
        "expand": _n("Expand"),
        "topk": _n("TakeOrderedAndProject"),
        "gsort": len(re.findall(r"Arguments: rangepartitioning", plan)),
        "scans": sum(
            _n(f"Scan {s}")
            for s in ("parquet", "ExistingRDD", "json", "csv", "orc", "text")
        )
        + _n("BatchScan"),
        "wsc": len(set(re.findall(r"codegen id : (\d+)", plan))),
    }


def parse_audit_md(path: str) -> dict[str, dict[str, int]]:
    """Read the committed PLAN_AUDIT.md table back into
    {query: {key: count}} — the lockfile side of the contract."""
    out: dict[str, dict[str, int]] = {}
    with open(path) as f:
        for line in f:
            if not line.startswith("| "):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if (
                len(cells) != 1 + len(KEYS)
                or not cells[1].isdigit()
                or cells[0].startswith("**")  # the bold totals row
            ):
                continue  # header / legend / ERROR / total rows
            out[cells[0]] = dict(zip(KEYS, (int(c) for c in cells[1:])))
    return out


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        app_name="plan_audit", cpus=AUDIT_CPUS, shuffle_partitions=AUDIT_CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    _load_suites()
    rows = []
    skipped = []
    for name, q in sorted(REGISTRY.items()):
        if name.startswith("s"):  # streaming: fn runs a real job
            skipped.append(name)
            continue
        evict_frontier_caches()
        try:
            df = q.fn(spark, sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as ex:  # noqa: BLE001
            # Py4J messages are multiline and contain pipes: either
            # would split/break the markdown table row this lands in
            msg = " ".join(str(ex).split()).replace("|", "\\|")[:60]
            rows.append((name, None, msg))
            continue
        rows.append((name, plan_stats(plan), ""))
    lines = [
        "# PLAN_AUDIT (generated by tools/plan_audit.py)",
        "",
        f"Physical-plan feature counts per registered batch query at"
        f" `{sf}` (local[{AUDIT_CPUS}], {AUDIT_CPUS} shuffle partitions,"
        " as the test session; AQE off at explain time). Streaming"
        f" queries ({len(skipped)}) are audited by their suite oracles"
        " instead. Each operator counts ONCE (numbered detail headers).",
        "",
        "Legend: exch = shuffle Exchanges; bhj/smj/shj/bnlj ="
        " broadcast-hash / sort-merge / shuffled-hash /"
        " broadcast-nested-loop joins; expand = Expand"
        " fan-outs; topk = TakeOrderedAndProject; gsort = global range"
        " sorts; scans = source scans; wsc = whole-stage-codegen spans.",
        "",
        "| query | exch | bhj | smj | shj | bnlj | expand | topk | gsort | scans | wsc |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    tot = dict.fromkeys(KEYS, 0)
    for name, stats, err in rows:
        if stats is None:
            lines.append(f"| {name} | ERROR: {err} |  |  |  |  |  |  |  |  |  |")
            continue
        for k, v in stats.items():
            tot[k] = tot.get(k, 0) + v
        lines.append(
            "| {} | {exch} | {bhj} | {smj} | {shj} | {bnlj} | {expand} |"
            " {topk} | {gsort} | {scans} | {wsc} |".format(name, **stats)
        )
    lines.append(
        "| **total ({} queries)** | {exch} | {bhj} | {smj} | {shj} |"
        " {bnlj} | {expand} | {topk} | {gsort} | {scans} | {wsc} |".format(
            len([r for r in rows if r[1] is not None]), **tot
        )
    )
    lines.append("")
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"),
        "w",
    ) as f:
        f.write("\n".join(lines))
    print(f"wrote PLAN_AUDIT.md: {len(rows)} queries, {len(skipped)} streaming skipped")
    spark.stop()


if __name__ == "__main__":
    main()
