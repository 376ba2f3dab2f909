#!/usr/bin/env python
"""Heavy bench lane (round-13, VERDICT r12 #1): run the most expensive
query paths at sf1 (10x the driver's sf0.1) so plan-level wins resolve
above the host's documented +-20% sub-second floor noise.

The sf0.1 headline bench keeps its contract and JSON line, but round 13
also added the g03_hop2_coldedges lane to bench.HEADLINE, so headline
totals from before and after that round differ by that lane; this
heavy lane is OPT-IN and additive:

- fixture: the scale soak's key-remapped sf1 replica (10x facts, fixed
  dims -- tools/scale_soak.py docstring documents the remap), built
  into scratch and content-stamped against /root/testdata/sf0.1;
- queries: bench.HEAVY_PROFILE (the ~10 most expensive operator paths
  per PERF_r12: c02 minhash, g34 recurse, b87 Q21, b51 Q3, c27 span
  screen, c07 term stats, g42 normalize, a18 RDF, plus c13/b44 whose
  r12 changes need a scale-resolving number);
- harness: the UNMODIFIED bench.py via scale_soak.run_bench (same
  noop-sink timing, min across interleaved + back-to-back phases,
  steal%/loadavg markers in the output).

Usage: python tools/bench_heavy.py [--out BENCH_HEAVY.json]
                                   [--runs N] [--skip-build]

Writes the parsed bench JSON (plus fixture provenance and the git HEAD
it measured) to --out; with --runs > 1 the per-query value is the MIN
across invocations and every run's host markers are kept, so a noisy
window is visible instead of silently folded in.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from scale_soak import resolved_fixture, run_bench  # noqa: E402

import bench  # noqa: E402  (for HEAVY_PROFILE -- the single list)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_HEAVY.json"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument(
        "--skip-build",
        action="store_true",
        help="fail instead of building if the sf1 fixture is absent/stale",
    )
    ap.add_argument(
        "--subset",
        default=None,
        help="comma-separated override of bench.HEAVY_PROFILE",
    )
    args = ap.parse_args()
    fixture = resolved_fixture(10, args.skip_build)
    subset = (
        [q.strip() for q in args.subset.split(",") if q.strip()]
        if args.subset
        else list(bench.HEAVY_PROFILE)
    )
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    runs = []
    best: dict[str, float] = {}
    for i in range(args.runs):
        parsed = run_bench(fixture, subset=subset)
        runs.append(
            {
                "value": parsed["value"],
                "queries": parsed["queries"],
                "host": parsed.get("host"),
                "phase_sums": parsed.get("phase_sums"),
            }
        )
        for name, sec in parsed["queries"].items():
            best[name] = min(best.get(name, float("inf")), sec)
        print(
            f"run {i + 1}/{args.runs}: total {parsed['value']} "
            f"(steal {parsed.get('host', {}).get('steal_pct')}%)",
            flush=True,
        )
    out = {
        "metric": "heavy_lane_total",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in best.items()},
        "sf": 1.0,
        "fixture": fixture,
        "replicas": 10,
        "head": head,
        "n_runs": args.runs,
        "runs": runs,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({k: out[k] for k in ("metric", "value", "queries")}))


if __name__ == "__main__":
    main()
