#!/usr/bin/env python
"""Pre-certification sweep: run the driver's differential check locally
at sf0.01 (the driver's actual scale) over the queries that have no
green row in any CORRECTNESS_r*.json yet — so harness-side surprises
(sf-dependent ties, canonicalization, timing) surface BEFORE the
external run burns a round's 50-query window on them.

Usage: python tools/precert.py [N]             (default: all pending)
       python tools/precert.py --only a,b,c    (named queries, even if
                                                already certified -- for
                                                re-checking a query a
                                                library change touches)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from dgraph_etl_spark.registry import _certified_names, _ordered  # noqa: E402
from dgraph_etl_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import check_query  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    order = _ordered()
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        if len(sys.argv) != 3:
            raise SystemExit(
                "usage: precert.py --only name1,name2  (one comma-"
                "separated list; got "
                f"{len(sys.argv) - 2} argument(s) after --only)"
            )
        wanted = {n.strip() for n in sys.argv[2].split(",") if n.strip()}
        if not wanted:
            raise SystemExit("--only parsed to an empty query list")
        unknown = wanted - {q.name for q in order}
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
        pending = [q for q in order if q.name in wanted]
    else:
        try:
            cap = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
        except ValueError:
            raise SystemExit(
                f"usage: precert.py [N | --only name1,name2]; got "
                f"{sys.argv[1]!r}"
            ) from None
        done = _certified_names()
        pending = [q for q in order if q.name not in done][:cap]
    # no console progress bar: its carriage returns splice into the
    # "[i/N] name ok" verdict lines when stdout and stderr share a log
    spark = get_spark(
        app_name="precert",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for i, q in enumerate(pending):
        t0 = time.perf_counter()
        try:
            if q.oracle is None:
                df = q.fn(spark, SF_DIR)
                n = df.count()
                assert len(df.schema.fields) > 0
                # the driver's own smoke standard: a no-oracle query
                # that regresses to zero rows is a failure, not "ok"
                problems = [] if n > 0 else ["no-oracle query returned 0 rows"]
            else:
                problems = check_query(spark, SF_DIR, q.name, q.fn, q.oracle)
        except Exception as exc:  # pragma: no cover - diagnostic tool
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        dt = time.perf_counter() - t0
        status = "ok" if not problems else "FAIL"
        print(f"[{i+1}/{len(pending)}] {q.name:38s} {status} {dt:6.2f}s", flush=True)
        if problems:
            failures.append((q.name, problems))
    print(f"\n{len(pending) - len(failures)}/{len(pending)} ok")
    for name, probs in failures:
        print(f"FAIL {name}: " + "; ".join(str(p)[:500] for p in probs))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
