"""One measured run: the client process that sets the program up and
drives one workload through it.

Started by ``run.py`` inside an isolated temp root with the op plan and
every op's expected output already on disk, so nothing here but the
program and its client competes for the machine. Prints a summary line
and, as its last line, the result JSON.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics as M  # noqa: E402
from perfbench.trace import SparkCounters, Tracer, busy_union_s  # noqa: E402
from perfbench.workloads import REGISTRATION, Client, in_rows, matches  # noqa: E402


def _untraced(w: int) -> bool:
    """In a traced run every third window op runs untraced, so the
    run measures its own tracing overhead."""
    return w % 3 == 2


def _host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def _vm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    workload, seconds, traced = cfg["workload"], cfg["seconds"], cfg["trace"]
    ops, wants = cfg["ops"], cfg["expected"]
    n_cold, n_deck = cfg["cold_ops"], cfg["deck_ops"]

    from dgraph_etl_spark import catalog
    from dgraph_etl_spark.session import get_spark

    tracer = Tracer()
    timers: dict[str, float] = {}
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{workload}", cpus=cfg["cpus"])
    timers["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    tables, views = REGISTRATION[workload]
    catalog.register_views(spark, cfg["fixture"], tables=tables, views=views)
    timers["catalog.register_views_s"] = time.perf_counter() - t

    client = Client(spark, cfg["fixture"], cfg["work"], tracer)
    counters = SparkCounters(spark) if traced else None
    records: list[dict] = []
    spark_rows: dict[int, dict] = {}

    def run(i: int, phase: str, trace_op: bool) -> None:
        op, want = ops[i], wants[i]
        tracer.enabled, tracer.op_id = trace_op, i
        group = f"perfbench-op-{i}"
        if trace_op:
            counters.begin(group)
        w0 = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            got = client.run(op)
            dt = time.perf_counter() - t0
            ok = matches(got, want)
            if not ok:
                err = f"output differs from the DuckDB expectation: {got!r:.300} != {want!r:.300}"
        except Exception as e:  # noqa: BLE001 -- a failed op is a measured outcome
            dt, ok, err = time.perf_counter() - t0, False, repr(e)
        finally:
            if trace_op:
                counters.end()
        w1 = time.time()
        if trace_op:
            s = counters.read(group)
            s["gap_s"] = (w1 - w0) - busy_union_s(s.pop("job_intervals"), w0, w1)
            s["wall_s"] = w1 - w0
            spark_rows[i] = s
        rec = {"i": i, "phase": phase, "kind": op["kind"], "s": dt, "ok": ok,
               "traced": trace_op, "in_rows": in_rows(op, want)}
        if err:
            rec["error"] = err
            print(f"perfbench: op {i} ({op}) failed: {err}", file=sys.stderr, flush=True)
        records.append(rec)

    t = time.perf_counter()
    for i in range(n_cold):
        run(i, "cold", traced)
    timers["setup.cold_op_s"] = time.perf_counter() - t
    setup_s = time.time() - cfg["spawn_time"]

    # the window starts right after the cold ops, at the same op index
    # in every run: no warm-up is affordable (README.md, steady state)
    spark._jvm.java.lang.System.gc()
    cpu0, gc0 = _host_cpu(), _gc_ms(spark)
    i, w = n_cold, 0
    t0 = time.perf_counter()
    while i < len(ops) and (w == 0 or time.perf_counter() - t0 < seconds):
        for _ in range(n_deck):  # whole decks only: every window has the same mix
            run(i, "window", bool(traced) and not _untraced(w))
            i, w = i + 1, w + 1
    window_s = time.perf_counter() - t0
    cpu1, gc1 = _host_cpu(), _gc_ms(spark)

    host = M.host(cpu0, cpu1, gc1 - gc0, _vm_hwm_mb(spark))
    window = [r for r in records if r["phase"] == "window"]
    failed = sum(not r["ok"] for r in records)
    lat = [r["s"] if r["ok"] else math.inf for r in window]
    p50 = statistics.median(lat)
    tail, tail_pct = M.tail(lat)
    ok_window = [r for r in window if r["ok"]]
    summary = (
        f"perfbench {workload} seed={cfg['seed']} trace={traced}: {n_cold} cold ops, "
        f"then {len(window) // n_deck} deck(s) of {n_deck} ops in a {window_s:.1f} s window; "
        f"op_p50_s={p50:.4f} s over n={len(lat)}, op_tail_s=p{tail_pct}={tail:.4f} s "
        f"(10 samples beyond it), {failed} failed; window host steal "
        f"{host['host.steal_pct']:.1f}%, loadavg {host['host.loadavg_1m']:.2f}"
    )
    if traced:
        metrics = M.per_layer(
            # no warm-up phase: the window follows the cold ops
            timers={**timers, "harness.warmup_s": 0.0, "harness.warmup_ops": 0},
            records=records,
            tracer=tracer,
            spark_rows=spark_rows,
            exact_ops=[r["i"] for r in window[:n_deck] if r["traced"]],
            cores=int(cfg["cpus"]),
            host=host,
        )
    else:
        metrics = M.end_to_end(
            setup_s=setup_s,
            p50=p50 if p50 != math.inf else window_s,
            tail=tail if tail != math.inf else window_s,
            ops_per_s=len(ok_window) / window_s,
            in_rows_per_s=sum(r["in_rows"] for r in ok_window) / window_s,
            ok_ratio=(len(records) - failed) / len(records),
        )
    M.write_log(cfg, records, tracer, spark_rows, window_s)
    print(summary, flush=True)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(records), "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    # no spark.stop(): run.py kills this process group (the JVM with
    # it) and removes the temp root, which is all a graceful stop would
    # do, 1-2 s sooner
    os._exit(main())
