"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--workload all`` runs every workload
in turn. The last line of standard output is the result JSON (one line
per workload for ``all``).

Every run is isolated: a fresh temp root inside the checkout holds the
seeded fixture, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's
``java.io.tmpdir``, the working directory (so ``spark-warehouse``
lands there) and every sink output, and it is removed at exit. The
program's on-disk caches (``catalog._compacted_source`` layouts,
``sources/bucketed.py`` tables) therefore start cold in every run,
and disk use does not grow over a set of runs.

This process makes the inputs and their DuckDB expectations; the
measured client runs in a child process (``worker.py``) started only
after that, so set-up time counts from the child's start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import COLD_OPS, WORKLOADS  # noqa: E402

# The window plays whole decks until --seconds have passed, at most
# this many; a window that uses them all ends early.
MAX_DECKS = 8
WORKER_TIMEOUT_S = 160  # with input preparation, a run stays under 180 s


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "dgraph_etl_spark", "__init__.py"))


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare(workload: str, seed: int, seconds: int, trace: int, tmp: str) -> dict:
    """Write the seeded fixture under ``tmp`` and return the run's
    config: the op plan and every op's expected output."""
    from perfbench.fixture import write_fixture
    from perfbench.workloads import deck, expect_all

    fixture = os.path.join(tmp, "fixture")
    write_fixture(fixture, seed)
    one = deck(workload, seed)
    ops = [dict(op) for op in COLD_OPS[workload] + one * MAX_DECKS]
    work = os.path.join(tmp, "sinks")
    os.makedirs(work)
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cpus": str(_nproc()),
        "fixture": fixture,
        "work": work,
        "log_dir": os.path.join(ROOT, ".perfbench_out"),
        "cold_ops": len(COLD_OPS[workload]),
        "deck_ops": len(one),
        "ops": ops,
        "expected": expect_all(fixture, ops),
    }


def launch(cfg: dict, tmp: str, stdout=None) -> int:
    """Run the worker on ``cfg`` with ``tmp`` as its whole world and
    wait for it and every process it started."""
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # executor-side Python imports the program from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # -XX:-UsePerfData: HotSpot would otherwise write its perf
        # counters to /tmp/hsperfdata_<user>, outside the temp root
        SPARK_SUBMIT_OPTS=" ".join(
            filter(
                None,
                [os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"],
            )
        ),
        SPARK_LAUNCHER_OPTS=" ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
        ),
    )
    cfg_path = os.path.join(tmp, "run.json")
    with open(cfg_path, "w") as f:
        json.dump({**cfg, "spawn_time": time.time()}, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=tmp,
        env=env,
        stdout=stdout,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _stop_group(proc)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group -- the worker, the JVM it
    launched and that JVM's Python workers -- and wait until it is
    empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def temp_root(workload: str) -> str:
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{workload}-", dir=base)


def run_one(workload: str, seed: int, seconds: int, trace: int) -> int:
    tmp = temp_root(workload)
    try:
        return launch(prepare(workload, seed, seconds, trace, tmp), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its worker and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _program_present():
        print(f"perfbench: no dgraph_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    rc = 0
    for w in WORKLOADS if args.workload == "all" else (args.workload,):
        rc = run_one(w, args.seed, args.seconds, args.trace) or rc
    return rc


if __name__ == "__main__":
    sys.exit(main())
