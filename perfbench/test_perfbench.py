"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last two tests run the worker end to end (about a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench import neardup as ND  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench.fixture import write_fixture  # noqa: E402
from perfbench.workloads import WORKLOADS, deck, matches  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_what_the_runs_print():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == M.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == M.PER_LAYER
    assert b["command"] == ["python3", "perfbench/run.py"]


def test_fixture_and_plan_come_from_the_seed(tmp_path):
    def tables(seed):
        d = tmp_path / str(seed)
        write_fixture(str(d), seed)
        return {p.name: p.read_bytes() for p in sorted(d.iterdir())}

    one, again, other = tables(1), tables(1), tables(2)
    assert one == again
    assert all(one[name] != other[name] for name in one)
    for w in WORKLOADS:
        assert deck(w, 1) == deck(w, 1)
        assert deck(w, 1) != deck(w, 2)
        assert [op["kind"] for op in deck(w, 1)] == [op["kind"] for op in deck(w, 2)]


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(40)]
    value, pct = M.tail(lat)
    assert sum(x > value for x in lat) == 10 and pct == 75


def test_neardup_reference_matches_the_duckdb_oracle(tmp_path):
    import duckdb

    from dgraph_etl_spark.registry import REGISTRY
    from dgraph_etl_spark.suites import llm_extensions  # noqa: F401 -- registers

    write_fixture(str(tmp_path), 5)
    pairs = ND.jaccard_pairs(str(tmp_path), threshold=0.5)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}') WHERE doc_id BETWEEN 300 AND 999"
    )
    want = sorted(tuple(r) for r in con.execute(REGISTRY["c02_neardup_components"].oracle).fetchall())
    got = ND.components(range(300, 1000), pairs)
    assert got == want
    assert any(d != c for d, c in got)  # the batch has near-duplicates to find


def test_wrong_output_does_not_match():
    want = {"edges": 3, "bytes": 120, "rows_read": 9, "next_watermark_s": 5}
    assert matches(dict(want), want)
    assert not matches({**want, "edges": 4}, want)
    rows = {"rows": [[1, 0.5], [2, 0.25]]}
    assert matches({"rows": [(1, 0.50004), (2, 0.25)]}, rows)
    assert not matches({"rows": [(1, 0.5), (3, 0.25)]}, rows)


def _run(workload: str, seed: int, trace: int, tamper=None) -> dict:
    """One worker run with a 1-second window: a single deck."""
    tmp = R.temp_root(workload)
    try:
        cfg = R.prepare(workload, seed, 1, trace, tmp)
        if tamper:
            tamper(cfg)
        out = os.path.join(tmp, "stdout")
        with open(out, "w") as f:
            assert R.launch(cfg, tmp, stdout=f) == 0
        with open(out) as f:
            return json.loads(f.read().splitlines()[-1])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_wrong_expectation_counts_the_op_as_failed():
    def corrupt(cfg):
        i = cfg["cold_ops"]  # the first window op
        want = cfg["expected"][i]
        key = next(k for k in want if not k.startswith("_"))
        cfg["expected"][i] = {**want, key: "not the output"}  # ops may share one dict

    res = _run("ingest_query", 3, 0, corrupt)
    assert not res["correct"] and res["failed"] == 1
    assert res["metrics"]["ok_ops_ratio"]["value"] == (res["attempted"] - 1) / res["attempted"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_exact_counters_repeat_between_traced_runs(workload):
    a, b = _run(workload, 4, 1), _run(workload, 4, 1)
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == set(M.PER_LAYER)
    for name in M.EXACT:
        assert a["metrics"][name] == b["metrics"][name], name
