"""The workloads: the seeded deck of ops each run plays, the expected
output of every op (computed with DuckDB before any timing), and the
client calls that run one op against the program.

Each workload is a closed loop driven by one client thread. An op is
one user-visible request. On ``ingest_query`` it is a live load or a
bulk export (the write side: ``cmd_etl`` and ``cmd_bulk``) or a 2-hop
team query through either front end (``cmd_query``). On ``curation``
it is one call of a ``functions/`` operator on a document batch or a
query vector.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from .fixture import EPOCH_S, N_DAYS, N_DOCS, N_TEAMS, N_VECS

DAY_S = 86_400
WORKLOADS = ("ingest_query", "curation")

# Tables and views each workload registers, as the CLI commands do:
# a workload never pays first-use work for tables it does not read.
REGISTRATION = {
    "ingest_query": (
        ("customer", "events"),
        ("user_relationship", "team_member", "person", "trove_user", "edges"),
    ),
    "curation": (("documents", "embeddings"), ()),
}

# One cold op per kind, with fixed inputs, is part of set-up: it is
# what a one-shot CLI run pays on top of session and view creation.
COLD_TEAM = "7"
COLD_OPS = {
    "ingest_query": [
        {"kind": "live", "wm": EPOCH_S + (N_DAYS - 1) * DAY_S, "fail_first": False},
        {"kind": "bulk", "wm": EPOCH_S + (N_DAYS - 1) * DAY_S},
        {"kind": "khop", "team": COLD_TEAM},
        {"kind": "dql", "team": COLD_TEAM},
    ],
    "curation": [
        {"kind": "exact_dedup", "lo": 0, "hi": 499},
        {"kind": "lsh", "lo": 0, "hi": 499},
        {"kind": "neardup", "lo": 0, "hi": 499},
        {"kind": "term_stats", "lo": 0, "hi": 499},
        {"kind": "topk", "vec": 0},
    ],
}

# Every run plays the same deck of op shapes in the same order; the
# seed picks the concrete inputs (watermarks, teams, batch offsets,
# query vectors) and the fixture's values. A fixed deck gives every run
# the same amount and mix of work -- a run is too short (one deck) for
# a random mix to average out -- and a fixed order puts each op at the
# same point of the JVM warm-up in every run.

# ingest_query: 9 writes and 3 reads. Of the writes, 7 are live loads
# and 2 bulk exports; one live load is a backfill from the start of one
# of days 0-9 (67k-100k events), the others take the last 1-3 days
# (3.3k-10k events); two live loads inject a transient sink failure so
# the in-task retry in sinks/live.py runs. The reads are two k_hop
# queries for the most popular team -- the second is served from
# k_hop's three-generation frontier cache -- and one DQL query for the
# second most popular, which misses it. With 9 of 12 ops the fast
# writes, the median falls among them rather than in the gap between
# the fast and the slow ops, and the tail (the second fastest op) is
# the fastest of six like-sized live loads.

# curation: one call of each heavy operator (LSH, near-dup) and sixteen
# light calls (exact_dedup, term_stats, brute_topk) on batches of 500,
# 1,167, 1,833 and 2,500 documents at seeded doc_id offsets. The light
# calls, most of them after the heavy ones, put the median and the tail
# among warmed-up light calls.
BATCH_SIZES = (500, 1_167, 1_833, 2_500)


def _ingest_query_deck(rng: random.Random) -> list[dict]:
    # one watermark from each sixth of the last 1-3 days, smallest
    # increment first: each position of the deck gets a like-sized one
    recent = [EPOCH_S + N_DAYS * DAY_S - (24 + 8 * q + rng.randrange(8)) * 3600 for q in range(6)]
    backfill = EPOCH_S + rng.randrange(10) * DAY_S
    while True:  # Zipf ranks 1 and 2; not the cold op's team, whose frontiers are cached
        top, second = rng.sample([str(t) for t in range(N_TEAMS)], 2)
        if COLD_TEAM not in (top, second):
            break

    def live(wm: int, fail: bool = False) -> dict:
        return {"kind": "live", "wm": wm, "fail_first": fail}

    return [
        live(recent[0]),
        {"kind": "khop", "team": top},
        live(recent[1], fail=True),
        {"kind": "bulk", "wm": recent[2]},
        {"kind": "dql", "team": second},
        live(backfill),
        {"kind": "khop", "team": top},
        live(recent[3]),
        {"kind": "bulk", "wm": recent[4]},
        live(recent[4], fail=True),
        live(recent[5]),
        live(recent[2]),
    ]


def _curation_deck(rng: random.Random) -> list[dict]:
    b = []
    for size in BATCH_SIZES:
        lo = rng.randrange(N_DOCS - size + 1)
        b.append({"lo": lo, "hi": lo + size - 1})
    v = rng.sample(range(N_VECS), 5)
    return [
        {"kind": "exact_dedup", **b[0]},
        {"kind": "term_stats", **b[3]},
        {"kind": "topk", "vec": v[0]},
        {"kind": "lsh", **b[2]},
        {"kind": "exact_dedup", **b[2]},
        {"kind": "term_stats", **b[1]},
        {"kind": "topk", "vec": v[1]},
        {"kind": "neardup", **b[3]},
        {"kind": "exact_dedup", **b[1]},
        {"kind": "term_stats", **b[0]},
        {"kind": "topk", "vec": v[2]},
        {"kind": "exact_dedup", **b[3]},
        {"kind": "term_stats", **b[2]},
        {"kind": "topk", "vec": v[3]},
        {"kind": "exact_dedup", **b[1]},
        {"kind": "term_stats", **b[3]},
        {"kind": "topk", "vec": v[4]},
        {"kind": "exact_dedup", **b[0]},
    ]


DECKS = {"ingest_query": _ingest_query_deck, "curation": _curation_deck}


def deck(workload: str, seed: int) -> list[dict]:
    """The seeded deck of one workload."""
    return DECKS[workload](random.Random(f"{workload}:{seed}"))


def _input_key(op: dict) -> tuple:
    """What an op's expected output depends on: ``fail_first`` only
    changes how the sink gets there, and both query front ends return
    the same hop sets."""
    if op["kind"] in ("khop", "dql"):
        return ("graph", op["team"])
    return tuple(sorted((k, v) for k, v in op.items() if k != "fail_first"))


# ---------------------------------------------------------------- oracle


def _duck(fixture_dir: str):
    import duckdb

    con = duckdb.connect()
    # spill, if ever, next to the fixture: inside the run's temp root
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(fixture_dir), 'duckdb')}'")
    for t in ("events", "customer", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t}_all AS SELECT * FROM "
            f"read_parquet('{os.path.join(fixture_dir, t + '.parquet')}')"
        )
    for t in ("customer", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_all")
    return con


def _bind(con, table: str, where: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM {table}_all WHERE {where}")


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def expect_all(fixture_dir: str, ops: list[dict]) -> list[dict]:
    """The expected output of every op, from the registered DuckDB
    oracles with the op's input bound in: ``events`` restricted to the
    watermark, the team substituted into the hop CTEs, ``documents``
    restricted to the batch. LSH and near-dup pairs are computed once
    for the corpus and restricted to each batch. Ops with the same
    input share one computation."""
    from dgraph_etl_spark.registry import REGISTRY
    from dgraph_etl_spark.suites import graph_traversal as GT
    from dgraph_etl_spark.suites import llm_extensions, pipeline_reference  # noqa: F401 -- registers
    from dgraph_etl_spark.views import oracle_with_views

    from . import neardup as ND

    oracles = {name: q.oracle for name, q in REGISTRY.items()}
    con = _duck(fixture_dir)
    memo: dict[tuple, dict] = {}
    neardup_pairs = lsh_pairs = None
    graph_views = False

    def ingest(op: dict) -> dict:
        _bind(con, "events", f"ts >= make_timestamp({op['wm']}::BIGINT * 1000000)")
        if op["kind"] == "live":
            # the live sink writes one sorted-key JSON object per edge:
            # {"dst": "<dst>", "score": <int>.0, "src": "<src>"} + newline
            (edges, nbytes), = _rows(
                con,
                "SELECT COUNT(*), COALESCE(SUM(36 + length(src) + length(dst) + "
                "length(CAST(CAST(score AS BIGINT) AS VARCHAR))), 0) "
                f"FROM ({oracles['a17_live_upsert']}) e",
            )
            (rows_read, max_us), = _rows(
                con, "SELECT COUNT(*), epoch_us(MAX(ts)) FROM events"
            )
            return {
                "edges": edges,
                "bytes": nbytes,
                "rows_read": rows_read,
                "next_watermark_s": None if max_us is None else max_us // 1_000_000,
            }
        (triples, nbytes), = _rows(
            con,
            "SELECT COUNT(*), SUM(length(value) + 1) "
            f"FROM ({oracles['a18_rdf_triples']}) t",
        )
        (rows_read,), = _rows(con, "SELECT COUNT(*) FROM events")
        return {"triples": triples, "bytes": nbytes, "_in_rows": rows_read}

    def graph(op: dict) -> dict:
        nonlocal graph_views
        if not graph_views:
            # the derived views, materialized once: every team's hop
            # query reads them several times over
            _bind(con, "events", "TRUE")
            for v in ("edges", "team_member"):
                con.execute(f"CREATE TEMP TABLE g_{v} AS {oracle_with_views(f'SELECT * FROM {v}')}")
            graph_views = True
        pinned = f"team_id = '{GT.TEAM}'"
        if pinned not in GT._HOPS:
            raise RuntimeError("graph_traversal._HOPS no longer pins its team")
        hops = GT._HOPS.replace(pinned, f"team_id = '{op['team']}'")
        rows = _rows(
            con,
            "WITH edges AS (SELECT * FROM g_edges), team_member AS (SELECT * FROM g_team_member)"
            + hops
            + ", counts AS (SELECT (SELECT COUNT(*) FROM hop1) AS h1,"
            " (SELECT COUNT(*) FROM hop2) AS h2)"
            " SELECT h1, h2, id FROM counts LEFT JOIN hop2 ON TRUE",
        )
        return {
            "hop1": rows[0][0],
            "hop2": rows[0][1],
            "hop2_ids": sorted(r[2] for r in rows if r[2] is not None),
        }

    def pairs_in(pairs: list, op: dict) -> list:
        return [[a, b] for a, b in pairs if op["lo"] <= a <= op["hi"] and op["lo"] <= b <= op["hi"]]

    def curation(op: dict) -> dict:
        nonlocal neardup_pairs, lsh_pairs
        if op["kind"] == "topk":
            sql = oracles["c04_topk_cosine"]
            if "WHERE vec_id = 0" not in sql:
                raise RuntimeError("c04_topk_cosine no longer pins vec_id 0")
            rows = _rows(con, sql.replace("WHERE vec_id = 0", f"WHERE vec_id = {op['vec']}"))
            return {"rows": sorted(rows)}
        if op["kind"] == "neardup":
            if neardup_pairs is None:
                neardup_pairs = ND.jaccard_pairs(fixture_dir, threshold=0.5)
            return {"rows": ND.components(range(op["lo"], op["hi"] + 1), neardup_pairs)}
        if op["kind"] == "lsh":
            # a pair's band collisions depend on its two documents only,
            # so a batch's pairs are the corpus pairs inside the batch
            if lsh_pairs is None:
                _bind(con, "documents", "TRUE")
                lsh_pairs = sorted(_rows(con, oracles["c02_minhash_lsh_pairs"]))
            return {"rows": pairs_in(lsh_pairs, op)}
        _bind(con, "documents", f"doc_id BETWEEN {op['lo']} AND {op['hi']}")
        name = {"exact_dedup": "c01_exact_dedup", "term_stats": "c07_term_stats"}[op["kind"]]
        return {"rows": sorted(_rows(con, oracles[name]))}

    compute = {"live": ingest, "bulk": ingest, "khop": graph, "dql": graph}
    out = []
    for op in ops:
        key = _input_key(op)
        if key not in memo:
            memo[key] = compute.get(op["kind"], curation)(op)
        out.append(memo[key])
    con.close()
    return out


# ------------------------------------------------------------- client


class Client:
    """Runs ops against one SparkSession by calling the program's
    public functions -- the same calls ``__main__.py`` makes -- each
    wrapped in a layer span of ``tracer``. Returns the op's output in
    the shape ``expect_all`` produces."""

    def __init__(self, spark, fixture_dir: str, work_dir: str, tracer):
        self.spark = spark
        self.fx = fixture_dir
        self.work = work_dir
        self.t = tracer
        self._n = 0

    def run(self, op: dict) -> dict:
        self._n += 1
        return getattr(self, "_" + op["kind"])(op)

    # ---- ingest: cmd_etl / cmd_bulk call chains

    def _increment(self, wm: int):
        from pyspark.storagelevel import StorageLevel

        from dgraph_etl_spark.pipeline import edges as E
        from dgraph_etl_spark.pipeline import watermark as W
        from dgraph_etl_spark.views import derive_user_relationship

        rel = derive_user_relationship(W.incremental_events_scan(self.spark, self.fx, wm))
        edges = E.max_score_per_edge(E.explode_bidirectional(rel))
        return rel.persist(StorageLevel.DISK_ONLY), edges

    def _out_dir(self, name: str) -> str:
        return os.path.join(self.work, f"{name}_{self._n}")

    def _live(self, op: dict) -> dict:
        from dgraph_etl_spark.pipeline import watermark as W
        from dgraph_etl_spark.sinks.live import file_sink_factory, write_edges_live

        with self.t.span("pipeline.plan"):
            rel, edges = self._increment(op["wm"])
        run_dir = self._out_dir("live")
        os.makedirs(run_dir)
        try:
            with self.t.span("sinks.live.write_edges_live"):
                write_edges_live(edges, file_sink_factory(run_dir, fail_first=op["fail_first"]))
            with self.t.span("pipeline.watermark.next_watermark"):
                nw = W.next_watermark(rel, "last_update").first()
        finally:
            rel.unpersist()
        lines, nbytes = _count_lines(run_dir, ".ndjson")
        shutil.rmtree(run_dir)
        self.t.count("sinks.live.rows_out", lines)
        self.t.count("sinks.live.bytes_out", nbytes)
        return {
            "edges": lines,
            "bytes": nbytes,
            "rows_read": nw["rows_read"],
            "next_watermark_s": nw["next_watermark_s"],
        }

    def _bulk(self, op: dict) -> dict:
        from dgraph_etl_spark.pipeline import persons as P
        from dgraph_etl_spark.pipeline import rdf as R

        with self.t.span("pipeline.plan"):
            rel, edges = self._increment(op["wm"])
            flagged = P.enrich_is_trove(
                P.distinct_person_ids(rel), self.spark.table("trove_user")
            )
            triples = R.all_triples(self.spark.table("team_member"), flagged, edges)
        out = self._out_dir("rdf")
        try:
            with self.t.span("pipeline.rdf.write_rdf"):
                R.write_rdf(triples, out)
        finally:
            rel.unpersist()
        lines, nbytes = _count_lines(out, ".txt")
        shutil.rmtree(out)
        self.t.count("pipeline.rdf.triples_out", lines)
        self.t.count("pipeline.rdf.bytes_out", nbytes)
        return {"triples": lines, "bytes": nbytes}

    # ---- graph_query: cmd_query, both front ends

    def _khop(self, op: dict) -> dict:
        from dgraph_etl_spark.graph.traverse import k_hop, team_seed

        with self.t.span("graph.traverse.k_hop"):
            seeds = team_seed(self.spark.table("team_member"), op["team"])
            hops = k_hop(self.spark.table("edges"), seeds, k=2)
        with self.t.span("graph.traverse.collect"):
            h1, h2 = (h.count() for h in hops)
            ids = sorted(r["id"] for r in hops[-1].select("id").collect())
        self.t.count("graph.hop1_rows", h1)
        self.t.count("graph.hop2_rows", h2)
        return {"hop1": h1, "hop2": h2, "hop2_ids": ids}

    def _dql(self, op: dict) -> dict:
        from dgraph_etl_spark.graph.dql import run_dql
        from dgraph_etl_spark.suites.graph_traversal import REFERENCE_DQL, TEAM, dql_fixture_graph

        text = REFERENCE_DQL.replace(f"eq(team_id, {TEAM})", f"eq(team_id, {op['team']})")
        with self.t.span("suites.graph_traversal.dql_fixture_graph"):
            graph = dql_fixture_graph(self.spark, self.fx)
        with self.t.span("graph.dql.run_dql"):
            results = run_dql(text, graph)
        with self.t.span("graph.dql.collect"):
            out = {}
            for res in results:
                block = {"count": res.uids.count()}
                if res.attrs is not None:
                    block["rows"] = sorted(tuple(r) for r in res.attrs.drop("id").collect())
                out[res.name] = block
        h1, h2 = out["hop1_count"]["count"], out["hop2_count"]["count"]
        self.t.count("graph.hop1_rows", h1)
        self.t.count("graph.hop2_rows", h2)
        return {
            "hop1": h1,
            "hop2": h2,
            "hop2_ids": sorted(str(r[0]) for r in out["hop2_count"]["rows"]),
        }

    # ---- curation: functions/ operators on a document batch or a query vector

    def _batch(self, op: dict):
        from pyspark.sql import functions as F

        return self.spark.table("documents").filter(F.col("doc_id").between(op["lo"], op["hi"]))

    def _exact_dedup(self, op: dict) -> dict:
        from dgraph_etl_spark.functions import dedup as D

        with self.t.span("functions.dedup.exact_dedup"):
            rows = D.exact_dedup(self._batch(op)).collect()
        return {"rows": sorted(tuple(r) for r in rows)}

    def _lsh(self, op: dict) -> dict:
        from dgraph_etl_spark.functions import dedup as D

        with self.t.span("functions.dedup.lsh_candidate_pairs"):
            rows = D.lsh_candidate_pairs(self._batch(op), portable=True).collect()
        self.t.count("functions.dedup.pairs_out", len(rows))
        return {"rows": sorted(tuple(r) for r in rows)}

    def _neardup(self, op: dict) -> dict:
        from dgraph_etl_spark.functions import dedup as D

        with self.t.span("functions.dedup.neardup"):
            docs = self._batch(op)
            pairs = D.ngram_jaccard_pairs(docs, n=2, block_col="lang", threshold=0.5)
            rows = D.neardup_components(docs, pairs).collect()
        return {"rows": sorted((r["doc_id"], r["component"]) for r in rows)}

    def _term_stats(self, op: dict) -> dict:
        from dgraph_etl_spark.functions import text as X

        with self.t.span("functions.text.term_stats"):
            rows = X.term_stats(self._batch(op)).collect()
        return {"rows": sorted(tuple(r) for r in rows)}

    def _topk(self, op: dict) -> dict:
        from pyspark.sql import functions as F

        from dgraph_etl_spark.functions import similarity as S

        emb = self.spark.table("embeddings")
        query = emb.filter(F.col("vec_id") == op["vec"]).select(F.col("embedding").alias("qvec"))
        with self.t.span("functions.similarity.brute_topk"):
            rows = S.brute_topk(emb, query, k=10).collect()
        return {"rows": sorted(tuple(r) for r in rows)}


def _count_lines(path: str, suffix: str) -> tuple[int, int]:
    lines = nbytes = 0
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(suffix):
            with open(os.path.join(path, name), "rb") as f:
                data = f.read()
            lines += data.count(b"\n")
            nbytes += len(data)
    return lines, nbytes


def matches(got: dict, want: dict) -> bool:
    """Exact comparison on every key of ``want`` not starting with
    ``_``, except cosine similarities: both engines round them to 4
    places, and a sum accumulated in another order may land one unit
    apart in the last place. ``want`` has been through JSON, so
    ``got`` is compared in its JSON form too (tuples become lists)."""
    got = json.loads(json.dumps(got))
    keys = {k for k in want if not k.startswith("_")}
    if got.keys() != keys:
        return False
    for k in keys:
        g, w = got[k], want[k]
        if k == "rows" and g and len(g[0]) == 2 and isinstance(g[0][1], float):
            ok = len(g) == len(w) and all(
                a[0] == b[0] and abs(a[1] - b[1]) <= 1.5e-4 for a, b in zip(g, w)
            )
        else:
            ok = g == w
        if not ok:
            return False
    return True


def in_rows(op: dict, want: dict) -> int:
    """Source rows one op consumes: the events of the increment for a
    live load or bulk export; every events row for a graph query,
    whose edge table derives from the whole events source; the batch's
    documents, or the whole embedding corpus, for a curation call."""
    from .fixture import N_EVENTS

    if op["kind"] in ("live", "bulk"):
        return want.get("rows_read", want.get("_in_rows"))
    if op["kind"] in ("khop", "dql"):
        return N_EVENTS
    return N_VECS if op["kind"] == "topk" else op["hi"] - op["lo"] + 1
