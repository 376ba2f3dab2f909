"""Property-based tests (SURVEY.md §5 item 3): the engine's set-oriented
pipeline must agree with a sequential fold of the reference's
record-at-a-time semantics (rMap/uMap, cmd/bulk/main.go:29-53,178-212)
on arbitrary record streams — duplicates, interleavings, redelivery.
"""

from __future__ import annotations

import pytest
from tests.conftest import SF_ORACLE, SF_SMALL
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dgraph_etl_spark.functions.similarity import brute_topk, ivf_topk
from dgraph_etl_spark.pipeline.edges import (
    explode_bidirectional,
    max_score_per_edge,
    merge_max_with_existing,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small id space => guaranteed duplicate (src,dst) pairs
_rec = st.tuples(
    st.integers(0, 5),  # from_person_id
    st.integers(0, 5),  # to_person_id
    st.integers(0, 100),  # raw_score_in
    st.integers(0, 100),  # raw_score_out
)
_streams = st.lists(_rec, min_size=1, max_size=40)

_COLS = ["from_person_id", "to_person_id", "raw_score_in", "raw_score_out"]


def _df(spark, recs):
    return spark.createDataFrame(
        [(str(a), str(b), i, o) for a, b, i, o in recs], _COLS
    )


def _sequential_rmap(recs):
    """The reference's consumer loop, verbatim semantics: two directed
    edges per record; keep an edge only if its score beats the stored
    one (cmd/bulk/main.go:178-212)."""
    rmap: dict[tuple[str, str], float] = {}
    for a, b, score_in, score_out in recs:
        for src, dst, sc in ((a, b, score_in), (b, a, score_out)):
            key = (str(src), str(dst))
            if key not in rmap or sc > rmap[key]:
                rmap[key] = float(sc)
    return rmap


@given(_streams)
@_settings
def test_a12_groupby_max_equals_sequential_rmap(spark, recs):
    out = max_score_per_edge(explode_bidirectional(_df(spark, recs)))
    got = {(r.src, r.dst): r.score for r in out.collect()}
    assert got == _sequential_rmap(recs)


@given(_streams)
@_settings
def test_a9_explode_yields_exactly_2n_edges(spark, recs):
    exploded = explode_bidirectional(_df(spark, recs))
    assert exploded.count() == 2 * len(recs)


@given(_streams)
@_settings
def test_a5_redelivery_is_idempotent(spark, recs):
    """At-least-once redelivery (the reference re-reads from the
    watermark, elastic.go:50-51): processing the stream twice must give
    the same edges as processing it once."""
    once = _df(spark, recs)
    twice = once.unionAll(once)
    a = max_score_per_edge(explode_bidirectional(once)).collect()
    b = max_score_per_edge(explode_bidirectional(twice)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@given(_streams, _streams)
@_settings
def test_a13_merge_is_associative_with_batching(spark, old, new):
    """Merging batch-by-batch == merging everything at once (the
    algebraic property that lets the batch pipeline replace per-record
    conditional upserts, dgraph.go:110-133)."""
    both = max_score_per_edge(explode_bidirectional(_df(spark, old + new)))
    staged = merge_max_with_existing(
        explode_bidirectional(_df(spark, new)),
        max_score_per_edge(explode_bidirectional(_df(spark, old))),
    )
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, staged.collect())
    )


def test_c04_ivf_recall_vs_brute_force(spark, sf_small):
    """IVF probes 3 of the label cells; its top-10 must substantially
    overlap the exact top-10 (the fixture's labels correlate with the
    embedding clusters, so recall should be high)."""
    from dgraph_etl_spark.catalog import register_views

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    qv = emb.filter("vec_id = 0").selectExpr("embedding AS qvec")
    exact = {r.vec_id for r in brute_topk(emb, qv, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(emb, qv, k=10, nprobe=3).collect()}
    assert len(exact & approx) >= 5


# ---------------------------------------------------------------- C12

# 12 docs (0-11); 12 and 13 are pair ends missing from docs, None a
# NULL end: both lanes must ignore every pair that touches either
_end = st.one_of(st.integers(0, 13), st.none())
_edges = st.lists(
    st.tuples(_end, _end).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=20,
)


def _sequential_components(ids, pairs):
    """Union-find ground truth: component = min id reachable over the
    pairs whose ends are both in ``ids``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


@pytest.fixture(params=["driver", "distributed"])
def components_lane(request, monkeypatch):
    """neardup_components picks its lane from the kept pair count
    against session.PER_ROUND_BCAST_CEILING_ROWS, read at call time:
    toy graphs always take the driver lane unless the ceiling drops
    below zero (below any count, the empty pair set's included)."""
    import dgraph_etl_spark.session as S

    if request.param == "distributed":
        monkeypatch.setattr(S, "PER_ROUND_BCAST_CEILING_ROWS", -1)
    return request.param


@given(_edges, st.booleans())
@_settings
def test_c12_components_equal_union_find(
    spark, components_lane, pairs, string_ids
):
    """Both lanes equal union-find, on LONG ids and on STRING ids
    (g12/g23 pass string node ids; their min is the bytewise one,
    "10" < "9"), with pair ends missing from docs and NULL ends
    ignored."""
    from dgraph_etl_spark.functions.dedup import neardup_components

    key = str if string_ids else int
    id_type = "string" if string_ids else "bigint"
    ids = [key(i) for i in range(12)]
    pairs = [
        tuple(None if x is None else key(x) for x in p) for p in pairs
    ]
    docs = spark.createDataFrame([(i,) for i in ids], f"doc_id {id_type}")
    pdf = spark.createDataFrame(
        [(min(a, b), max(a, b)) if None not in (a, b) else (a, b)
         for a, b in pairs],
        f"doc_a {id_type}, doc_b {id_type}",
    )
    got = {
        r.doc_id: r.component
        for r in neardup_components(docs, pdf).collect()
    }
    assert got == _sequential_components(ids, pairs)


def test_g29_hits_closed_forms(spark):
    from dgraph_etl_spark.graph.traverse import hits

    # star (leaves -> center): leaves are pure equal hubs, the center
    # is the sole authority (L1-normalized: auth(c)=1, hub(l)=1/4)
    star = spark.createDataFrame(
        [(f"l{i}", "c", 1.0) for i in range(4)], ["src", "dst", "score"]
    )
    got = {r.node: (r.hub, r.auth) for r in hits(star, n_iter=3).collect()}
    assert got["c"] == (0.0, 1.0), got
    for i in range(4):
        assert got[f"l{i}"] == (0.25, 0.0), got

    # n_iter=0 degrades to the initial vectors (like pagerank), not a
    # crash: uniform 1.0 hub/auth for every node
    got0 = {r.node: (r.hub, r.auth) for r in hits(star, n_iter=0).collect()}
    assert all(v == (1.0, 1.0) for v in got0.values()), got0


def test_g10_pagerank_closed_forms(spark):
    from dgraph_etl_spark.graph.traverse import pagerank

    # cycle: symmetric => uniform 1/n
    cyc = spark.createDataFrame(
        [(str(i), str((i + 1) % 5), 1.0) for i in range(5)],
        ["src", "dst", "score"],
    )
    ranks = {r.node: r.rank for r in pagerank(cyc, n_iter=8).collect()}
    assert all(abs(v - 0.2) < 1e-9 for v in ranks.values()), ranks
    assert abs(sum(ranks.values()) - 1.0) < 1e-6

    # star (leaves -> center): center absorbs damped mass; leaves equal
    star = spark.createDataFrame(
        [(f"l{i}", "c", 1.0) for i in range(4)], ["src", "dst", "score"]
    )
    ranks = {r.node: r.rank for r in pagerank(star, n_iter=12).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    leaves = [v for k, v in ranks.items() if k != "c"]
    assert max(leaves) - min(leaves) < 1e-12
    assert ranks["c"] > 4 * max(leaves)


def test_c02_lsh_recall_of_true_neardups(spark):
    """LSH candidate pairs must contain every true near-duplicate
    (2-gram Jaccard >= 0.8) on the sf0.01 fixture -- the recall
    contract that makes the banding parameters (32 hashes / 8 bands)
    trustworthy. Precision is allowed to be < 1 (candidates get
    re-ranked); recall is not."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import dedup as D

    docs = load_table(spark, SF_ORACLE, "documents")
    truth = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(
            docs, n=2, block_col="lang", threshold=0.8
        ).collect()
    }
    assert truth, "fixture lost its planted near-duplicates"
    lsh = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(docs).collect()}
    assert truth <= lsh, f"LSH missed true pairs: {sorted(truth - lsh)}"


def _md5_int60_ref(token):
    """dedup.md5_int60 in plain Python: the first 15 hex digits of the
    UTF-8 md5, as an integer."""
    import hashlib

    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)


def test_curation_hashes_equal_md5_reference(spark):
    """The one curation hash family, called with no arguments, equals a
    pure-Python hashlib.md5 reference: token_hashes is md5_int60 mod
    2^31-1 per token, and simhash_signatures is the 60-bit majority
    vote over every token occurrence (ties -> 0). A NULL text has NULL
    token hashes and no signature."""
    from dgraph_etl_spark.functions.dedup import simhash_signatures, token_hashes

    texts = {
        1: "a a b a",
        2: "naïve café 東京 café",
        3: "solo",
        4: "x y",
        5: None,
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id bigint, text string"
    )
    th = {
        r.doc_id: r.th
        for r in docs.select("doc_id", token_hashes().alias("th")).collect()
    }
    assert th == {
        i: None if t is None
        else [_md5_int60_ref(x) % 2_147_483_647 for x in t.split(" ")]
        for i, t in texts.items()
    }

    def vote(toks):
        hs = [_md5_int60_ref(x) for x in toks]
        return sum(
            1 << i
            for i in range(60)
            if sum(1 if h >> i & 1 else -1 for h in hs) > 0
        )

    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sig == {
        i: vote(t.split(" ")) for i, t in texts.items() if t is not None
    }


def test_c02_simhash_hamming_pairs_exact(spark):
    """simhash_hamming_pairs must equal EXACTLY the brute-force
    Hamming<=r pair set over the signatures: pigeonhole banding
    guarantees recall 1.0 (a pair differing in <=r bits agrees on one
    of the r+1 chunks), and the bit_count(xor)<=r filter guarantees
    precision 1.0."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import dedup as D

    docs = load_table(spark, SF_SMALL, "documents")
    sigs = {r.doc_id: r.simhash for r in D.simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    r = 3
    mask = 0xFFFFFFFFFFFFFFFF
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & mask).count("1") <= r
    }
    got = {
        (p.doc_a, p.doc_b)
        for p in D.simhash_hamming_pairs(docs, r=r).collect()
    }
    assert truth, "fixture has no Hamming<=3 pairs -- test is vacuous"
    assert got == truth, (
        f"missing={sorted(truth - got)[:5]} extra={sorted(got - truth)[:5]}"
    )


def test_c12_components_raise_on_nonconvergence(spark, components_lane):
    """A path graph's diameter exceeds a tiny max_iter: the propagation
    must FAIL LOUDLY, never return stale (under-deduped) labels. Both
    lanes run the same rounds, so they raise on the same inputs."""
    import pytest

    from dgraph_etl_spark.functions.dedup import neardup_components

    n = 8
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    # label 0 reaches node 7 in round 7 and round 8 moves nothing: 7
    # rounds are one too few, 8 enough
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(docs, chain, max_iter=n - 1)
    labels = neardup_components(docs, chain, max_iter=n).collect()
    assert {r.component for r in labels} == {0}


_tri_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=80
)


@given(_tri_edges)
@_settings
def test_g09_degree_oriented_triangles_equal_lexicographic(spark, pairs):
    """Degree-based orientation must count exactly the triangles the
    lexicographic orientation counts, on arbitrary multigraphs with
    loops and duplicate/reversed edges."""
    from dgraph_etl_spark.graph.traverse import (
        triangle_count,
        triangle_count_degree_oriented,
    )

    edges = spark.createDataFrame(
        [(str(a), str(b), 1.0) for a, b in pairs], ["src", "dst", "score"]
    )
    lex = triangle_count(edges).first()["n_triangles"]
    deg = triangle_count_degree_oriented(edges).first()["n_triangles"]
    assert lex == deg


_winnow_tok = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=2), min_size=0, max_size=12
)


@given(_winnow_tok, _winnow_tok, _winnow_tok, _winnow_tok)
@_settings
def test_c22_winnowing_guarantee_on_shared_runs(spark, pre_a, post_a, pre_b, post_b):
    """Winnowing's core guarantee (k=3, w=4): two documents sharing a
    token run of length >= w+k-1 = 6 MUST share at least one
    fingerprint, whatever surrounds the run."""
    from dgraph_etl_spark.functions.text import winnowing_fingerprints

    shared = ["s1", "s2", "s3", "s4", "s5", "s6"]
    doc_a = " ".join(pre_a + shared + post_a)
    doc_b = " ".join(pre_b + shared + post_b)
    docs = spark.createDataFrame([(0, doc_a), (1, doc_b)], ["doc_id", "text"])
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    a = {r.fp for r in fps if r.doc_id == 0}
    b = {r.fp for r in fps if r.doc_id == 1}
    assert a & b, f"no shared fingerprint:\nA={doc_a!r}\nB={doc_b!r}"


def test_c20_srp_lsh_precision_and_recall(spark):
    """SRP-LSH near-dup pairs: precision must be exactly 1.0 (the
    final cosine filter is exact), and recall vs the brute-force
    cosine>=0.4 pair set must clear a floor on the deterministic
    fixture (the md5-Rademacher planes are fixed, so this is a fixed
    number, not a flaky sample; measured 0.983)."""
    import numpy as np

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.similarity import srp_neardup_pairs

    # sf0.01: the smallest fixture with planted embedding near-dups
    # (sf0.001's max off-diagonal cosine is 0.48)
    emb = load_table(spark, SF_ORACLE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b, s in zip(ids[iu[0]], ids[iu[1]], sims[iu])
        if round(s, 4) >= 0.4
    }
    got = {
        (p.vec_a, p.vec_b)
        for p in srp_neardup_pairs(
            emb, threshold=0.4, n_planes=16, n_bands=8, dim=64
        ).collect()
    }
    assert truth, "fixture has no cosine>=0.4 pairs -- test is vacuous"
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} below floor"


def test_c19_hash_samples_are_nested_and_partition_invariant(spark):
    """Hash sampling contracts: (a) the 25% sample is a SUBSET of the
    50% sample at the same seed (nested ablations), (b) the kept set is
    invariant under repartitioning (df.sample is not)."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.sampling import hash_sample

    docs = load_table(spark, SF_SMALL, "documents")
    s25 = {r.doc_id for r in hash_sample(docs, rate=0.25).select("doc_id").collect()}
    s50 = {r.doc_id for r in hash_sample(docs, rate=0.5).select("doc_id").collect()}
    assert s25 <= s50
    n = docs.count()
    assert abs(len(s25) / n - 0.25) < 0.08 and abs(len(s50) / n - 0.5) < 0.08
    rep = {
        r.doc_id
        for r in hash_sample(docs.repartition(17), rate=0.25)
        .select("doc_id")
        .collect()
    }
    assert rep == s25


def test_c25_mixture_epochs_copy_counts_and_nesting(spark):
    """Mixture-upsampling contracts: (a) every row gets floor(w) or
    floor(w)+1 copies of its stratum weight and epoch indices are
    exactly 1..n, (b) the extra-copy set of a SMALLER fractional
    weight is a subset of a larger one at the same seed (fractional
    epochs nest like the samples they are built from)."""
    from collections import Counter

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.sampling import mixture_epochs

    docs = load_table(spark, SF_SMALL, "documents")
    w = {"src0": 2.5, "src1": 0.25}
    out = mixture_epochs(docs, weights=w, default_weight=1.0).collect()
    per_doc = Counter(r.doc_id for r in out)
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    for doc_id, n in per_doc.items():
        base = int(w.get(src[doc_id], 1.0))
        assert n in (base, base + 1), (doc_id, n)
    epochs = {}
    for r in out:
        epochs.setdefault(r.doc_id, set()).add(r.epoch)
    assert all(e == set(range(1, len(e) + 1)) for e in epochs.values())
    # src1 rows absent at w=0.25 must also be absent at w=0.75
    kept_25 = {d for d, n in per_doc.items() if src[d] == "src1" and n >= 1}
    out75 = mixture_epochs(docs, weights={"src1": 0.75}).collect()
    kept_75 = {r.doc_id for r in out75 if src[r.doc_id] == "src1"}
    assert kept_25 <= kept_75


def test_c26_sequence_chunks_tile_every_document(spark):
    """Chunking contracts per document: chunk 0 starts at token 0,
    starts advance by exactly the stride, the final chunk ends at
    n_tokens, every chunk holds 1..seq_len tokens, and the chunk text
    re-slices the source tokens verbatim."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.text import sequence_chunks

    docs = load_table(spark, SF_SMALL, "documents")
    L, S = 64, 48
    rows = sequence_chunks(docs, seq_len=L, stride=S).collect()
    toks = {r.doc_id: r.text.split(" ") for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        t = toks[doc_id]
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert chunks[0].start_tok == 0
        assert all(c.start_tok == i * S for i, c in enumerate(chunks))
        assert chunks[-1].end_tok == len(t)
        for c in chunks:
            assert 1 <= c.n_chunk_tokens <= L
            assert c.chunk_text == " ".join(t[c.start_tok : c.end_tok])


def test_c02_simhash_is_python_free(spark):
    """The SimHash vote must stay entirely JVM-side: no
    BatchEvalPython / ArrowEvalPython node may appear in the plan
    (the round-1 pandas-UDF FNV loop was the repo's only
    row-at-a-time Python hot path)."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import dedup as D

    docs = load_table(spark, SF_SMALL, "documents")
    plan = D.simhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


_doclens = st.lists(st.integers(1, 500), min_size=1, max_size=60)


@given(_doclens, st.integers(1, 5000))
@_settings
def test_c13_banded_pack_equals_naive_global_window(spark, lens, budget):
    """token_budget_pack's banded distributed prefix sum must equal the
    naive single-partition global running sum for ANY length profile
    and budget (ties, empty bands, budget beyond the corpus, ...)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dgraph_etl_spark.functions.text import token_budget_pack

    rows = [
        (i, " ".join(["w"] * max(1, ln // 2)), ln)
        for i, ln in enumerate(lens)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in token_budget_pack(docs, budget).collect()
    }
    naive_w = W.orderBy(F.desc("n_chars"), "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    naive = {
        r.doc_id: (r.n_tokens, r.cum)
        for r in docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
            "n_chars",
        )
        .withColumn("cum", F.sum("n_tokens").over(naive_w))
        .filter(F.col("cum") <= budget)
        .collect()
    }
    assert got == naive


_groups = st.lists(
    st.tuples(st.integers(0, 2), st.integers(1, 400)),  # (source, n_chars)
    min_size=2,
    max_size=40,
)


@given(_groups)
@_settings
def test_c14_integer_ztest_equals_reference(spark, rows):
    """The integer-exact z-test (n*x - s)^2 > 4*(n*ss - s^2) must equal
    the |z| > 2 outlier flag computed in exact arithmetic per group --
    including sigma=0 groups (all-equal values are never outliers)."""
    docs = spark.createDataFrame(
        [(i, f"src{g}", ln) for i, (g, ln) in enumerate(rows)],
        ["doc_id", "source", "n_chars"],
    )
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("source")
    x = F.col("n_chars")
    n, s, ss = (
        F.count(F.lit(1)).over(w),
        F.sum(x).over(w),
        F.sum(x * x).over(w),
    )
    d = n * x - s
    got = {
        r.doc_id: r.is_outlier
        for r in docs.select(
            "doc_id", (d * d > 4 * (n * ss - s * s)).alias("is_outlier")
        ).collect()
    }

    # exact-fraction reference: |x - mean| > 2*sigma  <=>
    # (x - S/N)^2 > 4*(SS/N - (S/N)^2), scaled by N^2 to stay integral
    from collections import defaultdict

    by_src = defaultdict(list)
    for i, (g, ln) in enumerate(rows):
        by_src[g].append((i, ln))
    want = {}
    for g, members in by_src.items():
        N = len(members)
        S = sum(ln for _, ln in members)
        SS = sum(ln * ln for _, ln in members)
        for i, ln in members:
            want[i] = (N * ln - S) ** 2 > 4 * (N * SS - S * S)
    assert got == want


def test_kcore_clique_survives_pendant_peels(spark):
    """Closed form: K4 + a pendant vertex hanging off it. The 3-core is
    exactly the K4 (every clique vertex keeps degree 3 after the
    pendant is peeled); the pendant (degree 1) and its effect on its
    anchor's degree vanish."""
    from dgraph_etl_spark.graph.traverse import k_core

    k4 = [(a, b) for a in "1234" for b in "1234" if a < b]
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in k4] + [("4", "9", 1.0)],
        ["src", "dst", "score"],
    )
    got = {
        (r["id"], r["core_degree"])
        for r in k_core(edges, k=3, n_rounds=10).collect()
    }
    assert got == {("1", 3), ("2", 3), ("3", 3), ("4", 3)}


def test_kcore_cycle_below_k_empties(spark):
    """A plain cycle is 2-regular: a 3-core peel removes everything."""
    from dgraph_etl_spark.graph.traverse import k_core

    cyc = [(str(i), str((i + 1) % 6), 1.0) for i in range(6)]
    edges = spark.createDataFrame(cyc, ["src", "dst", "score"])
    assert k_core(edges, k=3, n_rounds=10).count() == 0


def test_span_dup_whole_doc_copy_scores_one(spark):
    """Closed form for the passage screen: two identical docs have
    EVERY span duplicated (frac 1.0); a doc sharing nothing scores 0;
    a doc sharing exactly its first 8-token span with another doc
    scores 1/ceil(n_spans)."""
    from dgraph_etl_spark.functions.text import span_dup_stats

    shared = " ".join(f"s{i}" for i in range(8))
    uniq_a = " ".join(f"a{i}" for i in range(8))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, shared + " " + uniq_a),   # 2 spans, 1 shared
            (2, shared),                  # 1 span, shared
            (3, uniq_b),                  # 2 spans, none shared
            (4, uniq_b),                  # exact copy of 3
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_span_frac"])
        for r in span_dup_stats(docs, k=8).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 1, 1.0)
    assert got[3] == (2, 2, 1.0)
    assert got[4] == (2, 2, 1.0)


def test_catalog_sf_dir_switch_mid_session(spark):
    """Harness probe (verify-skill gotcha): registering sf0.001 then
    sf0.01 in the SAME session must re-point every view -- the catalog
    caches the last registered dir per session and must invalidate on
    switch, never serve stale views."""
    from dgraph_etl_spark.catalog import register_views

    register_views(spark, SF_SMALL, force=True)
    n_small = spark.table("lineitem").count()
    register_views(spark, SF_ORACLE)
    n_big = spark.table("lineitem").count()
    assert n_big > n_small
    register_views(spark, SF_SMALL)
    assert spark.table("lineitem").count() == n_small


def test_approx_quantiles_within_rank_tolerance(spark, sf_small):
    """b59's sketch answers must sit within rank-error tolerance of the
    exact percentiles: GK with accuracy A guarantees rank error
    <= n/A, so with A=10000 and per-group n in the low thousands the
    approx answer must land between the exact neighbors of the target
    rank -- here we allow the value band [exact_p(q-eps), exact_p(q+eps)]
    with eps = 1% of rank: orders of magnitude wider than the sketch's
    n/A guarantee but tight enough to catch a broken sketch, and wide
    enough to absorb percentile()'s interpolation between rows (the
    sketch returns actual data values)."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.registry import REGISTRY, _load_suites

    _load_suites()
    rows = REGISTRY["b59_quantile_error_bound"].fn(spark, sf_small).collect()
    assert rows, "b59 returned no groups"
    for r in rows:
        assert r["p50_within"] == 1 and r["p95_within"] == 1, r
    # independent band check on the raw sketch values (the registered
    # query deliberately omits them -- re-derive here)
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    approx = {
        r["l_returnflag"]: (r["p50"], r["p95"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
            F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    eps = 0.01
    for q, idx in ((0.5, 0), (0.95, 1)):
        exact_lo = {
            r["l_returnflag"]: r["v"]
            for r in li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile(l_extendedprice, {max(q - eps, 0)})").alias("v"))
            .collect()
        }
        exact_hi = {
            r["l_returnflag"]: r["v"]
            for r in li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile(l_extendedprice, {min(q + eps, 1)})").alias("v"))
            .collect()
        }
        for flag, vals in approx.items():
            assert exact_lo[flag] <= vals[idx] <= exact_hi[flag], (
                q, flag, vals[idx], exact_lo[flag], exact_hi[flag],
            )


def test_sketch_profile_within_hll_tolerance(spark, sf_small):
    """b69's per-column HLL estimates must sit within 5% of the exact
    distinct counts (rsd is configured at 1%; 5% leaves slack while
    still catching a broken sketch or a wrong column wiring)."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.registry import REGISTRY, _load_suites

    _load_suites()
    row = REGISTRY["b69_sketch_error_bound"].fn(spark, sf_small).collect()[0]
    for c in ["ok_orderkey", "ok_custkey", "ok_status", "ok_priority"]:
        assert row[c] == 1, (c, dict(row.asDict()))
    # independent re-derivation: the raw HLL estimates (omitted from
    # the registered output) must sit within 5% of the exact counts
    o = spark.read.parquet(f"{sf_small}/orders.parquet")
    both = o.agg(
        *[
            F.approx_count_distinct(c, 0.01).alias(f"a_{c}")
            for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
        ],
        *[
            F.countDistinct(c).alias(f"e_{c}")
            for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
        ],
    ).collect()[0]
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]:
        assert abs(both[f"a_{c}"] - both[f"e_{c}"]) <= max(
            1, 0.05 * both[f"e_{c}"]
        ), (c, both[f"a_{c}"], both[f"e_{c}"])


# --------------------------------------------------- k-means quantizer


def test_kmeans_assignment_is_partitioning_invariant(spark, sf_small):
    """The fixed-point design claim: integer distance/centroid math
    makes Lloyd's algorithm reproducible regardless of how the corpus
    is partitioned (float partial sums would not be)."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.functions.similarity import kmeans_cells

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    a = {
        (r["vec_id"], r["cell"])
        for r in kmeans_cells(emb, k=4, n_iter=2).collect()
    }
    b = {
        (r["vec_id"], r["cell"])
        for r in kmeans_cells(emb.repartition(7), k=4, n_iter=2).collect()
    }
    assert a == b
    cells = {c for _, c in a}
    assert len(cells) >= 2  # the fixture is not degenerate


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_small):
    """Learned-quantizer ANN: probing 2 of 4 cells must recover a
    meaningful share of the true top-10 (and every returned id must be
    in the true corpus)."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.functions.similarity import (
        brute_topk,
        ivf_kmeans_topk,
    )
    from pyspark.sql import functions as F

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    true = {r["vec_id"] for r in brute_topk(emb, qv, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_kmeans_topk(
            emb, qv, k=10, ncells=4, n_iter=2, nprobe=2
        ).collect()
    }
    assert len(approx) == 10
    recall = len(true & approx) / 10
    assert recall >= 0.4, f"recall@10 {recall}"


def test_int8_topk_recall_vs_float_brute_force(spark, sf_small):
    """4x-compressed ANN: integer-dot ranking over the int8 grid must
    recover most of the true float top-10."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.functions.similarity import brute_topk, int8_topk
    from pyspark.sql import functions as F

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    true = {r["vec_id"] for r in brute_topk(emb, qv, k=10).collect()}
    q8 = {r["vec_id"] for r in int8_topk(emb, qv, k=10).collect()}
    recall = len(true & q8) / 10
    assert recall >= 0.5, f"recall@10 {recall}"


def test_c57_pq_recall_vs_brute_force(spark, sf_small):
    """PQ-ADC keeps 30 candidates for a top-10 re-rank; the re-ranked
    result must substantially overlap the exact top-10 (8 subspaces x
    16 codes on 64-dim vectors loses little at this corpus size). The
    re-rank makes every returned similarity EXACT, so only membership
    can degrade -- never a reported score."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.functions.similarity import pq_topk

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    qv = emb.filter("vec_id = 0").selectExpr("embedding AS qvec")
    exact = {r.vec_id for r in brute_topk(emb, qv, k=10).collect()}
    approx = {r.vec_id for r in pq_topk(emb, qv, k=10).collect()}
    assert len(exact & approx) >= 5


@given(
    st.integers(0, 255),
    st.integers(0, 255),
    st.integers(0, 255),
    st.integers(0, 255),
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_z_address_locality_and_bijection(spark, a1, b1, a2, b2):
    """Z-address invariants that make footer-stat skipping work:
    monotone in each dimension when the other is fixed (so a file's
    zkey range bounds each dimension's range), and bijective over the
    8-bit x 8-bit grid (no two cells collide)."""
    from dgraph_etl_spark.sinks.layout import z_address
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(a1, b1), (a2, b2)], "a long, b long"
    ).select(z_address(F.col("a"), F.col("b"), bits=8).alias("z"), "a", "b")
    rows = {(r.a, r.b): r.z for r in df.collect()}
    z1, z2 = rows[(a1, b1)], rows[(a2, b2)]
    if (a1, b1) == (a2, b2):
        assert z1 == z2
    else:
        assert z1 != z2  # bijection
    if b1 == b2 and a1 < a2:
        assert z1 < z2  # monotone in a with b fixed
    if a1 == a2 and b1 < b2:
        assert z1 < z2  # monotone in b with a fixed


def test_c63_ivfpq_recall_vs_brute_force(spark, sf_small):
    """IVFPQ prunes twice: the coarse probe bounds achievable recall
    (nprobe/ncells of the corpus is visible at all), and the PQ codes
    may lose a little more within it. Assert both halves separately:
    the composition recovers a meaningful share of the exact top-10,
    AND the PQ stage costs at most 2 hits versus IVF-only over the
    SAME probe (isolating what the codes add)."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.functions.similarity import (
        ivf_kmeans_topk,
        ivfpq_topk,
    )

    register_views(spark, sf_small)
    emb = spark.table("embeddings")
    qv = emb.filter("vec_id = 0").selectExpr("embedding AS qvec")
    exact = {r.vec_id for r in brute_topk(emb, qv, k=10).collect()}
    ivf_only = {
        r.vec_id for r in ivf_kmeans_topk(emb, qv, k=10).collect()
    }
    composed = {r.vec_id for r in ivfpq_topk(emb, qv, k=10).collect()}
    assert len(exact & composed) >= 3
    assert len(exact & composed) >= len(exact & ivf_only) - 2


def test_c40_srp_hard_negatives_quality_floors(spark):
    """The SRP-bucketed hard-negative miner (registered c40) against
    the all-pairs exactness baseline it replaced, on the deterministic
    fixture (md5-Rademacher planes: fixed numbers, not flaky samples).
    Two floors, matching the two regimes:

    1. Fixture regime (best cross-label sims ~0.37 -- SRP's worst
       case): every anchor still gets SOME negative (coverage 1.0),
       and for >=85% of anchors the mined negative sits in the hardest
       10% of that anchor's full cross-label candidate set (measured
       0.884 at 32 planes / 4 bands x 8 bits).
    2. Production regime (a planted cross-label near-copy, sim~0.99 --
       what hard-negative mining actually hunts): the miner must
       return the planted vector as THE top negative for >=90% of the
       planted anchors (collision prob ~0.99 at this banding).
    """
    import numpy as np

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.similarity import (
        hard_negatives_exact,
        hard_negatives_srp,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {
        r.anchor_id: (r.negative_id, r.sim)
        for r in hard_negatives_exact(emb).collect()
    }
    mined = {
        r.anchor_id: (r.negative_id, r.sim)
        for r in hard_negatives_srp(emb, dim=64).collect()
    }
    assert set(mined) == set(exact), "coverage below 1.0 on the fixture"

    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r.vec_id for r in rows])
    labels = np.array([r.label for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(mn @ mn.T, 4)
    in_decile = 0
    for i, a in enumerate(ids):
        cross = sims[i][labels != labels[i]]
        cutoff = np.quantile(cross, 0.9)
        if mined[int(a)][1] >= cutoff:
            in_decile += 1
    share = in_decile / len(ids)
    assert share >= 0.85, f"hardest-decile share {share:.3f} below floor"

    # planted near-copies: clone 50 vectors with a tiny perturbation
    # and a DIFFERENT label -- the planted clone is each anchor's true
    # hard negative by a wide margin
    rng = np.random.RandomState(11)
    planted_rows, planted_truth = [], {}
    for i in range(0, 500, 10):
        v = m[i] + rng.normal(scale=0.02, size=m.shape[1]) * np.abs(m[i]).mean()
        new_id = 100000 + int(ids[i])
        planted_rows.append(
            (new_id, [float(x) for x in v], int((labels[i] + 1) % 10))
        )
        planted_truth[int(ids[i])] = new_id
    planted = spark.createDataFrame(
        planted_rows, "vec_id bigint, embedding array<float>, label int"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(planted)
    mined2 = {
        r.anchor_id: r.negative_id
        for r in hard_negatives_srp(corpus, dim=64).collect()
    }
    hits = sum(
        1 for a, neg in planted_truth.items() if mined2.get(a) == neg
    )
    assert hits / len(planted_truth) >= 0.90, (
        f"planted-near-dup recall {hits / len(planted_truth):.2f} below floor"
    )


def test_c04_arrow_lane_equals_jvm_lane(spark):
    """brute_topk_arrow (the large-N mapInPandas lane) must return the
    IDENTICAL (vec_id, sim) rows as brute_topk (the JVM expression
    lane) -- same round-4dp sims, same vec_id tiebreak -- on both
    small fixtures, so swapping lanes by corpus size never changes an
    answer."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions import similarity as S

    for sf in (SF_SMALL, SF_ORACLE):
        emb = load_table(spark, sf, "embeddings")
        query = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
        jvm = [(r.vec_id, r.sim) for r in S.brute_topk(emb, query, 25).collect()]
        arrow = [
            (r.vec_id, r.sim)
            for r in S.brute_topk_arrow(emb, query, 25).collect()
        ]
        assert jvm == arrow


def test_c04_arrow_lane_edge_case_parity(spark):
    """The Arrow lane must agree with the JVM lane on degenerate
    inputs too: a zero-norm corpus vector scores NULL sim in BOTH
    lanes (cosine uses try_divide -- under ANSI mode a bare division
    would ERROR, under non-ANSI it would make NaN sort first; NULL
    sorts last under desc in both configs), and sims round HALF_UP
    like F.round, not numpy half-to-even. Guards the divergences
    flagged in round-5 advice: coercing zero norms to 1.0 (sim 0.0)
    or np.round (banker's rounding) would let a corpus-size-based
    lane swap change an answer."""
    import math

    from dgraph_etl_spark.functions import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # the query itself: sim 1.0
        (1, [0.0, 0.0, 0.0, 0.0]),   # zero norm: NULL in both lanes
        (2, [0.5, 0.5, 0.5, 0.5]),   # sim 0.5
        (3, [-1.0, 0.0, 0.0, 0.0]),  # sim -1.0
        # 4dp half-boundary: cos = 0.12345 -> HALF_UP gives 0.1235
        # (numpy half-to-even would give 0.1234)
        (4, [0.12345, math.sqrt(1 - 0.12345**2), 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    query = spark.createDataFrame([([1.0, 0.0, 0.0, 0.0],)], "qvec array<float>")

    jvm = [(r.vec_id, r.sim) for r in S.brute_topk(emb, query, 5).collect()]
    arrow = [
        (r.vec_id, r.sim) for r in S.brute_topk_arrow(emb, query, 5).collect()
    ]
    assert jvm == arrow
    assert jvm[-1] == (1, None)  # NULL sim sorts last under desc
    sims = dict(jvm)
    assert sims[4] == 0.1235  # HALF_UP at the boundary


def test_asof_join_null_payload_matches_duckdb_semantics(spark):
    """A matched right row whose PAYLOAD is NULL must be returned as-is
    (DuckDB ASOF semantics): the old per-column last(ignorenulls) carry
    skipped the NULL and paired an OLDER row's value with the newer
    matched_ts -- a franken-row. The struct carry pins the fix."""
    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame([("k", 3, "L")], "k string, ts int, lval string")
    right = spark.createDataFrame(
        [("k", 1, 5), ("k", 2, None)], "k string, ts int, v int"
    )
    row = asof_join(left, right, on="k", ts="ts", right_cols=["v"]).first()
    assert row.matched_ts == 2  # ts=2 row is the as-of match...
    assert row.v is None  # ...and its NULL value comes with it


def test_asof_join_rejects_colliding_right_cols(spark):
    import pytest as _pytest

    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame([("k", 1, 1.0)], "k string, ts int, v double")
    right = spark.createDataFrame([("k", 1, 2.0)], "k string, ts int, v double")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", ts="ts", right_cols=["v"])


def test_c04_arrow_lane_zero_norm_query_parity(spark):
    """A zero-norm QUERY vector must produce NULL sims in BOTH lanes
    (the JVM lane's try_divide does; the Arrow lane previously scored
    everything 0.0 and returned a fake top-k)."""
    from dgraph_etl_spark.functions import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])], "vec_id bigint, embedding array<float>"
    )
    query = spark.createDataFrame([([0.0, 0.0],)], "qvec array<float>")
    jvm = [(r.vec_id, r.sim) for r in S.brute_topk(emb, query, 2).collect()]
    arrow = [
        (r.vec_id, r.sim) for r in S.brute_topk_arrow(emb, query, 2).collect()
    ]
    assert jvm == arrow
    assert all(sim is None for _, sim in jvm)


def test_hash_sample_boundary_rates(spark, sf_small):
    """rate=1.0 must keep EVERY row and rate=0.0 none: the naive hex
    threshold for 1.0 is the 9-char '100000000', which sorts before
    'ffffffff' and silently kept only the '0'-prefixed ~6% of rows."""
    from dgraph_etl_spark.catalog import load_table
    from dgraph_etl_spark.functions.sampling import hash_sample

    docs = load_table(spark, sf_small, "documents")
    n = docs.count()
    assert hash_sample(docs, rate=1.0).count() == n
    assert hash_sample(docs, rate=0.0).count() == 0
    kept = hash_sample(docs, rate=0.5).count()
    assert 0 < kept < n


def test_c01_exact_dedup_null_text_singletons(spark):
    """sha2(NULL) is NULL and groupBy treats NULLs as equal, which
    would merge every NULL-text doc into one "duplicate" cluster whose
    losers a winners-only pipeline silently drops. Each NULL-text doc
    must stay its own singleton; real duplicates still merge."""
    from dgraph_etl_spark.functions.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id bigint, text string",
    )
    rows = exact_dedup(docs).collect()
    null_rows = [r for r in rows if r.content_hash is None]
    assert len(null_rows) == 2, rows
    assert all(r.n_copies == 1 for r in null_rows), rows
    dup = [r for r in rows if r.content_hash is not None]
    assert len(dup) == 1 and dup[0].doc_id == 1 and dup[0].n_copies == 2


def test_c02_simhash_r0_exact_signature_pairs(spark):
    """r=0 (exact-signature pairs) is legal: one 60-bit chunk, the
    whole signature -- it must plan and return exactly the
    equal-signature pairs."""
    from dgraph_etl_spark.functions.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "something else entirely here")],
        "doc_id bigint, text string",
    )
    pairs = simhash_hamming_pairs(docs, r=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_c02_lsh_rejects_nondivisible_bands(spark):
    """num_hashes % num_bands != 0 silently dropped the trailing
    hashes from every band key (paid for, never banded -- recall
    quietly below the requested parameters); it must raise instead.
    So must ``portable=False``: the md5 family is the only one."""
    import pytest

    from dgraph_etl_spark.functions.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="num_bands"):
        lsh_candidate_pairs(docs, num_hashes=32, num_bands=5)
    with pytest.raises(ValueError, match="portable=False"):
        lsh_candidate_pairs(docs, portable=False)


def test_asof_join_null_ts_right_rows_never_match(spark):
    """DuckDB ASOF semantics: r.ts <= l.ts is never true for NULL, so
    a NULL-ts right row must not be carried (Spark's NULLS FIRST
    ascending sort would otherwise place it at the window start and
    hand its payload to every left row of the key)."""
    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame([(1, 100, "L")], "k int, ts int, lv string")
    right = spark.createDataFrame(
        [(1, None, 9.0), (None, 50, 7.0)], "k int, ts int, v double"
    )
    row = asof_join(left, right, on="k", ts="ts", right_cols=["v"]).first()
    assert row.v is None and row.matched_ts is None, row


def test_asof_join_rejects_on_ts_in_right_cols(spark):
    """right_cols naming the join's on/ts columns would silently emit
    duplicate output columns (the guard previously only checked left
    payload, which excludes on/ts)."""
    import pytest

    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame([(1, 100, "L")], "k int, ts int, lv string")
    right = spark.createDataFrame([(1, 50, 7.0)], "k int, ts int, v double")
    with pytest.raises(ValueError, match="on/ts"):
        asof_join(left, right, on="k", ts="ts", right_cols=["v", "ts"])


def test_asof_join_right_order_dedup_equals_max_preagg(spark):
    """right_order (round 12): equal-(key, ts) right duplicates are
    resolved inside the carry-forward window's sort instead of a
    pre-aggregation exchange -- the carried row must be EXACTLY the one
    a GROUP BY k, ts AGG MAX(v) pre-pass would have produced, including
    NULL v losing to any value (MAX ignores NULLs) and an all-NULL
    group carrying NULL."""
    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 10, "c")],
        "k int, ts int, lv string",
    )
    right = spark.createDataFrame(
        [
            # k=1, ts=10: duplicates 3.0 / 9.0 / NULL -> max 9.0
            (1, 10, 3.0),
            (1, 10, 9.0),
            (1, 10, None),
            # k=1, ts=15: single row, later match for the ts=20 left row
            (1, 15, 5.0),
            # k=2, ts=10: ALL-NULL duplicate group -> carried NULL
            (2, 10, None),
            (2, 10, None),
        ],
        "k int, ts int, v double",
    )
    out = {
        (r.k, r.ts): (r.v, r.matched_ts)
        for r in asof_join(
            left, right, on="k", ts="ts", right_cols=["v"],
            right_order=["v"],
        ).collect()
    }
    assert out[(1, 10)] == (9.0, 10)  # max of the equal-ts duplicates
    assert out[(1, 20)] == (5.0, 15)  # later row still wins over dups
    assert out[(2, 10)] == (None, 10)  # all-NULL group: row kept, v NULL


def test_asof_join_right_order_must_be_carried(spark):
    """right_order columns order the carried struct's fields, so a
    column not in right_cols cannot be sorted on -- reject loudly."""
    import pytest

    from dgraph_etl_spark.functions.asof import asof_join

    left = spark.createDataFrame([(1, 100, "L")], "k int, ts int, lv string")
    right = spark.createDataFrame(
        [(1, 50, 7.0, 1.0)], "k int, ts int, v double, w double"
    )
    with pytest.raises(ValueError, match="right_order"):
        asof_join(
            left, right, on="k", ts="ts", right_cols=["v"],
            right_order=["w"],
        )


def test_c06_quality_score_empty_text_is_null_not_error(spark):
    """text='' has n_chars=0; under ANSI mode a plain division would
    abort the whole job -- the empty doc must score NULL
    non_alpha_ratio instead (empty docs are routine in crawl data)."""
    from dgraph_etl_spark.functions.text import quality_score

    docs = spark.createDataFrame(
        [(1, ""), (2, "the cat sat on the mat ok yes")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in quality_score(docs).collect()}
    assert rows[1].non_alpha_ratio is None
    assert rows[2].non_alpha_ratio is not None


def test_c26_sequence_chunks_gap_stride_no_phantom_chunk(spark):
    """stride > seq_len (gap sampling) must not emit a chunk starting
    past the last token (previously: negative n_chunk_tokens, empty
    text)."""
    from dgraph_etl_spark.functions.text import sequence_chunks

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4")], "doc_id bigint, text string"
    )
    rows = sequence_chunks(docs, seq_len=4, stride=10).collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert (r.start_tok, r.end_tok, r.n_chunk_tokens) == (0, 4, 4)
    assert r.chunk_text == "t0 t1 t2 t3"
    # a longer doc still gets its gap-sampled second chunk
    docs2 = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(25)))],
        "doc_id bigint, text string",
    )
    rows2 = sorted(
        sequence_chunks(docs2, seq_len=4, stride=10).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [(r.start_tok, r.n_chunk_tokens) for r in rows2] == [
        (0, 4), (10, 4), (20, 4),
    ]


def test_c19_hash_sample_null_key_respects_rate(spark):
    """A NULL key must bucket deterministically (NUL sentinel), not be
    silently dropped at every rate: rate=1.0 keeps EVERYTHING
    including the null-key row, rate=0.0 keeps nothing."""
    from dgraph_etl_spark.functions.sampling import hash_sample

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "doc_id bigint, text string"
    )
    assert hash_sample(df, rate=1.0).count() == 3
    assert hash_sample(df, rate=0.0).count() == 0


def test_g10_pagerank_empty_graph_fails_loudly(spark):
    """An empty edge table must raise a named ValueError, not a bare
    ZeroDivisionError from 1.0 / n before any Spark job runs."""
    import pytest

    from dgraph_etl_spark.graph.traverse import pagerank, weighted_pagerank

    empty = spark.createDataFrame([], "src string, dst string, score double")
    with pytest.raises(ValueError, match="empty edge table"):
        pagerank(empty)
    with pytest.raises(ValueError, match="empty edge table"):
        weighted_pagerank(empty)


def _overlap_rows(sets):
    """(id, blk, elements) sets -> set_overlap's (id, sz, blk, g) rows,
    the size carried in-row as its callers compute it."""
    return [
        (i, len(set(es)), blk, g) for i, blk, es in sets for g in sorted(set(es))
    ]


def _overlap_ref(a_sets, b_sets, pair):
    out = set()
    for ia, ba, ea in a_sets:
        for ib, bb, eb in b_sets:
            n = len(set(ea) & set(eb))
            if n == 0 or ba is None or bb is None or ba != bb:
                continue
            if pair is None or pair(ia, ib):
                out.add((ia, ib, len(set(ea)), len(set(eb)), n))
    return out


def test_set_overlap_equals_python_set_reference(spark):
    """The shared set-overlap core (c02/c15/c64/g15) against a plain
    Python set computation, for all three pair forms its callers use:
    ``<`` (unordered self-pairs), ``!=`` (ordered self-pairs) and none
    (two-sided). A NULL block key must never pair -- not even with
    another NULL-blocked set holding the same elements -- and an empty
    side gives no rows."""
    import operator

    from pyspark.sql import functions as F

    from dgraph_etl_spark.functions.dedup import jaccard, set_overlap

    schema = "id bigint, sz int, blk string, g string"
    a_sets = [
        (1, "en", ["x", "y", "z"]),
        (2, "en", ["x", "y", "w"]),
        (3, "en", ["q"]),
        (4, "de", ["x", "y", "z"]),
        (5, None, ["x", "y", "z"]),
        (6, None, ["x", "y", "z"]),
        (7, "de", ["x", "v"]),
    ]
    b_sets = [
        (1, "en", ["x", "y", "z"]),
        (9, "en", ["y", "w", "u", "t"]),
        (10, "de", ["v"]),
        (11, None, ["x", "y", "z"]),
        (12, "fr", ["x"]),
    ]
    a = spark.createDataFrame(_overlap_rows(a_sets), schema)
    b = spark.createDataFrame(_overlap_rows(b_sets), schema)
    empty = spark.createDataFrame([], schema)
    cols = ["id_a", "id_b", "sz_a", "sz_b", "n_common"]
    cases = [
        (a, a, a_sets, a_sets, operator.lt),
        (a, a, a_sets, a_sets, operator.ne),
        (a, b, a_sets, b_sets, None),
    ]
    for left, right, ls, rs, pair in cases:
        got = set_overlap(left, right, ["blk", "g"], pair).withColumn(
            "j", jaccard(4)
        )
        assert got.columns == cols + ["j"]
        rows = got.collect()
        want = _overlap_ref(ls, rs, pair)
        assert want, "reference lost its overlapping pairs"
        assert {tuple(r)[:5] for r in rows} == want, pair
        assert len(rows) == len(want), pair
        for r in rows:
            exact = r.n_common / (r.sz_a + r.sz_b - r.n_common)
            assert abs(r.j - exact) <= 5e-5, r
        assert not {(r.id_a, r.id_b) for r in rows} & {
            (5, 6), (6, 5), (5, 11), (6, 11)
        }, "NULL block keys paired"
    for left, right in ((a, empty), (empty, b), (empty, empty)):
        assert set_overlap(left, right, ["blk", "g"]).count() == 0
    # one-key form (c64, g15): no block, so the NULL-blocked sets pair
    n = set_overlap(a, a, ["g"], operator.lt).filter(
        (F.col("id_a") == 5) & (F.col("id_b") == 6)
    )
    assert [tuple(r) for r in n.collect()] == [(5, 6, 3, 3, 3)]


def test_c02_null_text_singletons_across_shingle_lanes(spark, monkeypatch):
    """The NULL-text singleton contract holds in the SHINGLE lanes too:
    token_ngrams must not fabricate the [""] shingle (concat_ws over a
    NULL slice) and rolled_ngram_hashes must not fabricate the constant
    [0] shingle -- either one pairs every NULL-text doc with its
    NULL-text peers (LSH: the full quadratic clique). NULL-text docs
    must emit NO candidate pairs from either lane, nor from c64's
    containment pairs (its DuckDB oracle gives them no shingles)."""
    from dgraph_etl_spark.functions.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
        rolled_ngram_hashes,
        token_hashes,
        token_ngrams,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, None, "en"), (2, None, "en"), (3, "a b c d", "en"),
         (4, "a b c d", "en")],
        "doc_id bigint, text string, lang string",
    )
    g = docs.select(token_ngrams("text").alias("g")).collect()
    assert g[0].g is None and g[1].g is None, g
    rh = (
        docs.withColumn("th", token_hashes("text"))
        .select(rolled_ngram_hashes(F.col("th")).alias("r"))
        .collect()
    )
    assert rh[0].r is None and rh[1].r is None, rh

    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in jac} == {(3, 4)}, jac
    lsh = lsh_candidate_pairs(docs).collect()
    assert all({r.doc_a, r.doc_b} == {3, 4} for r in lsh), lsh

    from dgraph_etl_spark.registry import REGISTRY
    from dgraph_etl_spark.suites import llm_extensions

    monkeypatch.setattr(llm_extensions, "_docs", lambda spark, sf_dir: docs)
    c64 = REGISTRY["c64_containment_pairs"].fn(spark, None).collect()
    assert {(r.doc_a, r.doc_b) for r in c64} == {(3, 4), (4, 3)}, c64


def _reference_ngrams(text, n):
    """token_ngrams in plain Python: the distinct space-joined n-token
    windows in first-seen order; a text shorter than n tokens gives
    itself as its one gram, NULL gives NULL."""
    if text is None:
        return None
    t = text.split(" ")
    grams = [" ".join(t[i : i + n]) for i in range(max(len(t) - n + 1, 1))]
    return list(dict.fromkeys(grams))


def test_token_ngrams_equal_python_reference(spark):
    """token_ngrams equals a pure-Python reference on the edge texts
    (NULL, empty, a lone space, one token, an empty token between
    double spaces, repeated grams, non-ASCII), n = 1..4, and its
    transform lambda holds no split(): a lambda that re-splits the text
    at every position makes the grams O(tokens^2) per doc."""
    from dgraph_etl_spark.functions.dedup import token_ngrams

    lam = str(token_ngrams(n=2)).split("->", 1)[1]
    assert "split(" not in lam, lam

    texts = [None, "", " ", "a", "a  b c", "x y x y x y", "a b c d e f",
             "héllo wörld 日本 語 héllo wörld"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    for n in range(1, 5):
        got = dict(docs.select("doc_id", token_ngrams(n=n)).collect())
        want = {i: _reference_ngrams(t, n) for i, t in enumerate(texts)}
        assert got == want, n


def test_c06_language_id_null_text_is_und(spark):
    """All stopword-hit counts are NULL for NULL text, so every when()
    equality evaluates NULL and control fell through to the otherwise
    -- confidently labeling an unknown document 'de'. NULL text must
    be 'und'."""
    from dgraph_etl_spark.functions.text import language_id

    docs = spark.createDataFrame(
        [(1, None), (2, "the and of with that this")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.lang_guess for r in language_id(docs).collect()}
    assert got == {1: "und", 2: "en"}, got


def test_c52_int8_topk_zero_norm_vector_sorts_last(spark):
    """A vector whose every component quantizes to 0 has zero int norm:
    the quantized cosine must be NULL (try_divide; sorts last under
    desc), never a DIVIDE_BY_ZERO abort under ANSI or a NaN that
    displaces a real neighbor at rank 1."""
    from dgraph_etl_spark.functions.similarity import int8_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1e-9, 1e-9])],
        "vec_id bigint, embedding array<double>",
    )
    query = spark.createDataFrame([([1.0, 0.0],)], "qvec array<double>")
    got = int8_topk(emb, query, k=2)
    ids = [r.vec_id for r in got.collect()]
    assert 2 not in ids, ids  # degenerate row never wins the top-k


@pytest.mark.parametrize(
    "lane",
    ["srp_neardup_pairs", "srp_bands_fixedpoint", "pq_topk", "ivfpq_topk"],
)
def test_rejects_nondivisible_split(spark, lane):
    """Every lane that splits a vector or signature into equal parts
    must refuse a split that does not divide it, the way
    lsh_candidate_pairs and build_ivfpq_index do: SRP's trailing
    signature bits would be computed but never banded, and PQ's
    trailing components silently dropped, lowering recall."""
    from dgraph_etl_spark.functions import similarity as S

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.5, 0.25])], "vec_id bigint, embedding array<double>"
    )
    query = spark.createDataFrame([([1.0, 0.0, 0.5, 0.25],)], "qvec array<double>")
    call = {
        "srp_neardup_pairs": lambda: S.srp_neardup_pairs(
            emb, n_planes=16, n_bands=3
        ),
        "srp_bands_fixedpoint": lambda: S.srp_bands_fixedpoint(
            emb, n_planes=32, n_bands=5
        ),
        "pq_topk": lambda: S.pq_topk(emb, query, m_sub=3),
        "ivfpq_topk": lambda: S.ivfpq_topk(emb, query, m_sub=3),
    }[lane]
    with pytest.raises(ValueError, match="not divisible"):
        call()


def _lloyd_ref(points, cents):
    """One integer Lloyd round in plain Python over ``points`` {id: vec}
    and ``cents`` {code: vec}: nearest code by exact squared distance
    (ties to the smaller code), round-half-up means floor((2s+n)/(2n))
    (Python's // floors), and a code with no members keeps its
    centroid. Returns (assignment, new codebook)."""

    def dist(v, c):
        return sum((a - b) ** 2 for a, b in zip(v, cents[c]))

    assign = {i: min(cents, key=lambda c: (dist(v, c), c)) for i, v in points.items()}
    new = dict(cents)
    for c in cents:
        members = [points[i] for i in points if assign[i] == c]
        n = len(members)
        if n:
            new[c] = [(2 * sum(col) + n) // (2 * n) for col in zip(*members)]
    return assign, new


def test_lloyd_core_equals_integer_reference(spark):
    """The shared ANN core (_nearest + _lloyd_step) against a plain
    Python integer Lloyd loop, for both codebook layouts its callers
    use: a flat ``cell``-style codebook (IVF cells, s17) and a PQ-style
    codebook keyed ``(m, code)`` joined on ``m``. The points put one
    vector equidistant from two codes, give negative-sum means with a
    fractional part, leave one code empty, and place a subspace-0
    vector next to a subspace-1 code, so a mixed-up subspace join
    would reassign it."""
    from dgraph_etl_spark.functions.similarity import _lloyd_step, _nearest

    flat_pts = {
        1: [5, 0],  # equidistant from codes 1 and 3
        2: [-3, -4],
        3: [-4, -1],
        4: [9, 1],
        5: [12, -1],
        6: [-21, -20],
        7: [-20, -21],
    }
    flat_cb = {3: [10, 0], 1: [0, 0], 5: [-20, -20], 7: [100, 100]}
    assign, new = _lloyd_ref(flat_pts, flat_cb)
    assert assign[1] == 1
    assert new[1] == [-1, -2]  # sums (-2, -5) over 3: -0.67, -1.67
    assert new[3] == [11, 0]  # 10.5 rounds up
    assert new[5] == [-20, -20]  # -20.5 rounds up
    assert new[7] == [100, 100]  # no members
    pq_pts = {
        0: {1: [1, 1], 2: [-1, 0], 3: [60, 40], 4: [-40, -61]},
        1: {1: [0, 0], 2: [2, 3], 3: [990, 1001], 4: [1, -1]},
    }
    pq_cb = {0: {0: [50, 50], 1: [-50, -50]}, 1: {0: [0, 1], 1: [1000, 1000]}}
    assert _lloyd_ref(pq_pts[0], pq_cb[0])[0][2] == 1  # m=1's code 0 is nearer

    layouts = [({None: flat_pts}, {None: flat_cb}, []), (pq_pts, pq_cb, ["m"])]
    for pts, cb, on in layouts:
        m_col = ["m int"] if on else []
        key = (lambda m: [m]) if on else (lambda m: [])
        rel = spark.createDataFrame(
            [(i, *key(m), v) for m, ps in pts.items() for i, v in ps.items()],
            ", ".join(["vec_id bigint", *m_col, "qv array<bigint>"]),
        )
        cents = spark.createDataFrame(
            [(*key(m), c, v) for m, cs in cb.items() for c, v in cs.items()],
            ", ".join([*m_col, "code bigint", "cv array<bigint>"]),
        )
        for _ in range(2):
            want = {m: _lloyd_ref(pts[m], cb[m]) for m in pts}
            got = _nearest(rel, cents, ["vec_id"], "qv", "code", on).collect()
            assert {(r["m"] if on else None, r.vec_id): r.code for r in got} == {
                (m, i): c for m, (a, _) in want.items() for i, c in a.items()
            }, on
            cents = _lloyd_step(rel, cents, ["vec_id"], "qv", "code", on)
            assert {
                (r["m"] if on else None, r.code): list(r.cv) for r in cents.collect()
            } == {(m, c): v for m, (_, n) in want.items() for c, v in n.items()}, on
            cb = {m: n for m, (_, n) in want.items()}


# The one home of each ANN step (functions/similarity.py): a code
# pattern -> the only function allowed to contain it. String literals
# (the DuckDB oracle SQL) and comments are not code; a helper's own def
# line does not count. c53's min(struct("dist", "a_id", ...)) is a
# different reduction and is not scanned for.
ANN_STEP_HOMES = {
    "F.round(x * ": "fixed_point",
    "F.floor((2.0 * ": "_int_mean",
    "_int_mean(": "int_centroids",
    "_sq_dist(": "_nearest",
    ".limit(nprobe)": "_top_cells",
    "argsort(-sims)": "_top_cells_np",
    "- 2.0 * (": "_nearest_np",
    "254.0 *": "_int8_grid",
}


# The one home of the frontier hop (graph/traverse.py). These patterns
# sit inside string literals, so they are matched on lines with only
# the comments blanked. No home means nowhere: a join on an
# alias-qualified edge source (F.col("e1.src")) is a hand-made hop. The
# NULL-dst filter lives in out_pairs, plus relaxation_rounds' edge
# input (its score-carrying rounds do not go through out_pairs).
FRONTIER_HOP_HOMES = {
    '.src")': (),
    '.filter(F.col("dst").isNotNull())': ("out_pairs", "relaxation_rounds"),
}


# The one home of the 60-bit md5 integer hash, the first 15 hex digits
# of md5 (functions/dedup.py), matched with string literals blanked:
# the DuckDB oracles' own md5 SQL is the independent reference and stays
# verbatim.
MD5_INT60_HOMES = {", 1, 15": ("md5_int60",)}


# The one home of the iterative loops' materialization policy
# (session.RoundLane): a loop that pins its own edges or state carries
# its own copy of the lane decision, and the copies drift (hits kept
# an older ceiling and never re-pinned its state).
LANE_HOMES = {
    "pinned_partition_cache(": ("static", "start"),
    "pinned_state_cache(": ("step",),
}


def _code_lines(src, keep_strings=False):
    """``src``'s lines with comments (and string literals unless
    ``keep_strings``) blanked."""
    import io
    import tokenize

    blank = {tokenize.COMMENT} | (set() if keep_strings else {tokenize.STRING})
    rows = [list(line) for line in src.splitlines()]
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in blank:
            (r0, c0), (r1, c1) = tok.start, tok.end
            for r in range(r0, r1 + 1):
                row = rows[r - 1]
                lo, hi = (c0 if r == r0 else 0), (c1 if r == r1 else len(row))
                row[lo:hi] = " " * (hi - lo)
    return ["".join(row) for row in rows]


def test_ann_steps_live_in_one_helper():
    """Each integer-exact ANN step has one copy, its helper in
    functions/similarity.py, the frontier hop has one, in
    graph/traverse.out_pairs, the 60-bit md5 integer hash has one,
    dedup.md5_int60, and the iterative loops' pinning has one,
    session.RoundLane: a second inline copy (the s17 and c59 suite
    queries, the DQL uid steps, g21, b72, s16, pagerank, hash-to-min
    and hits used to carry their own) is how the lanes drift."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "dgraph_etl_spark"
    homes = [
        (ANN_STEP_HOMES, False, {p: (h,) for p, h in ANN_STEP_HOMES.items()}),
        (FRONTIER_HOP_HOMES, True, FRONTIER_HOP_HOMES),
        (MD5_INT60_HOMES, False, MD5_INT60_HOMES),
        (LANE_HOMES, False, LANE_HOMES),
    ]
    offenders, homed = [], set()
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for _, keep_strings, where in homes:
            for no, line in enumerate(_code_lines(src, keep_strings), 1):
                if line.lstrip().startswith("def "):
                    continue
                inner = [s for s in spans if s[0] <= no <= s[1]]
                owner = min(inner, key=lambda s: s[1] - s[0])[2] if inner else None
                for pat, home in where.items():
                    if pat not in line:
                        continue
                    if owner in home:
                        homed.add((pat, owner))
                    else:
                        rel = path.relative_to(pkg).as_posix()
                        offenders.append(f"{rel}:{no} {pat!r} outside {home}")
    assert offenders == [], offenders
    want = {(p, h) for _, _, where in homes for p, hs in where.items() for h in hs}
    assert homed == want, want - homed


def test_g04_hop_counts_rejects_k0(spark):
    """k=0 previously crashed with AttributeError on None.select --
    fail loudly with a named error instead."""
    import pytest as _pytest

    from dgraph_etl_spark.graph.traverse import hop_counts

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    with _pytest.raises(ValueError, match="hop_counts"):
        hop_counts(edges, seeds, k=0)


def test_khop_null_dst_never_enters_frontier(spark):
    """NULL dst must not become a phantom frontier node: the oracle's
    NOT IN exclusion drops NULLs, and a left_anti on id would keep a
    NULL id in EVERY hop (it never matches the visited set)."""
    from dgraph_etl_spark.graph.traverse import k_hop

    edges = spark.createDataFrame(
        [(1, 2), (2, None), (2, 3)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    hop1, hop2 = k_hop(edges, seeds, k=2)
    assert [r.id for r in hop1.collect()] == [2]
    assert [r.id for r in hop2.collect()] == [3], (
        "hop2 must be {3}, with no NULL phantom"
    )


@pytest.mark.parametrize("walk", ["widest", "cheapest"])
def test_relaxation_null_dst_never_reached(spark, walk):
    """The k_hop NULL-dst rule holds for both relaxation_rounds
    semirings (g24's max/least, g27's min/+): their final left_anti
    against the seeds would keep a NULL vertex the same way."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.graph.traverse import relaxation_rounds

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, None, 1.0), (2, 3, 1.0)],
        "src bigint, dst bigint, score double",
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    agg_fn, combine = {
        "widest": (F.max, F.least),
        "cheapest": (F.min, lambda v, s: v + s),
    }[walk]
    best = relaxation_rounds(seeds, edges, agg_fn, combine)
    assert sorted(r.nid for r in best.collect()) == [2, 3], (
        "reached set must be {2, 3}, with no NULL phantom"
    )


def test_mixture_epochs_output_can_be_remixed(spark):
    """mixture_epochs' own output re-mixed must REPLACE the epoch
    column, not die on AMBIGUOUS_REFERENCE from a duplicate alias."""
    from dgraph_etl_spark.functions.sampling import mixture_epochs

    docs = spark.createDataFrame(
        [(i, "s") for i in range(20)], "doc_id bigint, source string"
    )
    once = mixture_epochs(docs, strata_col="source", weights={"s": 2.0})
    twice = mixture_epochs(once, strata_col="source", weights={"s": 1.0})
    assert twice.columns.count("epoch") == 1
    assert twice.count() == docs.count() * 2, (
        "re-mix at weight 1.0 keeps one copy per input row"
    )


def test_hits_empty_graph_fails_loudly(spark):
    """hits follows the ranking family's convention (pagerank /
    weighted_pagerank): empty input raises a named error instead of
    silently returning zero hubs."""
    import pytest

    from dgraph_etl_spark.graph.traverse import hits

    empty = spark.createDataFrame([], "src string, dst string, score double")
    with pytest.raises(ValueError, match="empty edge table"):
        hits(empty)


def test_relaxation_rounds_semirings_closed_form(spark):
    """relaxation_rounds (the shared g24/g27 loop) on a hand-checkable
    path graph: widest (max-min) and cheapest (min-plus) path values
    within 3 hops, including a better-2-hop-than-1-hop alternative."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.graph.traverse import relaxation_rounds

    # s -> a (10) -> b (5); s -> b (2); s -> c via nothing
    edges = spark.createDataFrame(
        [("s", "a", 10.0), ("a", "b", 5.0), ("s", "b", 2.0)],
        ["src", "dst", "score"],
    )
    seeds = spark.createDataFrame([("s",)], ["id"])
    widest = {
        r.nid: r.val
        for r in relaxation_rounds(seeds, edges, F.max, F.least, 3).collect()
    }
    # b via a: min(10,5)=5 beats direct 2
    assert widest == {"a": 10.0, "b": 5.0}
    cheapest = {
        r.nid: r.val
        for r in relaxation_rounds(
            seeds, edges, F.min, lambda v, s: v + s, 3
        ).collect()
    }
    # b direct: 2 beats via a (15)
    assert cheapest == {"a": 10.0, "b": 2.0}

    import pytest

    with pytest.raises(ValueError, match="rounds must be >= 1"):
        relaxation_rounds(seeds, edges, F.max, F.least, 0)


def test_null_text_contract_fingerprint_winnow_chunk_split(spark):
    """The family-wide NULL-text/NULL-key contract across the round-10
    sweep: NULL text yields a NULL fingerprint (never md5('') shared
    with empty docs), zero winnowing fingerprints, zero sequence
    chunks; a NULL split key buckets via the chr(0) sentinel instead
    of falling through to 'train' with a NULL bucket."""
    from pyspark.sql import functions as F

    from dgraph_etl_spark.functions.text import (
        fingerprint,
        hash_split,
        sequence_chunks,
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, None), (3, "")],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert fp[2] is None, "NULL text must yield a NULL fingerprint"
    assert fp[3] is not None and fp[2] != fp[3]

    win = winnowing_fingerprints(docs).groupBy("doc_id").count().collect()
    by_id = {r.doc_id: r["count"] for r in win}
    assert 2 not in by_id, "NULL text fabricated a winnowing fingerprint"
    assert by_id.get(1, 0) >= 1

    chunks = sequence_chunks(docs, seq_len=4, stride=3).collect()
    assert all(r.doc_id != 2 for r in chunks), "phantom chunk for NULL text"
    assert any(r.doc_id == 1 for r in chunks)

    nulled = spark.createDataFrame(
        [(None, "x"), (7, "y")], ["doc_id", "text"]
    )
    split = {r.asDict()["doc_id"]: r for r in hash_split(nulled).collect()}
    null_row = split[None]
    assert null_row.bucket is not None, "NULL key must bucket via sentinel"
    # the sentinel bucket is md5('\x00')[:2] on every engine
    import hashlib

    assert null_row.bucket == hashlib.md5(b"\x00").hexdigest()[:2]


def test_pinned_state_lane_matches_small_lane(spark, monkeypatch):
    """Every loop on session.RoundLane (pagerank, personalized and
    weighted PageRank, HITS, hash-to-min WCC): forcing the
    >= PER_ROUND_BCAST_CEILING_ROWS lane at toy scale must actually
    pin (each operator registers pinned caches), reproduce the small
    lane's results exactly, leave the session adaptive, and leak no
    DataFrame cache (the lane must unpersist every cache it made)."""
    import dgraph_etl_spark.session as S
    from dgraph_etl_spark.graph.traverse import (
        hits,
        pagerank,
        personalized_pagerank,
        weakly_connected_components,
        weighted_pagerank,
    )

    # cache-leak probe: only assert emptiness afterwards if OTHER
    # tests' session-scoped caches aren't already present (suite
    # order independence)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_mgr.isEmpty()

    # two cycles + a dangling tail + an isolated pair whose one edge
    # scores 0 (dangling for weighted_pagerank): exercises dangling
    # mass, multiple components, and convergence
    edge_rows = (
        [(str(i), str((i + 1) % 6), 1.0 + i % 3) for i in range(6)]
        + [(str(10 + i), str(10 + (i + 1) % 4), 1.0) for i in range(4)]
        + [("5", "20", 2.0), ("21", "22", 0.0)]
    )
    edges = spark.createDataFrame(edge_rows, ["src", "dst", "score"])
    seeds = spark.createDataFrame([("0",), ("12",)], ["id"])

    ops = {
        "pagerank": lambda: pagerank(edges, n_iter=6),
        "personalized_pagerank": lambda: personalized_pagerank(
            edges, seeds, n_iter=6
        ),
        "weighted_pagerank": lambda: weighted_pagerank(edges, n_iter=6),
        "hits": lambda: hits(edges, n_iter=4),
        "wcc": lambda: weakly_connected_components(edges),
    }

    def run(op):
        return {r[0]: tuple(r[1:]) for r in ops[op]().collect()}

    small = {op: run(op) for op in ops}

    pins = []
    real_pin = S.pinned_partition_cache

    def counting_pin(df, *keys):
        pins.append(keys)
        return real_pin(df, *keys)

    monkeypatch.setattr(S, "pinned_partition_cache", counting_pin)
    monkeypatch.setattr(S, "PER_ROUND_BCAST_CEILING_ROWS", 1)
    for op in ops:
        before = len(pins)
        big = run(op)
        assert len(pins) > before, f"{op} did not take the pinned lane"
        assert set(big) == set(small[op]), op
        if op == "wcc":
            assert big == small[op]
            continue
        # scores are rounded to 6 dp inside the operators; the lanes
        # regroup the same per-node sums, so values agree to an ulp
        # before rounding
        off = [
            (k, big[k], small[op][k])
            for k in big
            if any(abs(b - a) >= 1e-9 for b, a in zip(big[k], small[op][k]))
        ]
        assert off == [], (op, off[:5])

    # session left adaptive, and the lane dropped every DataFrame
    # cache (localCheckpoint blocks are not caches)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    if was_empty:
        assert cache_mgr.isEmpty()
