"""Tier C suite: LLM-data-pipeline extensions (SURVEY.md §2 Tier C +
north star: dedup, similarity search, text analysis, multimodal).

Implementations live in functions/ (similarity.py, text.py, dedup.py,
multimodal.py); this module binds them to fixture tables and DuckDB
oracles. MinHash-LSH / SimHash / IVF are rows-only checks (their
hash/centroid internals are engine-specific); everything else is
hash-matched.
"""

from __future__ import annotations

import operator

from pyspark.sql import functions as F

from ..catalog import register_views
from ..functions import dedup as D
from ..functions import multimodal as M
from ..functions import sampling as SP
from ..functions import similarity as S
from ..functions import text as X
from ..registry import REGISTRY, register
from ..views import oracle_with_views as V


def _docs(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.table("documents")


def _emb(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.table("embeddings")


def _query_vec(spark, sf_dir):
    """The fixed query vector: embedding of vec_id 0 (read from the
    corpus itself so the Spark query and SQL oracle agree verbatim)."""
    return _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )


# ------------------------------------------------------------- dedup


@register(
    "c01_exact_dedup",
    """
    SELECT content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM (SELECT sha256(text) AS content_hash, doc_id FROM documents) h
    GROUP BY content_hash,
             CASE WHEN content_hash IS NULL THEN doc_id END
    """,
)
def c01_exact_dedup(spark, sf_dir):
    """C1: exact dedup via content hash; min-id winner, hash agg only
    (no window sort -- at 100 TB the digest groupBy is one shuffle)."""
    return D.exact_dedup(_docs(spark, sf_dir))


@register(
    "c01_prefix_dedup",
    """
    SELECT prefix_key, MIN(doc_id) AS doc_id, COUNT(*) AS n_docs
    FROM (
      SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS prefix_key,
             doc_id
      FROM documents
    ) p GROUP BY prefix_key,
                 CASE WHEN prefix_key IS NULL THEN doc_id END
    """,
)
def c01_prefix_dedup(spark, sf_dir):
    """C1 variant with real key collisions on the fixture (first-3-token
    prefix key)."""
    return D.prefix_key_dedup(_docs(spark, sf_dir), n_tokens=3)


def _minhash_lsh_oracle(num_hashes: int = 32, num_bands: int = 8) -> str:
    """DuckDB replay of the MinHash+LSH pipeline: md5-derived token
    hashes mod P, rolled 3-gram shingle hashes, the SAME (a_i,b_i)
    affine mixes (interpolated as literals from minhash_mix_constants),
    min-folded signatures, ':'-joined band keys, bucket-local self-join.
    Bit-identical to lsh_candidate_pairs."""
    P = 2_147_483_647
    mixes = D.minhash_mix_constants(num_hashes)
    mins = ",\n             ".join(
        f"MIN(({a} * hb + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(mixes)
    )
    per_band = num_hashes // num_bands
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, ".format(b=b)
        + " || ':' || ".join(
            f"CAST(h{b * per_band + j} AS VARCHAR)" for j in range(per_band)
        )
        + " AS band_key FROM sigs"
        for b in range(num_bands)
    )
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform(
               string_split(text, ' '),
               t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {P}
             ) AS th
      FROM documents
    ),
    pos AS (
      SELECT doc_id, th,
             unnest(range(1, greatest(len(th) - 2, 1) + 1)) AS i
      FROM th
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             (((coalesce(th[i], 0) * 1000003 + coalesce(th[i+1], 0)) % {P})
               * 1000003 + coalesce(th[i+2], 0)) % {P} AS hb
      FROM pos
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """


@register("c02_minhash_lsh_pairs", _minhash_lsh_oracle())
def c02_minhash_lsh_pairs(spark, sf_dir):
    """C2: MinHash(32) + LSH(8 bands) candidate duplicate pairs. The
    quadratic step is bucket-local by construction (band-key equi-join).
    The md5-derived hash family lets the oracle replay shingle hashes,
    affine mixes, signatures and band keys value-for-value in SQL."""
    return D.lsh_candidate_pairs(_docs(spark, sf_dir))


_SIMHASH_SIG_SQL = """
    WITH toks AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) u
    ),
    bitpos AS (SELECT unnest(generate_series(0, 59)) AS i),
    votes AS (
      SELECT t.doc_id, b.i,
             SUM(CASE WHEN (t.h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM toks t, bitpos b
      GROUP BY t.doc_id, b.i
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0
                           THEN (CAST(1 AS BIGINT) << i)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@register(
    "c02_simhash_buckets",
    _SIMHASH_SIG_SQL
    + """
    SELECT simhash,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
           COUNT(*) AS n_docs
    FROM sigs GROUP BY simhash
    """,
)
def c02_simhash_buckets(spark, sf_dir):
    """SimHash signature buckets (md5-derived 60-bit token hashes + 60
    codegen'd bit-vote sums; no Python). The md5 hash family makes the
    signature bit-identical in DuckDB, so this carries a hash-exact
    oracle. doc_ids is a sorted comma-joined string."""
    return D.simhash_buckets(_docs(spark, sf_dir))


@register(
    "c02_simhash_hamming_pairs",
    _SIMHASH_SIG_SQL
    + """
    , chunks AS (
      SELECT s.doc_id, s.simhash, c.c AS chunk,
             (s.simhash >> (c.c * 15)) & 32767 AS chunk_val
      FROM sigs s, (SELECT unnest(generate_series(0, 3)) AS c) c
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS ha, b.simhash AS hb
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def c02_simhash_hamming_pairs(spark, sf_dir):
    """SimHash Hamming<=3 near-dup pairs: pigeonhole banding (4 15-bit
    chunks of the md5-derived 60-bit signature -> bucket-local join) +
    exact bit_count(xor) filter, so the output is exactly the
    Hamming<=3 pair set -- now hash-exact against the oracle (the
    md5-derived hash family replays in SQL); exactness vs brute-force
    Hamming is additionally property-tested
    (tests/test_properties.py)."""
    return D.simhash_hamming_pairs(_docs(spark, sf_dir), r=3)


# the 2-gram lang-blocked Jaccard candidate CTEs, ONE definition
# mirroring D.ngram_jaccard_pairs(n=2, block=lang): previously
# copy-pasted into four oracles, where a threshold/blocking fix
# applied to one copy would leave the others certifying a different
# pipeline than the shared implementation
_JACCARD_CAND_CTES = """toks AS (
      SELECT doc_id, lang AS blk, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, blk,
             list_distinct([array_to_string(t[i:i+1], ' ')
                            for i in range(1, greatest(len(t) - 1, 1) + 1)]) AS gs
      FROM toks
    ),
    exploded AS (SELECT doc_id, blk, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.blk = b.blk AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""

# ...extended to connected components (threshold 0.5 pairs ->
# undirected edges -> transitive reach); consumers add their own
# `comp` projection on top
_NEARDUP_COMPONENT_CTES = (
    _JACCARD_CAND_CTES
    + """,
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(n_common / (sa.sz + sb.sz - n_common), 4) >= 0.5
    ),
    uedges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM uedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN uedges e ON r.v = e.u
    )"""
)


@register(
    "c02_ngram_jaccard",
    f"""
    WITH {_JACCARD_CAND_CTES}
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (sa.sz + sb.sz - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_common / (sa.sz + sb.sz - n_common), 4) >= 0.05
    """,
)
def c02_ngram_jaccard(spark, sf_dir):
    """C2 exact form: 2-gram Jaccard over language-blocked pairs,
    fully SQL-oracled (set sizes / intersections are exact ints)."""
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=2, block_col="lang", threshold=0.05
    )


@register(
    "c02_neardup_components",
    f"""
    WITH RECURSIVE {_NEARDUP_COMPONENT_CTES}
    SELECT d.doc_id,
           COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) AS component
    FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
    GROUP BY d.doc_id
    """,
)
def c02_neardup_components(spark, sf_dir):
    """C2 clustering: connected components over the exact 2-gram-Jaccard
    near-dup graph (threshold 0.5, language-blocked) via iterative
    hash-to-min label propagation -- the canonical-doc-per-cluster step
    of a dedup pipeline. Oracle = DuckDB recursive-CTE transitive
    closure (exact same component = min reachable doc_id)."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, n=2, block_col="lang", threshold=0.5)
    return D.neardup_components(docs, pairs)


@register(
    "c02_embedding_neardup",
    """
    WITH de AS (
      SELECT d.doc_id, d.lang, e.label, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
               AS sim
    FROM de a JOIN de b ON a.label = b.label AND a.doc_id < b.doc_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
          >= 0.3
    """,
)
def c02_embedding_neardup(spark, sf_dir):
    """C2 (semantic form): embedding-cosine near-duplicate DOCUMENT
    pairs — documents joined to their embedding vectors (doc_id =
    vec_id), then the blocked cosine self-join at τ=0.3. At scale the
    block key comes from LSH over the vectors instead of the label
    column; the join/threshold shape is identical."""
    from ..functions.similarity import blocked_similarity_join

    docs = _docs(spark, sf_dir).select("doc_id")
    emb = _emb(spark, sf_dir)
    de = docs.join(
        emb, docs["doc_id"] == emb["vec_id"], "inner"
    ).select("doc_id", "label", "embedding")
    pairs = blocked_similarity_join(
        de.withColumnRenamed("doc_id", "vec_id"), threshold=0.3
    )
    return pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "sim"
    )


# -------------------------------------------------------- similarity


@register(
    "c03_cosine_to_query",
    """
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 4)
               AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    """,
)
def c03_cosine_to_query(spark, sf_dir):
    """C3: pairwise cosine vs a query vector -- pure Catalyst
    expressions (zip_with/aggregate), no UDF; verified to 1 ulp of
    DuckDB's list_cosine_similarity."""
    emb, qv = _emb(spark, sf_dir), _query_vec(spark, sf_dir)
    return S.with_query_similarity(emb, qv).select(
        "vec_id", F.round("sim", 4).alias("sim")
    )


@register(
    "c04_topk_cosine",
    """
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 4)
               AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
)
def c04_topk_cosine(spark, sf_dir):
    """C4: exact top-k similarity search (TakeOrderedAndProject -- O(k)
    state per partition, no global sort)."""
    return S.brute_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


_IVF_ORACLE_SQL = """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    dims AS (SELECT unnest(generate_series(1,
      (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d),
    comps AS (
      SELECT label, dims.d,
             CAST(ROUND(CAST(embedding AS DOUBLE[])[dims.d] * 1000000, 0)
                  AS BIGINT) AS qvi
      FROM embeddings, dims
    ),
    cent AS (
      SELECT label, d,
             CAST(SUM(qvi) AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
      FROM comps GROUP BY label, d
    ),
    centv AS (
      SELECT label, list(m ORDER BY d) AS centroid FROM cent GROUP BY label
    ),
    probed AS (
      SELECT label
      FROM centv, q
      ORDER BY ROUND(list_cosine_similarity(centroid, q.qv), 4) DESC, label
      LIMIT 3
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
             AS sim
    FROM embeddings e JOIN probed p ON e.label = p.label, q
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
"""


@register("c04_ivf_topk", _IVF_ORACLE_SQL)
def c04_ivf_topk(spark, sf_dir):
    """C4 scale path: IVF -- probe the 3 nearest label-cells, re-rank
    inside. Hash-exact against the oracle: the centroid means are
    fixed-point integer sums (order-insensitive) and the probe ranking
    rounds to 4dp with a label tiebreak, so the probe set and the
    re-ranked top-k replay deterministically in SQL (this was
    rows-only while the centroids were float avg()s); recall vs brute
    force additionally asserted in tests."""
    return S.ivf_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10, nprobe=3)


@register("c04_ivf_persisted", _IVF_ORACLE_SQL)
def c04_ivf_persisted(spark, sf_dir):
    """C4 index lifecycle: build the partitioned-by-cell index table
    once, probe many -- unprobed cells are pruned at the file listing
    (PartitionFilters, pinned in tests/test_plan_shapes.py). Same
    deterministic probe as c04_ivf_topk, so it shares the same
    hash-exact oracle; result equivalence with the in-memory IVF is
    pinned in tests."""
    from ..staging import stage

    emb = _emb(spark, sf_dir)
    path = stage(
        "ivf", sf_dir, ("embeddings",), lambda p: S.write_ivf_index(emb, p)
    )
    return S.ivf_persisted_topk(
        spark, emb, _query_vec(spark, sf_dir), k=10, path=path
    )


@register(
    "c05_similarity_self_join",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS blk,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
               AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
          >= 0.25
    """,
)
def c05_similarity_self_join(spark, sf_dir):
    """C5: all-pairs similarity >= τ, blocked on label so the cross
    product is per-block (LSH buckets at scale)."""
    return S.blocked_similarity_join(_emb(spark, sf_dir), threshold=0.25)


@register(
    "c09_vector_norms",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dims,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4)
               AS l2_norm
    FROM embeddings
    """,
)
def c09_vector_norms(spark, sf_dir):
    """C9: array<float> embeddings as first-class columns -- dims +
    L2 norm through plain expressions."""
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dims"),
        F.round(S.l2_norm(S.as_double_array("embedding")), 4).alias("l2_norm"),
    )


# ------------------------------------------------------ text analysis


@register(
    "c06_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def c06_token_stats(spark, sf_dir):
    """C6: tokenize + per-doc stats (split/size -- codegen'd)."""
    return X.token_stats(_docs(spark, sf_dir))


@register(
    "c07_term_stats",
    """
    SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf_total
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ) t GROUP BY token
    """,
)
def c07_term_stats(spark, sf_dir):
    """C7: corpus term statistics (document frequency + total tf);
    tf-idf weights derive from these exact integers."""
    return X.term_stats(_docs(spark, sf_dir))


@register(
    "c08_facet_stats",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents GROUP BY lang, source
    """,
)
def c08_facet_stats(spark, sf_dir):
    """C8: language/source facet statistics (exact integer sums)."""
    return X.facet_stats(_docs(spark, sf_dir))


@register(
    "c06_language_id",
    """
    WITH hits AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t)))
            AS hits_en,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['el','la','de','y','en','es','un','una','por','que'], t)))
            AS hits_es,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','auf'], t)))
            AS hits_de
      FROM documents
    )
    SELECT doc_id, hits_en, hits_es, hits_de,
           -- the IS NULL arm mirrors language_id's 'und'-for-NULL-text
           -- contract: without it every comparison is NULL and the
           -- CASE silently falls through to ELSE 'de' (the when()-
           -- fallthrough shape the Spark side was explicitly fixed for)
           CASE WHEN hits_en IS NULL THEN 'und'
                WHEN greatest(hits_en, hits_es, hits_de) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_es, hits_de) THEN 'en'
                WHEN hits_es = greatest(hits_en, hits_es, hits_de) THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM hits
    """,
)
def c06_language_id(spark, sf_dir):
    """Language ID heuristic: stopword-hit argmax, deterministic tie
    order; expression-only so it stays on the fast path."""
    return X.language_id(_docs(spark, sf_dir))


@register(
    "c06_quality_score",
    """
    WITH base AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text,' '),
                 t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t)))
                 AS sw,
             length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS alpha
      FROM documents
    )
    SELECT doc_id, n_chars_actual, n_tokens,
           (n_chars_actual - n_tokens + 1) / n_tokens AS mean_token_len,
           sw / n_tokens AS stopword_ratio,
           CASE WHEN n_chars_actual = 0 THEN NULL
                ELSE (n_chars_actual - alpha) / n_chars_actual
           END AS non_alpha_ratio,
           (n_tokens >= 5 AND sw / n_tokens >= 0.05) AS passes_gate
    FROM base
    """,
)
def c06_quality_score(spark, sf_dir):
    """Quality scoring: length / token-length / stopword / punctuation
    signals + a boolean gate (single-division doubles, IEEE exact)."""
    return X.quality_score(_docs(spark, sf_dir))


@register(
    "c06_token_counts",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
               AS bpe_ish_tokens
    FROM documents
    """,
)
def c06_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex pre-tokenizer (the
    regex stays in the Java-regex ∩ RE2 common subset)."""
    return X.token_counts(_docs(spark, sf_dir))


@register(
    "c07_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint,
           sha256(text) AS content_hash
    FROM documents
    """,
)
def c07_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of the sorted distinct token set
    (bag-of-words identity) + exact content hash."""
    return X.fingerprint(_docs(spark, sf_dir))


@register(
    "c06_length_percentiles",
    """
    SELECT lang,
           ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
           ROUND(quantile_cont(n_chars, 0.90), 4) AS p90,
           ROUND(quantile_cont(n_chars, 0.99), 4) AS p99,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def c06_length_percentiles(spark, sf_dir):
    """C6: corpus length distribution per language — exact percentiles
    emitted as SCALAR columns p50/p90/p99 (array outputs break flat
    row-sorting canonicalizers). Spark's percentile and DuckDB's
    quantile_cont use the same type-7 linear interpolation; a 4-dp
    round on both sides absorbs any last-ulp difference. At 100 TB
    switch to percentile_approx (t-digest sketch, mergeable, one pass)
    and accept the documented error bound."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.90)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "c06_pii_scrub",
    V("""
      SELECT person_id,
             regexp_replace(regexp_replace(name,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{3,}', '<ID>', 'g') AS scrubbed,
             CAST(len(regexp_extract_all(name,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                 AS n_emails,
             CAST(len(regexp_extract_all(regexp_replace(name,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{3,}')) AS BIGINT) AS n_ids
      FROM person
    """),
)
def c06_pii_scrub(spark, sf_dir):
    """Curation: PII/identifier redaction (emails, long digit runs)
    with per-row redaction counts. Shuffle-free map over the scan."""
    register_views(spark, sf_dir)
    return X.pii_scrub(spark.table("person"), col="name", id_col="person_id")


@register(
    "c06_repetition_score",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             [array_to_string(t[i:i+1], ' ')
              for i in range(1, greatest(len(t) - 1, 1) + 1)] AS gs
      FROM toks
    ),
    gstats AS (
      SELECT doc_id, len(gs) AS n_grams, len(list_distinct(gs)) AS n_distinct_grams
      FROM grams
    ),
    tokexp AS (SELECT doc_id, unnest(t) AS token FROM toks),
    tcnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tokexp GROUP BY doc_id, token),
    tstats AS (SELECT doc_id, MAX(cnt) AS top_cnt FROM tcnt GROUP BY doc_id),
    ntoks AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
    SELECT g.doc_id,
           ROUND(1.0 - n_distinct_grams / n_grams, 6) AS dup_2gram_frac,
           ROUND(top_cnt / n_tokens, 6) AS top_token_frac
    FROM gstats g JOIN tstats USING (doc_id) JOIN ntoks USING (doc_id)
    """,
)
def c06_repetition_score(spark, sf_dir):
    """Curation: Gopher-style repetition signals — duplicate-2-gram
    fraction (expression-only, no shuffle) and top-token share
    (relational two-level agg, linear at scale)."""
    return X.repetition_scores(_docs(spark, sf_dir))


@register(
    "c07_tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tfq AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    w AS (
      SELECT tfq.doc_id, tfq.token, tfq.tf,
             ROUND(tfq.tf * n_docs / df, 6) AS weight
      FROM tfq JOIN dfreq USING (token) CROSS JOIN nd
    ),
    r AS (
      SELECT doc_id, token, tf, weight,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY weight DESC, token) AS rnk
      FROM w
    )
    SELECT doc_id, token, tf, weight, rnk FROM r WHERE rnk <= 3
    """,
)
def c07_tfidf_top_terms(spark, sf_dir):
    """C7: top-3 characteristic terms per doc by rational tf-idf
    (tf * n_docs / df — exact ints + one IEEE division; log-idf would
    diverge in the last ulp across libms). Per-doc ranking window."""
    return X.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "c11_hash_split",
    """
    -- chr(0) sentinel INSIDE the hash (split_bucket's convention):
    -- a raw md5(NULL) bucket falls through both CASE arms and lands
    -- every NULL-keyed record in 'train' with no bucket
    SELECT doc_id,
           substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 2)
             AS bucket,
           CASE WHEN substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 2) < '0d' THEN 'test'
                WHEN substr(md5(COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 2) < '1a' THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def c11_hash_split(spark, sf_dir):
    """C10: deterministic train/val/test split via md5-prefix buckets --
    stable across runs, partitionings, and engines (the oracle computes
    the identical assignment), so holdout docs never leak into train
    between pipeline versions. Zero-shuffle per-row expression."""
    return X.hash_split(_docs(spark, sf_dir))


@register(
    "c12_source_quota",
    """
    SELECT doc_id, source, n_chars, rnk FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    ) WHERE rnk <= 10
    """,
)
def c12_source_quota(spark, sf_dir):
    """C11: per-source quota balancing (top-10 docs per source by
    length, deterministic ties) so no crawl dominates the training mix.
    One shuffle keyed by source; row_number truncates early."""
    return X.source_quota(_docs(spark, sf_dir), n_per_source=10)


@register(
    "c13_token_budget_pack",
    """
    SELECT doc_id, n_tokens, cum_tokens FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(SUM(len(string_split(text, ' ')))
               OVER (ORDER BY n_chars DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM documents
    ) WHERE cum_tokens <= 15000
    """,
)
def c13_token_budget_pack(spark, sf_dir):
    """C13: token-budget packing -- fill a 15k-token training budget
    with the longest documents first (deterministic doc_id ties). The
    running sum is a DISTRIBUTED prefix sum (per-length-band windows +
    a tiny broadcast offset table), never a single-partition global
    window; the oracle's naive OVER (ORDER BY ...) is the semantic
    spec, not the physical plan."""
    return X.token_budget_pack(_docs(spark, sf_dir), budget=15000)


# ONE definition of the per-language non-alpha quality rank, shared by
# c23 (keeps the top quarter) and c24's release gate (top half) on BOTH
# engines -- the two copies had already drifted cosmetically, and a
# future change to the exclusion rule or rank key must not certify c23
# against a different pipeline than the one c24 ships.
_QUALITY_RANKED_CTE = """
    quality_scored AS (
      -- empty docs excluded on BOTH sides: the ratio is undefined at
      -- n_chars=0 (ANSI divide) and a NULL rank key would ORDER
      -- differently across engines (Spark NULLS FIRST asc, DuckDB
      -- NULLS LAST)
      SELECT doc_id, lang,
             (length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))
               / length(text) AS non_alpha_ratio
      FROM documents
      WHERE length(text) > 0
    ),
    quality_ranked AS (
      SELECT doc_id, lang, non_alpha_ratio,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY non_alpha_ratio, doc_id) AS pr
      FROM quality_scored
    )
"""


def _quality_ranked(docs, top_frac):
    """Spark twin of _QUALITY_RANKED_CTE: (doc_id, lang,
    non_alpha_ratio, pr) filtered to pr <= top_frac."""
    from pyspark.sql import Window

    n_chars = F.length("text").cast("bigint")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
    w = Window.partitionBy("lang").orderBy("non_alpha_ratio", "doc_id")
    return (
        docs.filter(n_chars > 0)
        .select(
            "doc_id",
            "lang",
            ((n_chars - alpha) / n_chars).alias("non_alpha_ratio"),
        )
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= top_frac)
    )


@register(
    "c23_quality_topfrac",
    f"""
    WITH {_QUALITY_RANKED_CTE.strip()}
    SELECT doc_id, lang, non_alpha_ratio, ROUND(pr, 6) AS q_rank
    FROM quality_ranked WHERE pr <= 0.25
    """,
)
def c23_quality_topfrac(spark, sf_dir):
    """C23: dynamic quality threshold -- keep the cleanest 25% of
    documents PER LANGUAGE (percent_rank over non-alpha ratio), the
    distribution-relative gate curation pipelines use instead of a
    fixed cutoff (which over-prunes some languages and under-prunes
    others). One shuffle keyed by lang; ordering key is a single IEEE
    division over exact ints + doc_id tiebreak, so the rank -- and the
    kept set -- is engine-identical."""
    return _quality_ranked(_docs(spark, sf_dir), 0.25).select(
        "doc_id", "lang", "non_alpha_ratio", F.round("pr", 6).alias("q_rank")
    )


_SAMPLE_THR_25 = SP.rate_threshold_hex(0.25)
_STRAT_RATES = {"en": 0.5, "es": 0.25}
_STRAT_DEFAULT = 0.1


@register(
    "c19_hash_sample",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE substr(md5('s0' || COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 8)
          < '{_SAMPLE_THR_25}'
    """,
)
def c19_hash_sample(spark, sf_dir):
    """C19: deterministic Bernoulli sample (keep ~25%) by content hash
    of doc_id -- the sample is a pure function of the data, stable
    under repartitioning/retries/engines (df.sample is none of these:
    its RNG is seeded per-partition). Pure per-row filter: no shuffle,
    no state; oracle = the same md5-prefix cut in SQL."""
    return SP.hash_sample(
        _docs(spark, sf_dir), key="doc_id", rate=0.25, seed="s0"
    ).select("doc_id", "lang", "n_chars")


@register(
    "c19_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5('s0' || COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 8) <
          CASE WHEN lang = 'es' THEN '{SP.rate_threshold_hex(0.25)}'
               WHEN lang = 'en' THEN '{SP.rate_threshold_hex(0.5)}'
               ELSE '{SP.rate_threshold_hex(0.1)}' END
    """,
)
def c19_stratified_sample(spark, sf_dir):
    """C19: per-stratum deterministic downsampling (en 50%, es 25%,
    rest 10%) -- the training-mix rebalancing knob. Same hash as
    c19_hash_sample, so samples at different rates are NESTED (a 25%
    sample is a subset of the 50% one): ablation subsets stay
    comparable."""
    return SP.stratified_hash_sample(
        _docs(spark, sf_dir),
        strata_col="lang",
        rates=_STRAT_RATES,
        default_rate=_STRAT_DEFAULT,
        key="doc_id",
        seed="s0",
    ).select("doc_id", "lang")


_EPOCH_W = {"src0": 2.5, "src1": 2.0, "src2": 0.5, "src3": 0.25}


def _epoch_case(expr: str) -> str:
    full = " ".join(
        f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(_EPOCH_W.items())
    )
    frac = " ".join(
        f"WHEN '{s}' THEN '{SP.rate_threshold_hex(w - int(w))}'"
        for s, w in sorted(_EPOCH_W.items())
    )
    zero = SP.rate_threshold_hex(0.0)
    return {
        "full": f"CASE source {full} ELSE 1 END",
        "frac": f"CASE source {frac} ELSE '{zero}' END",
    }[expr]


@register(
    "c25_mixture_epochs",
    f"""
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM (
      SELECT doc_id, source,
             unnest(generate_series(1, n_copies)) AS epoch FROM (
        SELECT doc_id, source,
               ({_epoch_case("full")}
                + CASE WHEN substr(md5('ep0' || COALESCE(CAST(doc_id AS VARCHAR), chr(0))), 1, 8)
                       < {_epoch_case("frac")}
                  THEN 1 ELSE 0 END) AS n_copies
        FROM documents))
    """,
)
def c25_mixture_epochs(spark, sf_dir):
    """C25: deterministic mixture upsampling -- emit each doc w times
    per its source's epoch weight (src0 2.5x, src1 2x, src2 0.5x,
    src3 0.25x, rest 1x). floor(w) full copies + one extra iff the
    doc's content hash < frac(w): the fractional epoch is a stable,
    engine-portable subset (same hash family as c19, so subsets nest
    across weights). Narrow explode of a per-row sequence -- no
    shuffle, no RNG."""
    return SP.mixture_epochs(
        _docs(spark, sf_dir),
        strata_col="source",
        weights=_EPOCH_W,
        default_weight=1.0,
        key="doc_id",
        seed="ep0",
    ).select("doc_id", "source", "epoch")


@register(
    "c26_sequence_chunks",
    """
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS start_tok,
           CAST(least(chunk_id * 48 + 64, n_tokens) AS BIGINT) AS end_tok,
           CAST(least(chunk_id * 48 + 64, n_tokens) - chunk_id * 48
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(
             list_slice(toks, chunk_id * 48 + 1,
                        least(chunk_id * 48 + 64, n_tokens)),
             ' ') AS chunk_text
    FROM (
      SELECT doc_id, toks, n_tokens,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM (
        -- NULL-text guard mirrored from sequence_chunks: greatest()
        -- skips NULLs in both engines, so without the CASE a NULL
        -- n_tokens computed n_chunks=1 and emitted one phantom chunk
        -- for a tokenless doc; NULL n_chunks -> empty generate_series
        SELECT doc_id, toks, n_tokens,
               CASE WHEN n_tokens IS NULL THEN NULL
                    ELSE 1 + (greatest(n_tokens - 64, 0) + 47) // 48
               END AS n_chunks
        FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                     len(string_split(text, ' ')) AS n_tokens
              FROM documents)))
    """,
)
def c26_sequence_chunks(spark, sf_dir):
    """C26: sliding-window LM chunking -- cut each doc's token stream
    into 64-token training sequences with a 48-token hop (16-token
    overlap); every doc yields >= 1 chunk, the last may be short.
    Tokens materialize once per row, then a tiny chunk-index explode
    slices the shared array -- narrow, no shuffle, output size = the
    training-set size."""
    return X.sequence_chunks(_docs(spark, sf_dir), seq_len=64, stride=48)


@register(
    "c07_top_bigrams",
    """
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      SELECT t[i] || ' ' || t[i + 1] AS bigram FROM (
        SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM (
          SELECT string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2)
    ) GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50
    """,
)
def c07_top_bigrams(spark, sf_dir):
    """C7+: corpus-wide frequent-phrase mining -- exact top-50 token
    bigrams (boilerplate-phrase discovery). Map-side explode, one
    partial-agg shuffle keyed by bigram, TakeOrderedAndProject top-k
    (per-partition heaps, never a global sort)."""
    return X.top_bigrams(_docs(spark, sf_dir), k=50)


@register(
    "c21_contamination_screen",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
      FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    eval_grams AS (
      SELECT DISTINCT g FROM exploded WHERE doc_id % 50 = 0
    )
    SELECT e.doc_id, COUNT(DISTINCT e.g) AS n_shared_grams
    FROM exploded e JOIN eval_grams v ON e.g = v.g
    WHERE e.doc_id % 50 <> 0
    GROUP BY e.doc_id
    """,
)
def c21_contamination_screen(spark, sf_dir):
    """C21: benchmark-contamination screen -- training docs sharing a
    3-token shingle with the eval slice (doc_id % 50 == 0 stands in for
    a benchmark set; production screens use wider shingles, the plan is
    identical). Eval shingles broadcast; corpus streams through one
    broadcast join + per-doc count-distinct. Exact, oracle-checked."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return D.contamination_screen(train, eval_set, n=3)


@register(
    "c22_winnowing_fingerprints",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      -- NULL-text guard mirrored from winnowing_fingerprints:
      -- greatest() skips NULLs in both engines, so a NULL token list
      -- previously fabricated one gram row whose md5(NULL) fingerprint
      -- was emitted; NULL bound -> empty range -> no rows
      SELECT doc_id, greatest(len(t) - 2, 1) AS n_grams,
             unnest(range(1, CASE WHEN len(t) IS NULL THEN NULL
                                  ELSE greatest(len(t) - 2, 1) + 1
                             END)) AS i, t
      FROM toks
    ),
    hashes AS (
      SELECT doc_id, n_grams, i - 1 AS pos,
             md5(array_to_string(t[i:i+2], ' ')) AS h
      FROM g
    ),
    mins AS (
      SELECT doc_id, n_grams, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM hashes
    )
    SELECT DISTINCT doc_id, fp FROM mins
    WHERE pos <= n_grams - 4 OR (n_grams < 4 AND pos = 0)
    """,
)
def c22_winnowing_fingerprints(spark, sf_dir):
    """C22: winnowing (MOSS) fingerprint selection -- min md5 of each
    4-window of 3-token shingle hashes, distinct per doc. Any shared
    run of >= 6 tokens between two documents is guaranteed a shared
    fingerprint while only ~2/(w+1) of shingles are stored. Per-doc
    window (one shuffle keyed by doc_id, never global); md5-as-hex
    makes the selection engine-portable, so it is fully oracle-checked."""
    return X.winnowing_fingerprints(_docs(spark, sf_dir), k=3, w=4)


@register(
    "c24_release_gate",
    f"""
    WITH {_QUALITY_RANKED_CTE.strip()},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS gs
      FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    eval_grams AS (SELECT DISTINCT g FROM exploded WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT e.doc_id FROM exploded e
      JOIN eval_grams v ON e.g = v.g
      WHERE e.doc_id % 50 <> 0
    )
    SELECT r.doc_id, r.lang,
           CASE WHEN substr(md5(COALESCE(CAST(r.doc_id AS VARCHAR), chr(0))), 1, 2) < '0d'
                  THEN 'test'
                WHEN substr(md5(COALESCE(CAST(r.doc_id AS VARCHAR), chr(0))), 1, 2) < '1a'
                  THEN 'val'
                ELSE 'train' END AS split
    FROM quality_ranked r
    WHERE r.pr <= 0.5
      AND r.doc_id % 50 <> 0
      AND r.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND substr(md5('s0' || COALESCE(CAST(r.doc_id AS VARCHAR), chr(0))), 1, 8)
          < '{SP.rate_threshold_hex(0.5)}'
    """,
)
def c24_release_gate(spark, sf_dir):
    """C24 capstone: the data-release gate as ONE Catalyst plan --
    cleanest 50% per language (distribution-relative quality), minus
    the benchmark slice and every document contaminated by it (shared
    3-gram), thinned by a deterministic 50% content-hash sample, with
    train/val/test labels attached. Composes c23 + c21 + c19 + c11:
    one lang-keyed window, one anti-join against the
    contaminated id set, and per-row hash expressions -- nothing in the
    gate shuffles the corpus more than the quality window already
    does."""
    docs = _docs(spark, sf_dir)
    # the shared per-lang quality rank (c23's definition, one copy)
    ranked = _quality_ranked(docs, 0.5)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = D.contamination_screen(train, eval_set, n=3).select("doc_id")
    kept = (
        ranked.filter(F.col("doc_id") % 50 != 0)
        .join(contaminated, "doc_id", "left_anti")
    )
    sampled = SP.hash_sample(kept, key="doc_id", rate=0.5, seed="s0")
    # split is a pure per-row function of doc_id: attach it as an
    # expression. Joining hash_split(sampled) back onto sampled planned
    # the whole gate (quality window + contamination screen +
    # anti-join) on BOTH join branches -- the gate executed twice
    bucket = X.split_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < "0d", "test")
        .when(bucket < "1a", "val")
        .otherwise("train")
        .alias("split")
    )
    return sampled.select("doc_id", "lang", split)


@register(
    "c20_srp_neardup",
    """
    WITH dims AS (SELECT unnest(generate_series(1,
      (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d),
    planes AS (
      SELECT pp.p, dims.d,
             CASE WHEN substr(md5('c20srp|' || pp.p || '|' || dims.d), 1, 1)
                       <= '7'
                  THEN 1 ELSE -1 END AS r
      FROM (SELECT unnest(generate_series(0, 15)) AS p) pp, dims
    ),
    comps AS (
      SELECT vec_id, dims.d,
             CAST(ROUND(CAST(embedding AS DOUBLE[])[dims.d] * 1000000, 0)
                  AS BIGINT) AS qv
      FROM embeddings, dims
    ),
    bits AS (
      SELECT c.vec_id, pl.p,
             CASE WHEN SUM(pl.r * c.qv) >= 0 THEN 1 ELSE 0 END AS bit
      FROM comps c JOIN planes pl ON pl.d = c.d
      GROUP BY c.vec_id, pl.p
    ),
    bands AS (
      SELECT vec_id, p // 2 AS band,
             SUM(bit * (1 << (p % 2))) AS band_val
      FROM bits GROUP BY vec_id, p // 2
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 4) AS sim
    FROM cands c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                       eb.embedding::DOUBLE[]), 4) >= 0.4
    """,
)
def c20_srp_neardup(spark, sf_dir):
    """C20: embedding near-dup pairs via signed-random-projection LSH
    (cosine LSH family) + exact re-rank -- the scale path when no
    natural block column exists. Precision 1.0 by construction (exact
    cosine filter); recall is the banding trade-off, measured >=0.97 on
    the fixture in tests/test_properties.py.
    Banding is tuned to the similarity regime: the fixture's planted
    pairs sit near tau=0.4 (collision prob ~0.63/bit), so 8 bands x 2
    bits; a production near-dup screen at tau>=0.9 (~0.86/bit) wants
    fewer, wider bands (e.g. 2 x 8). The planes are the deterministic
    md5-Rademacher family with integer fixed-point projections
    (similarity.srp_bands_fixedpoint), so the oracle replays the
    buckets hash-exactly."""
    from ..catalog import embedding_dim

    return S.srp_neardup_pairs(
        _emb(spark, sf_dir),
        threshold=0.4,
        n_planes=16,
        n_bands=8,
        tag="c20srp",
        dim=embedding_dim(sf_dir),
    )


@register(
    "c17_full_curation",
    f"""
    WITH RECURSIVE {_NEARDUP_COMPONENT_CTES},
    comp AS (
      SELECT d.doc_id,
             COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) AS component
      FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id
    ),
    quality AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars_a,
             length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS alpha
      FROM documents
    ),
    lang AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t)))
            AS h_en,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['el','la','de','y','en','es','un','una','por','que'], t)))
            AS h_es,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','auf'], t)))
            AS h_de
      FROM documents
    )
    SELECT q.doc_id, q.n_tokens,
           CASE WHEN greatest(h_en, h_es, h_de) = 0 THEN 'und'
                WHEN h_en = greatest(h_en, h_es, h_de) THEN 'en'
                WHEN h_es = greatest(h_en, h_es, h_de) THEN 'es'
                ELSE 'de' END AS lang_guess,
           CASE WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'val'
                ELSE 'train' END AS split
    FROM quality q
    JOIN comp ON comp.doc_id = q.doc_id
    JOIN lang l ON l.doc_id = q.doc_id
    WHERE comp.component = q.doc_id
      AND q.n_tokens >= 5
      AND (q.n_chars_a - q.alpha) / q.n_chars_a <= 0.5
      AND greatest(h_en, h_es, h_de) > 0
    """,
)
def c17_full_curation(spark, sf_dir):
    """The capstone curation flow, every stage previously verified on
    its own: keep a document iff it is the CANONICAL of its near-dup
    cluster (component id == own id; exact dups collapse too, since
    identical texts are jaccard-1 pairs), passes the quality gate,
    is language-identifiable, and gets its deterministic split label.
    Plan shape at scale: the pair graph + label propagation dominate;
    the gates are per-row expressions fused into one pass. The
    canonical-id semi-join is NOT hinted broadcast: most documents are
    their own canonical, so the set is O(corpus) -- AQE broadcasts it
    at small scale and falls back to a shuffle semi-join at 100 TB
    (a forced hint here was a measured driver bomb)."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, n=2, block_col="lang", threshold=0.5)
    comp = D.neardup_components(docs, pairs)
    canonical = comp.filter(F.col("component") == F.col("doc_id")).select(
        "doc_id"
    )
    quality = X.quality_score(docs).select(
        "doc_id", "n_tokens", "non_alpha_ratio"
    )
    lang = X.language_id(docs).select("doc_id", "lang_guess")
    # split is a pure per-row function of doc_id: attach it as an
    # expression (c24's pattern). Joining hash_split(docs) back added
    # a redundant documents scan + doc_id-keyed shuffle join -- a
    # whole corpus exchange for a value computable in place
    bucket = X.split_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < "0d", "test")
        .when(bucket < "1a", "val")
        .otherwise("train")
        .alias("split")
    )
    return (
        quality.join(canonical, "doc_id", "left_semi")
        .join(lang, "doc_id")
        .filter(
            (F.col("n_tokens") >= 5)
            & (F.col("non_alpha_ratio") <= 0.5)
            & (F.col("lang_guess") != "und")
        )
        .select("doc_id", "n_tokens", "lang_guess", split)
    )


@register(
    "c18_stopword_ratio_by_lang",
    """
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), t -> list_contains(
             CASE lang
               WHEN 'en' THEN ['the','a','of','and','to','in','is','it','for','on']
               WHEN 'es' THEN ['el','la','de','y','en','es','un','una','por','que']
               WHEN 'de' THEN ['der','die','das','und','ist','ein','zu','mit','von','auf']
               ELSE []
             END, t))) AS BIGINT) AS sw_hits,
           ROUND(len(list_filter(string_split(text, ' '), t -> list_contains(
             CASE lang
               WHEN 'en' THEN ['the','a','of','and','to','in','is','it','for','on']
               WHEN 'es' THEN ['el','la','de','y','en','es','un','una','por','que']
               WHEN 'de' THEN ['der','die','das','und','ist','ein','zu','mit','von','auf']
               ELSE []
             END, t))) / len(string_split(text, ' ')), 6) AS sw_ratio
    FROM documents
    """,
)
def c18_stopword_ratio_by_lang(spark, sf_dir):
    """C18: language-AWARE stopword ratio -- each document scored
    against ITS OWN language's stopword list (an English-only list
    penalizes every non-English doc; this is the fluency signal a
    multilingual quality gate actually needs). Pure per-row array
    expressions dispatched by the lang column; no shuffle."""
    docs = _docs(spark, sf_dir)
    from ..functions.text import _stopword_hits, tokens

    # the canonical stopword-hit expression (text._stopword_hits) --
    # an inline copy here silently diverged from language_id's
    # semantics the moment the helper changed (the NULL-text fix)
    hits_for = _stopword_hits

    sw = (
        F.when(F.col("lang") == "en", hits_for("en"))
        .when(F.col("lang") == "es", hits_for("es"))
        .when(F.col("lang") == "de", hits_for("de"))
        # other-language docs score 0 hits -- but ONLY for non-NULL
        # text: the oracle's ELSE [] branch still filters the split of
        # a NULL text (NULL), and a bare otherwise(0) dispatches on
        # lang alone, fabricating 0 where SQL yields NULL
        .otherwise(F.when(F.col("text").isNotNull(), F.lit(0)))
    ).cast("bigint")
    return docs.select(
        "doc_id",
        "lang",
        sw.alias("sw_hits"),
        F.round(sw / F.size(tokens()), 6).alias("sw_ratio"),
    )


@register(
    "c16_table_profile",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(doc_id) AS doc_id_nulls,
           COUNT(DISTINCT doc_id) AS doc_id_distinct,
           COUNT(*) - COUNT(text) AS text_nulls,
           MIN(n_chars) AS n_chars_min,
           MAX(n_chars) AS n_chars_max,
           COUNT(DISTINCT lang) AS lang_distinct,
           COUNT(DISTINCT source) AS source_distinct,
           MIN(lang) AS lang_min,
           MAX(source) AS source_max
    FROM documents
    """,
)
def c16_table_profile(spark, sf_dir):
    """C16: one-pass table profile (row count, per-column nulls,
    distincts, min/max) -- the ANALYZE-style health check a pipeline
    runs before training on a new drop. All stats ride ONE hash agg
    (count-distincts expand to partial aggs Spark plans itself); at
    100 TB swap exact distincts for approx_count_distinct, same
    shape."""
    d = _docs(spark, sf_dir)
    c = F.count(F.lit(1))
    return d.agg(
        c.alias("n_rows"),
        (c - F.count("doc_id")).alias("doc_id_nulls"),
        F.countDistinct("doc_id").alias("doc_id_distinct"),
        (c - F.count("text")).alias("text_nulls"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.countDistinct("lang").alias("lang_distinct"),
        F.countDistinct("source").alias("source_distinct"),
        F.min("lang").alias("lang_min"),
        F.max("source").alias("source_max"),
    )


@register(
    "c15_incremental_dedup",
    """
    WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
    incoming AS (SELECT * FROM documents WHERE doc_id >= 400),
    exact_dup AS (
      SELECT DISTINCT i.doc_id
      FROM incoming i JOIN corpus c ON sha256(i.text) = sha256(c.text)
    ),
    itoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM incoming),
    ctoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus),
    igrams AS (
      SELECT doc_id, lang, unnest(list_distinct([array_to_string(t[i:i+1], ' ')
        for i in range(1, greatest(len(t) - 1, 1) + 1)])) AS g FROM itoks
    ),
    cgrams AS (
      SELECT doc_id, lang, unnest(list_distinct([array_to_string(t[i:i+1], ' ')
        for i in range(1, greatest(len(t) - 1, 1) + 1)])) AS g FROM ctoks
    ),
    isizes AS (SELECT doc_id, COUNT(*) AS sz FROM igrams GROUP BY doc_id),
    csizes AS (SELECT doc_id, COUNT(*) AS sz FROM cgrams GROUP BY doc_id),
    inter AS (
      SELECT i.doc_id AS i_id, c.doc_id AS c_id, COUNT(*) AS n_common
      FROM igrams i JOIN cgrams c ON i.lang = c.lang AND i.g = c.g
      GROUP BY 1, 2
    ),
    near_dup AS (
      SELECT DISTINCT i_id AS doc_id FROM inter
      JOIN isizes si ON si.doc_id = i_id
      JOIN csizes sc ON sc.doc_id = c_id
      WHERE ROUND(n_common / (si.sz + sc.sz - n_common), 4) >= 0.5
    )
    SELECT doc_id, lang, source FROM incoming
    WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
      AND doc_id NOT IN (SELECT doc_id FROM near_dup)
    """,
)
def c15_incremental_dedup(spark, sf_dir):
    """C15: the operational dedup flow -- an INCOMING batch screened
    against the EXISTING corpus (the incremental form every continuous
    ingestion pipeline runs; batch split stands in for the A5
    watermark boundary). Accept an incoming doc only if it is neither
    an exact copy (content-hash anti-join) nor a near-dup (2-gram
    Jaccard >= 0.5, language-blocked) of any corpus doc. Both screens
    are anti-joins against CORPUS-size state, linear in batch size --
    never batch x batch or corpus x corpus.

    The fuzzy screen is a two-sided ``D.set_overlap`` (incoming x
    corpus, blocked on lang): each side's gram subtree has ONE
    consumer, so the corpus is tokenized once."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400)

    ih = incoming.select("doc_id", F.sha2("text", 256).alias("h"))
    ch = corpus.select(F.sha2("text", 256).alias("h")).dropDuplicates(["h"])
    exact_ok = ih.join(ch, "h", "left_anti").select("doc_id")

    def grams(df):
        return D.gram_rows(df, 2, F.col("doc_id").alias("id"), "lang")

    near = (
        D.set_overlap(grams(incoming), grams(corpus), ["lang", "g"])
        .filter(D.jaccard(4) >= 0.5)
        .select(F.col("id_a").alias("doc_id"))
        .dropDuplicates(["doc_id"])
    )
    return (
        incoming.join(exact_ok, "doc_id", "left_semi")
        .join(near, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


@register(
    "c14_length_outliers",
    """
    -- HUGEINT widening before the n^2-scaled products: at ~1e9 rows
    -- per source n*ss passes 2^63 and the BIGINT form would abort
    -- with an overflow (mirrors the Spark side's decimal(38,0))
    SELECT doc_id, source, n_chars,
           (n * n_chars - s) * (n * n_chars - s) > 4 * (n * ss - s * s)
               AS is_outlier
    FROM (
      SELECT doc_id, source, n_chars,
             CAST(COUNT(*) OVER w AS HUGEINT) AS n,
             CAST(SUM(n_chars) OVER w AS HUGEINT) AS s,
             CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) OVER w
                  AS HUGEINT) AS ss
      FROM documents
      WINDOW w AS (PARTITION BY source)
    )
    """,
)
def c14_length_outliers(spark, sf_dir):
    """C14: per-source length anomaly flag (|z| > 2) in EXACT integer
    arithmetic: (n*x - sum)^2 > 4*(n*sumsq - sum^2) is the z-score test
    with both sides scaled by n^2 -- no float mean/stddev, so the flag
    is bit-identical across engines and never flips on borderline rows.
    One shuffle keyed by source (unbounded window = per-key stats)."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("source")
    # decimal(38,0) intermediates: the n^2-scaled products (n*ss, d*d)
    # pass 2^63 around 1e9 rows/source at fixture-typical lengths --
    # the bigint form would abort with an ANSI overflow exactly at the
    # corpus sizes the docstring claims; 38 digits covers ~1e10 rows
    # per source (the oracle widens to HUGEINT identically)
    x = F.col("n_chars").cast("decimal(38,0)")
    n, s, ss = (
        F.count(F.lit(1)).over(w).cast("decimal(38,0)"),
        F.sum(x).over(w),
        F.sum(x * x).over(w),
    )
    d = n * x - s
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        (d * d > 4 * (n * ss - s * s)).alias("is_outlier"),
    )


@register(
    "c10_curation_pipeline",
    """
    WITH winners AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT sha256(text) AS h, doc_id FROM documents) x
      GROUP BY h
    ),
    quality AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS alpha
      FROM documents
    ),
    lang AS (
      SELECT doc_id,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t)))
            AS hits_en,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['el','la','de','y','en','es','un','una','por','que'], t)))
            AS hits_es,
        len(list_filter(string_split(text,' '),
            t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','auf'], t)))
            AS hits_de
      FROM documents
    )
    SELECT q.doc_id, q.n_tokens,
           CASE WHEN greatest(hits_en, hits_es, hits_de) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_es, hits_de) THEN 'en'
                WHEN hits_es = greatest(hits_en, hits_es, hits_de) THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM quality q
    JOIN lang l ON q.doc_id = l.doc_id
    WHERE q.doc_id IN (SELECT doc_id FROM winners)
      AND q.n_tokens >= 5
      AND (q.n_chars - q.alpha) / q.n_chars <= 0.5
      AND greatest(hits_en, hits_es, hits_de) > 0
    """,
)
def c10_curation_pipeline(spark, sf_dir):
    """The composed training-data curation flow, end to end in ONE
    declarative plan: exact-dedup winners (C1) ∩ quality gate (C6:
    length + punctuation ratio) ∩ language-identified docs (C6), with
    token counts for budget accounting. Catalyst fuses the three
    document passes; the only shuffles are the dedup agg and the
    winner semi-join — the shape a 100 TB curation job wants."""
    docs = _docs(spark, sf_dir)
    winners = D.exact_dedup(docs).select("doc_id")
    quality = X.quality_score(docs).select(
        "doc_id", "n_tokens", "n_chars_actual", "non_alpha_ratio"
    )
    lang = X.language_id(docs)
    return (
        quality.join(winners, "doc_id", "left_semi")
        .join(lang.select("doc_id", "lang_guess"), "doc_id")
        .filter(
            (F.col("n_tokens") >= 5)
            & (F.col("non_alpha_ratio") <= 0.5)
            & (F.col("lang_guess") != "und")
        )
        .select("doc_id", "n_tokens", "lang_guess")
    )


# -------------------------------------------------------- multimodal


@register(
    "c09_multimodal_meta",
    """
    SELECT 'blob' AS kind, COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    """,
)
def c09_multimodal_meta(spark, sf_dir):
    """C9: metadata-only query over the media table -- must not touch
    blob bytes (column pruning; asserted in tests)."""
    return M.metadata_only_stats(M.to_media_table(_docs(spark, sf_dir)))


@register(
    "c09_multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) AS DOUBLE) AS f0,
           CAST(ascii(left(text, 1)) AS DOUBLE) AS f1,
           CAST(ascii(right(text, 1)) AS DOUBLE) AS f2
    FROM documents
    """,
)
def c09_multimodal_features(spark, sf_dir):
    """C9: decode + feature-extract plumbing over Arrow batches
    (mapInPandas); stub decoder (real codecs absent in container).
    Features are flattened to scalar columns f0/f1/f2, which makes the
    stub decoder fully oracle-checkable: f0 = blob length, f1/f2 =
    first/last byte (the fixture text is pure ASCII, so DuckDB's
    ascii(left/right(text,1)) reproduces them exactly)."""
    media = M.to_media_table(_docs(spark, sf_dir))
    feats = M.extract_features(media)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.col("feature")[0].alias("f0"),
        F.col("feature")[1].alias("f1"),
        F.col("feature")[2].alias("f2"),
    )


@register(
    "c27_span_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id,
             [md5(array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' '))
              for i in range(1,
                GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1) + 1)] AS hs
      FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(hs) AS h FROM spans),
    counts AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM exploded GROUP BY h
    )
    SELECT e.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS dup_span_frac
    FROM exploded e JOIN counts c ON e.h = c.h
    GROUP BY e.doc_id
    """,
)
def c27_span_dedup(spark, sf_dir):
    """Sub-document (passage-level) duplication screen: fraction of
    each doc's 8-token spans that also occur in another document --
    the dedup signal whole-doc hashing misses (boilerplate, quoted
    passages). One shuffle keyed by span hash + one keyed by doc."""
    return X.span_dup_stats(_docs(spark, sf_dir), k=8)


@register(
    "c28_token_commonness",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(c.cnt) AS BIGINT) AS sum_freq,
           MIN(c.cnt) AS rarest_freq,
           ROUND(SUM(c.cnt) / COUNT(*), 6) AS mean_token_freq
    FROM tok t JOIN counts c ON t.token = c.token
    GROUP BY t.doc_id
    """,
)
def c28_token_commonness(spark, sf_dir):
    """Unigram-LM fluency proxy (integer-exact perplexity stand-in):
    per-doc mean corpus frequency of its tokens + rarest-token count.
    All aggregates are exact int sums; one IEEE division at the end."""
    return X.token_commonness(_docs(spark, sf_dir))


@register(
    "c29_length_bucketed_batches",
    """
    WITH base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(string_split(text, ' ')) // 64 AS band
      FROM documents
    ),
    assigned AS (
      SELECT band, n_tokens,
             (ROW_NUMBER() OVER (PARTITION BY band
                                 ORDER BY n_tokens DESC, doc_id) - 1) // 32
               AS batch_in_band
      FROM base
    )
    SELECT band, batch_in_band,
           COUNT(*) AS n_docs,
           MAX(n_tokens) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
             AS padding_waste
    FROM assigned
    GROUP BY band, batch_in_band
    """,
)
def c29_length_bucketed_batches(spark, sf_dir):
    """Padding-efficient batch assembly: length-banded, longest-first,
    fixed-size batches with per-batch padding-waste accounting. The
    only window partitions by length band (parallel), never a global
    sort -- the distributed form of the dataloader's length-sorted
    bucketing."""
    return X.length_bucketed_batches(_docs(spark, sf_dir))


@register(
    "c30_source_overlap",
    """
    WITH toks AS (
      SELECT d.doc_id, d.source, string_split(d.text, ' ') AS t
      FROM documents d
    ),
    spans AS (
      SELECT doc_id, source,
             [md5(array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' '))
              for i in range(1,
                GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1) + 1)] AS hs
      FROM toks
    ),
    sh AS (
      SELECT DISTINCT source, unnest(hs) AS h FROM spans
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_spans
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def c30_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for every source pair, how
    many distinct 8-token passages they share -- the who-copied-whom /
    mirror-detection audit run before mixing sources into a training
    corpus. Distinct (source, span-hash) first (collapses each
    source's repeats), then per-hash ordered source pairs; the
    quadratic step is per-span-hash across sources (bounded by the
    number of sources, not documents).

    r12 shape: the self-join was replaced by a per-hash sorted
    source-set collect + in-row ordered-pair explode
    (dedup.ordered_pairs) -- the pair set is identical (sort_array's
    UTF8-binary order is the same comparator as the old join's
    ``a.source < b.source``), but the span relation is consumed ONCE
    in a linear pipeline: no localCheckpoint materialization pass, no
    join, and the only exchanges are the h repartition and the tiny
    S^2-row pair rollup (plan diff: 3 Exchange + BHJ + 2 scans ->
    2 Exchange, no join, 1 scan)."""
    docs = _docs(spark, sf_dir)
    from ..functions.dedup import ordered_pairs
    from ..functions.text import source_span_sets

    sh = source_span_sets(docs, h_partitioned=True)
    buckets = sh.groupBy("h").agg(
        F.sort_array(F.collect_list("source")).alias("ss")
    )
    return (
        buckets.filter(F.size("ss") >= 2)
        .select(F.explode(ordered_pairs(F.col("ss"))).alias("p"))
        .groupBy(
            F.col("p._1").alias("source_a"),
            F.col("p._2").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


@register(
    "c31_snapshot_diff",
    """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    v2 AS (
      SELECT doc_id, md5(concat(text, ' [rev]')) AS h
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, md5(concat('new ', text)) AS h
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT COALESCE(v2.doc_id, v1.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h <> v2.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def c31_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (change-data-capture over dataset
    versions): content-hash comparison of two corpus versions via one
    full outer join on doc_id -> added / removed / changed / unchanged
    per document -- the audit that tells a retraining pipeline what
    actually moved between crawls. The v2 snapshot is derived
    deterministically from the fixture (every 7th doc revised, every
    13th dropped, every 11th cloned as new) so the query is
    self-contained and oracle-checkable. One shuffle on doc_id at any
    scale; hashes compare without moving text."""
    docs = _docs(spark, sf_dir)
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    v2 = _snapshot_v2(docs)
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    return _snapshot_diff_output(joined)


def _snapshot_v2(docs):
    """c31's deterministic v2 snapshot derivation (every 7th revised,
    every 13th dropped, every 11th cloned as new), shared by the
    shuffle lane and its bucketed twin.

    Single-scan form (round 12): the textual three-branch union scanned
    the corpus THREE times, and the modulo predicates never push down
    to parquet (no row-group skipping), so each branch paid a full
    text-column read. Each doc's 0-2 output rows are built IN-ROW
    instead (survivor/revision row + clone row, NULL-compacted) and
    exploded off ONE scan -- same rows, same md5 count, one corpus read
    instead of three at any scale."""
    did = F.col("doc_id")
    survivor = F.when(
        did % 13 != 0,
        F.struct(
            did.alias("doc_id"),
            F.when(
                did % 7 == 0,
                F.md5(F.concat(F.col("text"), F.lit(" [rev]"))),
            )
            .otherwise(F.md5("text"))
            .alias("h"),
        ),
    )
    clone = F.when(
        did % 11 == 0,
        F.struct(
            (did + 1000000).alias("doc_id"),
            F.md5(F.concat(F.lit("new "), F.col("text"))).alias("h"),
        ),
    )
    rows = F.filter(
        F.array(survivor, clone), lambda x: x.isNotNull()
    )
    return docs.select(F.explode(rows).alias("r")).select(
        F.col("r.doc_id").alias("doc_id"), F.col("r.h").alias("h")
    )


def _snapshot_diff_output(joined):
    """c31's diff-status projection, shared by both lanes."""
    return joined.select(
        F.coalesce(F.col("b.doc_id"), F.col("a.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


@register(
    "c31_snapshot_diff_bucketed",
    REGISTRY["c31_snapshot_diff"].oracle,
    defer=True,
)
def c31_snapshot_diff_bucketed(spark, sf_dir):
    """c31's layout twin: BOTH corpus snapshots are maintained as
    bucketed-by-doc_id tables (v1 is the shared
    bucketed_documents_base; v2 lands bucketed at its own ingest, the
    one shuffle, amortized over every diff/audit that reads it), so
    the recurring snapshot diff is a fully exchange-free bucket-local
    SMJ -- at 100 TB the plain lane re-shuffles BOTH full snapshots
    per audit; this lane moves that to ingest. Same values as
    c31_snapshot_diff (same oracle); plan pinned in
    tests/test_plan_shapes.py."""
    from ..sources.bucketed import bucketed_table
    from ..staging import source_tag, source_version
    from .relational_closure import bucketed_documents_base

    base = bucketed_documents_base(spark, sf_dir)
    v1 = base.select("doc_id", F.md5("text").alias("h"))
    v2 = bucketed_table(
        spark,
        _snapshot_v2(base),
        f"bkt_docs_v2_{source_tag(sf_dir)}",
        "doc_id",
        n_buckets=16,
        version=source_version(sf_dir, "documents"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(
        b.hint("merge"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    return _snapshot_diff_output(joined)


@register(
    "c32_boilerplate_removal",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i - 1 AS span_id,
             array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' ') AS span
      FROM toks, LATERAL (
        SELECT unnest(range(1,
          GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1) + 1)) AS i
      )
    ),
    per_hash AS (
      SELECT md5(span) AS h, COUNT(DISTINCT doc_id) AS n_docs
      FROM spans GROUP BY 1
    ),
    flagged AS (
      SELECT s.doc_id, s.span_id, s.span, p.n_docs >= 3 AS is_boiler
      FROM spans s JOIN per_hash p ON md5(s.span) = p.h
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN NOT is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           COALESCE(string_agg(CASE WHEN NOT is_boiler THEN span END, ' '
                               ORDER BY span_id), '') AS cleaned_text
    FROM flagged
    GROUP BY doc_id
    HAVING SUM(CASE WHEN NOT is_boiler THEN 1 ELSE 0 END) > 0
    """,
)
def c32_boilerplate_removal(spark, sf_dir):
    """The cleaning transform on top of the passage screen: spans
    occurring in >= 3 distinct docs (site chrome / license headers)
    are dropped and each doc's surviving spans reassemble in position
    order. Fully-boilerplate docs disappear -- they are the removal
    target."""
    return X.boilerplate_removal(_docs(spark, sf_dir), k=8, min_docs=3)


@register(
    "c33_bigram_next_token",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
      SELECT t[i] AS prev_tok, t[i + 1] AS next_tok
      FROM toks, LATERAL (
        SELECT unnest(range(1, GREATEST(len(t) - 1, 0) + 1)) AS i
      )
    ),
    cond AS (
      SELECT prev_tok, next_tok, COUNT(*) AS cnt
      FROM bigrams GROUP BY 1, 2
    ),
    ranked AS (
      SELECT prev_tok, next_tok, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY prev_tok) AS BIGINT)
               AS prev_total,
             ROW_NUMBER() OVER (PARTITION BY prev_tok
                                ORDER BY cnt DESC, next_tok) AS rnk
      FROM cond
    )
    SELECT prev_tok, next_tok, cnt, prev_total,
           ROUND(cnt / prev_total, 6) AS cond_prob
    FROM ranked WHERE rnk = 1
    """,
)
def c33_bigram_next_token(spark, sf_dir):
    """Bigram conditional-LM table: for every token, its most likely
    successor with the conditional probability cnt / total(prev) --
    the classic phrase-completion / suggestion statistic (and the
    building block of bigram-LM scoring). One hash agg keyed by the
    token pair, then one window keyed by prev token (rank + total
    share the same partitioning -- a single exchange); ties broken by
    token so the argmax is total-ordered."""
    from pyspark.sql import Window as Wnd

    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    pairs = docs.select(
        F.posexplode(F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0)))).alias(
            "i", "prev_tok"
        ),
        t.alias("t"),
    ).select("prev_tok", F.col("t")[F.col("i") + 1].alias("next_tok"))
    cond = pairs.groupBy("prev_tok", "next_tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Wnd.partitionBy("prev_tok")
    ranked = cond.select(
        "prev_tok",
        "next_tok",
        "cnt",
        F.sum("cnt").over(w).alias("prev_total"),
        F.row_number()
        .over(w.orderBy(F.desc("cnt"), "next_tok"))
        .alias("rnk"),
    )
    return ranked.filter(F.col("rnk") == 1).select(
        "prev_tok",
        "next_tok",
        "cnt",
        "prev_total",
        F.round(F.col("cnt") / F.col("prev_total"), 6).alias("cond_prob"),
    )


@register(
    "c34_intradoc_span_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i - 1 AS span_id,
             array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' ') AS span
      FROM toks, LATERAL (
        SELECT unnest(range(1,
          GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1) + 1)) AS i
      )
    ),
    firsts AS (
      SELECT doc_id, span, MIN(span_id) AS first_id, COUNT(*) AS n_occ
      FROM spans GROUP BY doc_id, span
    )
    SELECT doc_id,
           CAST(SUM(n_occ) AS BIGINT) AS n_spans,
           COUNT(*) AS n_unique_spans,
           string_agg(span, ' ' ORDER BY first_id) AS dedup_text
    FROM firsts
    GROUP BY doc_id
    """,
)
def c34_intradoc_span_dedup(spark, sf_dir):
    """WITHIN-document repetition cleaner: keep only the FIRST
    occurrence of each 8-token span inside a doc and reassemble in
    original order -- the in-doc twin of c27/c32 (catches looping
    generation and copy-paste stutter that cross-doc screens ignore).
    Everything is keyed by doc: one shuffle, per-doc state, reassembly
    via in-row sort of (first_id, span) structs."""
    from ..functions.text import doc_span_hashes

    spans = doc_span_hashes(_docs(spark, sf_dir), k=8)
    firsts = spans.groupBy("doc_id", "span").agg(
        F.min("span_id").alias("first_id"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return firsts.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_spans"),
        F.count(F.lit(1)).alias("n_unique_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("first_id", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("dedup_text"),
    )


@register(
    "c35_vocab_coverage",
    """
    WITH counts AS (
      SELECT token, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    cum AS (
      SELECT token, cnt,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM counts
    )
    SELECT c.token, c.cnt, c.cum_tokens,
           ROUND(c.cum_tokens / t.total, 6) AS cum_share
    FROM cum c, tot t
    WHERE (c.cum_tokens - c.cnt) * 20 < 19 * t.total
    """,
)
def c35_vocab_coverage(spark, sf_dir):
    """Frequency-coverage vocabulary build: the minimal
    most-frequent-first token set covering 95% of corpus tokens
    (integer-exact cut test). The vocab cumsum is banded by count
    digit-length -- parallel per-band windows + a broadcast offset
    table, never a global window over the vocabulary."""
    return X.vocab_coverage(_docs(spark, sf_dir))


@register(
    "c36_mixture_balance",
    """
    WITH per AS (
      SELECT lang, source, COUNT(*) AS cnt FROM documents
      GROUP BY lang, source
    ),
    tot AS (
      SELECT lang,
             CAST(SUM(cnt) AS BIGINT) AS n_docs,
             COUNT(*) AS n_sources,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
      FROM per GROUP BY lang
    )
    SELECT lang, n_docs, n_sources,
           ROUND(1.0 - sum_sq / (n_docs * n_docs), 6) AS gini_impurity
    FROM tot
    """,
)
def c36_mixture_balance(spark, sf_dir):
    """Training-mixture balance diagnostic: per-language Gini impurity
    of the source distribution (1 - sum(share^2)) -- 0 means one
    source dominates, (k-1)/k means k sources contribute evenly. The
    impurity form needs no libm entropy: counts and squared counts
    are exact integers, one IEEE division at the end. Two map-side
    combinable hash aggs at any scale."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per.groupBy("lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    return tot.select(
        "lang",
        "n_docs",
        "n_sources",
        F.round(
            F.lit(1.0) - F.col("sum_sq") / (F.col("n_docs") * F.col("n_docs")),
            6,
        ).alias("gini_impurity"),
    )


@register(
    "c37_exact_k_sample",
    """
    SELECT lang, doc_id, sort_key FROM (
      SELECT lang, doc_id,
             -- sentinel INSIDE the hash (sampling._bucket's actual
             -- convention): DuckDB's concat() SKIPS NULL args while
             -- Spark's propagates, so hashing the raw cast diverges on
             -- NULL doc_ids (real hash vs NULL).  COALESCE the input,
             -- so both engines hash the identical chr(0) sentinel.
             md5(concat('k-sample-1|',
                        COALESCE(CAST(doc_id AS VARCHAR), chr(0))))
               AS sort_key,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(concat('k-sample-1|',
                                               COALESCE(CAST(doc_id AS VARCHAR),
                                                        chr(0)))),
                                         COALESCE(CAST(doc_id AS VARCHAR),
                                                  chr(0))) AS rnk
      FROM documents
    ) r WHERE rnk <= 25
    """,
)
def c37_exact_k_sample(spark, sf_dir):
    """EXACT-size stratified sampling: precisely 25 docs per language,
    chosen by md5 hash order (salted with a run key) -- the
    fixed-budget complement of c19's fraction-based sampling.
    Deterministic across engines, partitionings, and reruns; adding
    documents only replaces sampled members, it never reshuffles the
    whole sample (hash order is stable). One window per stratum --
    partitioned by lang, never a global sort."""
    from pyspark.sql import Window as Wnd

    docs = _docs(spark, sf_dir)
    # sentinel INSIDE the hash, mirrored in the oracle: Spark's concat
    # propagates NULL while DuckDB's skips it, so hashing the raw cast
    # would emit NULL here but a real hash there.  Coalescing the INPUT
    # makes both engines hash the identical chr(0) sentinel, and the
    # hash itself is then never NULL (no outer sentinel needed).
    key = F.md5(
        F.concat(
            F.lit("k-sample-1|"),
            F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00")),
        )
    )
    w = Wnd.partitionBy("lang").orderBy(
        key.asc(), F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00"))
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            key.alias("sort_key"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 25)
        .select("lang", "doc_id", "sort_key")
    )


@register(
    "c38_dup_rate_by_source",
    """
    WITH h AS (
      SELECT doc_id, source, sha256(text) AS content_hash FROM documents
    ),
    canon AS (
      SELECT content_hash, MIN(doc_id) AS canonical_id
      FROM h GROUP BY content_hash
    )
    SELECT h.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id <> c.canonical_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_copies,
           ROUND(SUM(CASE WHEN h.doc_id <> c.canonical_id THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS dup_rate
    FROM h JOIN canon c ON h.content_hash = c.content_hash
    GROUP BY h.source
    """,
)
def c38_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication audit: the fraction of each source's
    documents that are non-canonical exact copies (canonical = min
    doc_id per content hash) -- the table that tells you WHICH feed is
    flooding the corpus with mirrors before you debug why dedup keeps
    shrinking it. Two hash aggs + one join keyed by content hash."""
    docs = _docs(spark, sf_dir)
    h = docs.select(
        "doc_id", "source", F.sha2(F.col("text"), 256).alias("content_hash")
    )
    canon = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id")
    )
    return (
        h.join(canon, "content_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("doc_id") != F.col("canonical_id"), 1).otherwise(
                    0
                )
            ).alias("n_dup_copies"),
        )
        .withColumn(
            "dup_rate", F.round(F.col("n_dup_copies") / F.col("n_docs"), 6)
        )
    )


@register(
    "c39_label_centroids",
    """
    WITH comp AS (
      SELECT e.label, i.i AS dim,
             CAST(e.embedding[i.i] AS DOUBLE) AS v
      FROM embeddings e, LATERAL (
        SELECT unnest(range(1, len(e.embedding) + 1)) AS i
      ) i
    )
    SELECT label, dim,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(ROUND(v * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / (1000000.0 * COUNT(*)) AS centroid_coord
    FROM comp GROUP BY label, dim
    """,
)
def c39_label_centroids(spark, sf_dir):
    """Per-label embedding centroids, dimension-wise -- the codebook
    builder behind the IVF index (c04) exposed as its own operator.
    posexplode keys the shuffle by (label, dim) so every dimension
    aggregates in parallel; float coords widen to double exactly, fold
    through ROUND-to-micros fixed point (order-independent), and the
    mean is one IEEE division. Output is (label, dim) scalar rows --
    no array columns, fully hash-checkable."""
    emb = _emb(spark, sf_dir)
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "v"
        ),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.sum(F.round(F.col("v") * 1000000, 0).cast("bigint")).cast(
                "double"
            )
            / (F.lit(1000000.0) * F.count(F.lit(1)))
        ).alias("centroid_coord"),
    )


@register(
    "c40_hard_negatives",
    """
    WITH dims AS (SELECT unnest(generate_series(1,
      (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d),
    planes AS (
      SELECT pp.p, dims.d,
             CASE WHEN substr(md5('c40srp|' || pp.p || '|' || dims.d), 1, 1)
                       <= '7'
                  THEN 1 ELSE -1 END AS r
      FROM (SELECT unnest(generate_series(0, 31)) AS p) pp, dims
    ),
    comps AS (
      SELECT vec_id, label, dims.d,
             CAST(ROUND(CAST(embedding AS DOUBLE[])[dims.d] * 1000000, 0)
                  AS BIGINT) AS qv
      FROM embeddings, dims
    ),
    bits AS (
      SELECT c.vec_id, c.label, pl.p,
             CASE WHEN SUM(pl.r * c.qv) >= 0 THEN 1 ELSE 0 END AS bit
      FROM comps c JOIN planes pl ON pl.d = c.d
      GROUP BY c.vec_id, c.label, pl.p
    ),
    bands AS (
      SELECT vec_id, label, p // 8 AS band,
             SUM(bit * (1 << (p % 8))) AS band_val
      FROM bits GROUP BY vec_id, label, p // 8
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS negative_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.label <> b.label
    ),
    scored AS (
      SELECT c.anchor_id, c.negative_id,
             ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 4) AS sim
      FROM cands c
      JOIN embeddings ea ON ea.vec_id = c.anchor_id
      JOIN embeddings eb ON eb.vec_id = c.negative_id
    )
    SELECT anchor_id, negative_id, sim FROM (
      SELECT scored.*,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY sim DESC, negative_id) AS rnk
      FROM scored
    ) r WHERE rnk = 1
    """,
)
def c40_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: each anchor's
    most-similar vector from a DIFFERENT label among its SRP-bucket
    candidates (the negatives that actually teach the model). The
    registered form is the SCALE path: candidates come from 4 bands x
    8 bits of deterministic Rademacher SRP signatures (bucket
    equi-join, shuffled by (band, band_val) -- never an all-pairs
    cross-label join), then the exact-cosine per-anchor rank picks the
    hardest in-bucket negative. Integer fixed-point projections make
    the buckets bit-identical in DuckDB, so the oracle replays the
    whole plan hash-exactly; the former all-pairs form survives as
    similarity.hard_negatives_exact, the recall-floor baseline in
    tests/test_properties.py. Per-anchor window over in-bucket
    candidates only, never a global sort."""
    from ..catalog import embedding_dim

    return S.hard_negatives_srp(
        _emb(spark, sf_dir),
        n_planes=32,
        n_bands=4,
        tag="c40srp",
        dim=embedding_dim(sf_dir),
    )


@register(
    "c41_curriculum_order",
    """
    WITH scored AS (
      -- band IS NOT NULL on both sides: a NULL-text doc has a NULL
      -- band, which Spark's running-sum window orders FIRST and
      -- DuckDB LAST -- shifting EVERY band_offset. NULL-band rows
      -- drop at the final equi-join anyway, so excluding them before
      -- the window is result-identical and order-unambiguous.
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(string_split(text, ' ')) // 32 AS band
      FROM documents
      WHERE len(string_split(text, ' ')) IS NOT NULL
    ),
    within AS (
      SELECT doc_id, n_tokens, band,
             -- sentinel INSIDE the hash (c37's convention): DuckDB
             -- concat() skips NULL args, Spark propagates -- coalesce
             -- the input so both engines hash the same sentinel
             ROW_NUMBER() OVER (PARTITION BY band
                                ORDER BY md5(concat('cur-1|',
                                               COALESCE(CAST(doc_id AS VARCHAR),
                                                        chr(0)))),
                                         COALESCE(CAST(doc_id AS VARCHAR),
                                                  chr(0))) AS pos_in_band
      FROM scored
    ),
    offsets AS (
      SELECT band,
             CAST(SUM(COUNT(*)) OVER (ORDER BY band
                                      ROWS UNBOUNDED PRECEDING)
                  - COUNT(*) AS BIGINT) AS band_offset
      FROM within GROUP BY band
    )
    SELECT w.doc_id, w.band, w.n_tokens,
           CAST(o.band_offset + w.pos_in_band AS BIGINT) AS curriculum_pos
    FROM within w JOIN offsets o ON w.band = o.band
    """,
)
def c41_curriculum_order(spark, sf_dir):
    """Curriculum ordering: a global training position where documents
    appear shortest-band-first (easy -> hard) and hash-shuffled WITHIN
    each difficulty band (so 'ordered by difficulty' never means
    'sorted by length' -- batches stay diverse inside a band). The
    global position is banded-prefix-sum arithmetic: per-band windows
    + a broadcast offset table over band counts; no global sort ever
    touches the corpus."""
    from pyspark.sql import Window as Wnd

    docs = _docs(spark, sf_dir)
    scored = (
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        )
        .withColumn("band", F.floor(F.col("n_tokens") / 32))
        # mirrored in the oracle: NULL bands out before any window (see
        # the oracle comment -- NULLS FIRST/LAST would shift offsets)
        .filter(F.col("band").isNotNull())
    )
    # sentinel INSIDE the hash (c37's convention): Spark concat
    # propagates NULL, DuckDB skips it -- coalesce the input so both
    # engines hash the identical chr(0) sentinel (hash never NULL)
    key = F.md5(
        F.concat(
            F.lit("cur-1|"),
            F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00")),
        )
    )
    w = Wnd.partitionBy("band").orderBy(
        key.asc(),
        F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00")),
    )
    within = scored.withColumn(
        "pos_in_band", F.row_number().over(w).cast("bigint")
    )
    totals = scored.groupBy("band").agg(F.count(F.lit(1)).alias("n_in_band"))
    off_w = Wnd.orderBy("band").rowsBetween(
        Wnd.unboundedPreceding, Wnd.currentRow
    )
    offsets = totals.withColumn(
        "band_offset",
        (F.sum("n_in_band").over(off_w) - F.col("n_in_band")).cast("bigint"),
    ).select("band", "band_offset")
    return (
        within.join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "band",
            "n_tokens",
            (F.col("band_offset") + F.col("pos_in_band")).alias(
                "curriculum_pos"
            ),
        )
    )


@register(
    "c42_best_copy_canonical",
    f"""
    WITH RECURSIVE {_NEARDUP_COMPONENT_CTES},
    comp AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(LEAST(d.doc_id, MIN(r.v)), d.doc_id) AS component
      FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id, d.n_chars
    )
    SELECT component,
           COUNT(*) AS n_members,
           MAX([n_chars, -doc_id])[2] * -1 AS kept_doc_id,
           MAX([n_chars, -doc_id])[1] AS kept_n_chars
    FROM comp
    GROUP BY component
    """,
)
def c42_best_copy_canonical(spark, sf_dir):
    """Best-copy canonicalization: within each near-dup cluster keep
    the LONGEST member (ties -> lowest doc_id), not merely the first --
    the curation policy that prefers the complete article over its
    truncated mirror. Components come from the same label-propagation
    pass as c02; the winner is an argmax via struct-max (single hash
    agg, no window sort). Oracle picks the same winner with a
    lexicographic list-max."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, n=2, block_col="lang", threshold=0.5)
    comp = D.neardup_components(docs, pairs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid")))
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        (best.getField("nid") * -1).alias("kept_doc_id"),
        best.getField("n_chars").alias("kept_n_chars"),
    )


@register(
    "c43_language_purity",
    """
    WITH hits AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['the','a','of','and','to','in','is',
                                     'it','for','on'], t))) AS en_hits,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['el','la','de','y','en','es','un',
                                     'una','por','que'], t))) AS es_hits,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['der','die','das','und','ist','ein',
                                     'zu','mit','von','auf'], t))) AS de_hits
      FROM documents
    )
    SELECT doc_id, lang, en_hits, es_hits, de_hits,
           (GREATEST(en_hits, es_hits, de_hits) > 0 AND
            2 * (en_hits + es_hits + de_hits
                 - GREATEST(en_hits, es_hits, de_hits))
              >= GREATEST(en_hits, es_hits, de_hits)) AS mixed_language
    FROM hits
    """,
)
def c43_language_purity(spark, sf_dir):
    """Code-switching / language-noise flag: a document whose
    second-and-below stopword evidence totals at least half its best
    language's evidence is marked mixed -- the purity screen run
    before per-language quality gates (a mixed doc poisons both
    languages' statistics). Pure per-row array expressions, zero
    shuffle; the flag is integer arithmetic (2*rest >= best), no
    float ratio to diverge."""
    from ..functions.text import _stopword_hits

    # canonical stopword-hit expression; see c18's note
    en, es, de = (_stopword_hits(lg) for lg in ("en", "es", "de"))
    best = F.greatest(en, es, de)
    rest = en + es + de - best
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        ((best > 0) & (2 * rest >= best)).alias("mixed_language"),
    )


@register(
    "c44_token_concentration",
    """
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    cut AS (
      -- rounded to 6dp before the compare: Spark's percentile and
      -- DuckDB's quantile_cont interpolate in different orders, and a
      -- 1-ulp difference at an integer-valued p90 would classify
      -- boundary docs differently (the c06 percentile convention)
      SELECT ROUND(quantile_cont(n_tokens, 0.9), 6) AS p90 FROM sized
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN s.n_tokens > c.p90
                         THEN s.n_tokens ELSE 0 END) AS BIGINT)
             AS top_decile_tokens,
           ROUND(SUM(CASE WHEN s.n_tokens > c.p90
                          THEN s.n_tokens ELSE 0 END)
                 / SUM(s.n_tokens), 6) AS top_decile_share
    FROM sized s, cut c
    """,
)
def c44_token_concentration(spark, sf_dir):
    """Token-mass concentration: what share of the corpus' tokens
    lives in the longest ~10% of documents -- the budget-planning
    audit (a top-heavy corpus means token quotas and length caps bite
    long before doc-count quotas do). One percentile agg broadcast
    back + one conditional-sum pass; exact integer sums, one
    division."""
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    cut = sized.agg(
        F.round(F.expr("percentile(n_tokens, 0.9)"), 6).alias("p90")
    )
    return (
        sized.crossJoin(F.broadcast(cut))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(
                    F.col("n_tokens") > F.col("p90"), F.col("n_tokens")
                ).otherwise(0)
            ).alias("top_decile_tokens"),
        )
        .withColumn(
            "top_decile_share",
            F.round(
                F.col("top_decile_tokens") / F.col("total_tokens"), 6
            ),
        )
    )


@register(
    "c45_lexical_diversity",
    """
    WITH per_doc AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types,
             len(string_split(text, ' ')) // 64 AS band
      FROM documents
    )
    SELECT band,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_types) AS BIGINT) AS total_types,
           ROUND(SUM(n_types) / SUM(n_tokens), 6) AS mean_ttr
    FROM per_doc GROUP BY band
    """,
)
def c45_lexical_diversity(spark, sf_dir):
    """Lexical diversity (type-token ratio) by length band: TTR falls
    with document length by construction, so the meaningful diagnostic
    is the per-band curve -- a band whose TTR collapses is template or
    looping text even when its quality scores look fine. Per-row array
    ops (no shuffle) + one band-keyed agg; the ratio is exact-int /
    exact-int."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    per = docs.select(
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_types"),
    ).withColumn("band", F.floor(F.col("n_tokens") / 64))
    return per.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_types").alias("total_types"),
        F.round(F.sum("n_types") / F.sum("n_tokens"), 6).alias("mean_ttr"),
    )


@register(
    "c46_importance_sample",
    """
    WITH w AS (
      -- sentinel INSIDE the hash (c37's convention): DuckDB concat()
      -- skips NULL args, Spark propagates -- a raw CAST would give a
      -- NULL doc_id a real coin here but a NULL (always-dropped) coin
      -- on the Spark side
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(concat('0x', substr(md5(concat('imp-1|',
               COALESCE(CAST(doc_id AS VARCHAR), chr(0)))), 1, 8))
               AS BIGINT) / 4294967296.0
               AS u
      FROM documents
    )
    SELECT doc_id, n_tokens,
           ROUND(n_tokens / (n_tokens + 200.0), 6) AS accept_prob
    FROM w
    WHERE u < n_tokens / (n_tokens + 200.0)
    """,
)
def c46_importance_sample(spark, sf_dir):
    """Importance (weighted) sampling: each document is accepted with
    probability n_tokens / (n_tokens + 200) -- longer docs
    proportionally more likely, the DSIR-style reweighting shape with
    a length-based importance weight. The coin is the salted-md5
    uniform (deterministic across engines, partitionings, and reruns;
    re-running the pipeline reproduces the exact sample), the weight
    is one integer ratio; acceptance is a per-row comparison, zero
    shuffle."""
    docs = _docs(spark, sf_dir)
    # sentinel INSIDE the hash, mirrored in the oracle (c37/c41 and
    # sampling._bucket's convention): both engines hash the identical
    # chr(0) input, so a NULL doc_id gets the SAME coin on both sides
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("imp-1|"),
                        F.coalesce(
                            F.col("doc_id").cast("string"), F.lit("\x00")
                        ),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    n = F.size(F.split(F.col("text"), " ")).cast("bigint")
    prob = n / (n + F.lit(200.0))
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            u.alias("u"),
            prob.alias("p"),
        )
        .filter(F.col("u") < F.col("p"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("p"), 6).alias("accept_prob"),
        )
    )


@register(
    "c47_dataset_card",
    """
    WITH h AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_tokens,
             sha256(text) AS content_hash
      FROM documents
    ),
    canon AS (
      SELECT content_hash, MIN(doc_id) AS canonical_id
      FROM h GROUP BY content_hash
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(h.n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT h.source) AS n_sources,
           COUNT(DISTINCT h.lang) AS n_langs,
           CAST(SUM(CASE WHEN h.doc_id <> c.canonical_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dups,
           ROUND(SUM(CASE WHEN h.doc_id <> c.canonical_id THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS dup_rate,
           MIN(h.n_tokens) AS min_tokens,
           MAX(h.n_tokens) AS max_tokens,
           ROUND(SUM(h.n_tokens) / COUNT(*), 6) AS mean_tokens
    FROM h JOIN canon c ON h.content_hash = c.content_hash
    """,
)
def c47_dataset_card(spark, sf_dir):
    """The dataset card in one query: corpus size, token mass, source
    and language counts, exact-duplicate rate, and length envelope --
    the summary block a dataset release publishes, produced by one
    pass + one hash-keyed dedup join. Every number is an exact integer
    or a single division."""
    docs = _docs(spark, sf_dir)
    h = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )
    canon = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id")
    )
    j = h.join(canon, "content_hash")
    dup = F.when(F.col("doc_id") != F.col("canonical_id"), 1).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(dup).alias("n_exact_dups"),
        F.round(F.sum(dup) / F.count(F.lit(1)), 6).alias("dup_rate"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias(
            "mean_tokens"
        ),
    )


@register(
    "c48_ann_recall_report",
    """
    WITH qs AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    dims AS (SELECT unnest(generate_series(1,
      (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d),
    comps AS (
      SELECT label, dims.d,
             CAST(ROUND(CAST(embedding AS DOUBLE[])[dims.d] * 1000000, 0)
                  AS BIGINT) AS qvi
      FROM embeddings, dims
    ),
    cent AS (
      SELECT label, d,
             CAST(SUM(qvi) AS DOUBLE) / (1000000.0 * COUNT(*)) AS m
      FROM comps GROUP BY label, d
    ),
    centv AS (
      SELECT label, list(m ORDER BY d) AS centroid FROM cent GROUP BY label
    ),
    cranked AS (
      SELECT query_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(list_cosine_similarity(centroid, qv), 4) DESC,
                        label) AS crnk
      FROM centv, qs
    ),
    sims AS (
      SELECT q.query_id, e.vec_id, e.label,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.qv), 4) AS sim
      FROM embeddings e, qs q
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM sims) WHERE rnk <= 10
    ),
    approx AS (
      SELECT query_id, nprobe, vec_id FROM (
        SELECT s.query_id, np.nprobe, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id, np.nprobe
                                  ORDER BY s.sim DESC, s.vec_id) AS rnk
        FROM sims s
        JOIN cranked cr ON cr.query_id = s.query_id AND cr.label = s.label,
             (SELECT unnest([1, 3]) AS nprobe) np
        WHERE cr.crnk <= np.nprobe) WHERE rnk <= 10
    )
    SELECT CAST(a.query_id AS INTEGER) AS query_id,
           CAST(a.nprobe AS INTEGER) AS nprobe,
           CAST(COUNT(e.vec_id) AS INTEGER) AS n_hits,
           CAST(10 AS INTEGER) AS k,
           ROUND(COUNT(e.vec_id) / 10.0, 6) AS recall
    FROM approx a
    LEFT JOIN exact e
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY a.query_id, a.nprobe
    """,
)
def c48_ann_recall_report(spark, sf_dir):
    """ANN quality report: measured recall@10 of the IVF index against
    the exact brute-force top-10 for a panel of query vectors -- the
    index-tuning artifact (recall vs nprobe) produced by the engine
    itself rather than an offline script. Hash-exact: with fixed-point
    centroids and the rounded, tie-broken probe ranking the whole
    panel is deterministic, so the oracle replays exact and probed
    top-10 sets per (query, nprobe) and recomputes the same recall
    (rows-only before the c04 determinism upgrade). Panel queries run
    sequentially over cached inputs; each is a bounded top-k."""
    from ..functions.similarity import brute_topk, ivf_topk

    emb = _emb(spark, sf_dir).cache()
    rows = []
    try:
        for qid in (0, 1, 2, 3, 4):
            qv = emb.filter(F.col("vec_id") == qid).select(
                F.col("embedding").alias("qvec")
            )
            exact = {r["vec_id"] for r in brute_topk(emb, qv, k=10).collect()}
            for nprobe in (1, 3):
                approx = {
                    r["vec_id"]
                    for r in ivf_topk(emb, qv, k=10, nprobe=nprobe).collect()
                }
                rows.append(
                    (qid, nprobe, len(exact & approx), len(exact))
                )
    finally:
        # drop the panel cache even on a failed collect: a lingering
        # cached embeddings relation would hijack every later query's
        # parquet scan (and its pushed filters) in the shared session
        emb.unpersist(blocking=False)
    out = spark.createDataFrame(
        rows, "query_id int, nprobe int, n_hits int, k int"
    )
    return out.withColumn(
        "recall", F.round(F.col("n_hits") / F.col("k"), 6)
    )


@register(
    "c49_tokenizer_fertility",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_ish_tokens,
           ROUND(SUM(length(text))
                 / SUM(len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))), 6)
             AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def c49_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: characters per (BPE-ish
    regex) token -- the budgeting constant that converts a byte corpus
    into a token budget, and the per-language skew that decides
    whether a multilingual mixture is token-balanced or byte-balanced.
    Per-row regex counts (JVM codegen, the identical pattern text runs
    in the oracle) + one language-keyed agg of exact ints."""
    from ..functions.text import TOKEN_REGEX

    docs = _docs(spark, sf_dir)
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    ).cast("bigint")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias(
            "ws_tokens"
        ),
        F.sum(bpe).alias("bpe_ish_tokens"),
        F.round(
            F.sum(F.length("text").cast("bigint")) / F.sum(bpe), 6
        ).alias("chars_per_token"),
    )


# --------------------------------------------- learned coarse quantizer
#
# Lloyd's k-means as an iterative DataFrame algorithm (the IVF codebook
# LEARNED from the data -- functions/similarity.py kmeans_cells), made
# hash-certifiable by doing every distance and centroid update in
# fixed-point integer arithmetic: integer sums are order-independent, so
# Spark's partial-agg nondeterminism and DuckDB's single-threaded fold
# produce the SAME assignment bit-for-bit. The oracle is the unrolled
# Lloyd iteration as chained CTEs, generated below for a fixed
# (k, n_iter, scale).

from ..functions.similarity import (
    KM_ITER as _KM_ITER,
    KM_K as _KM_K,
    KM_NPROBE as _KM_NPROBE,
    KM_SCALE as _KM_SCALE,
    kmeans_oracle_ctes as _kmeans_ctes,
)


@register(
    "c50_kmeans_cells",
    "WITH "
    + _kmeans_ctes(_KM_K, _KM_ITER, _KM_SCALE)
    + """
    SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM af
    """,
    defer=True,
)
def c50_kmeans_cells(spark, sf_dir):
    """Lloyd's k-means (k=4, 2 iterations) hard assignment -- an
    ITERATIVE algorithm certified hash-exact against an unrolled-CTE
    oracle, like g10_pagerank. Centroids are a broadcast k-row table
    each round; the corpus is scanned, never shuffled by content; the
    centroid update shuffles k*dim partial sums regardless of corpus
    size. Fixed-point integer distances make the argmin reproducible
    across engines and partial-agg orders (functions/similarity.py
    kmeans_cells)."""
    cells = S.kmeans_cells(
        _emb(spark, sf_dir), k=_KM_K, n_iter=_KM_ITER, scale=_KM_SCALE
    )
    return cells.select("vec_id", F.col("cell").cast("int").alias("cell"))


@register(
    "c51_ivf_kmeans_topk",
    "WITH "
    + _kmeans_ctes(_KM_K, _KM_ITER, _KM_SCALE)
    + f"""
    , qint AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))
             AS qint
      FROM embeddings WHERE vec_id = 0
    ),
    probe AS (
      SELECT cell FROM (
        SELECT c.cell,
               ROUND(
                 CAST(list_sum(list_transform(range(len(c.cv)),
                        i -> c.cv[i+1] * q.qint[i+1])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(c.cv,
                        x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(q.qint,
                        x -> x * x)) AS DOUBLE))), 6) AS csim
        FROM c{_KM_ITER} c CROSS JOIN qint q
      ) t ORDER BY csim DESC, cell LIMIT {_KM_NPROBE}
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                        qv.qvec::DOUBLE[]), 4) AS sim
    FROM embeddings e
    JOIN af ON e.vec_id = af.vec_id
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                WHERE vec_id = 0) qv
    WHERE af.cell IN (SELECT cell FROM probe)
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    defer=True,
)
def c51_ivf_kmeans_topk(spark, sf_dir):
    """End-to-end learned-quantizer ANN, hash-certified: k-means cells
    (integer-exact) -> probe the 2 most query-similar centroids (cosine
    over the QUANTIZED centroids, so cell choice is engine-exact) ->
    exact cosine re-rank inside the probed cells only (the c04
    convention). The scan fraction is ~nprobe/k; at 100 TB the
    assignment is persisted PARTITIONED BY cell and the probe prunes
    partitions (functions/similarity.py ivf_kmeans_topk)."""
    return S.ivf_kmeans_topk(
        _emb(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k=10,
        ncells=_KM_K,
        n_iter=_KM_ITER,
        nprobe=_KM_NPROBE,
        scale=_KM_SCALE,
    )


@register(
    "c52_int8_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    gm AS (
      SELECT MAX(list_max(list_transform(qv, x -> abs(x)))) AS qmax FROM q
    ),
    q8 AS (
      SELECT vec_id,
             list_transform(qv,
               x -> CAST(FLOOR((254.0 * x + gm.qmax)
                               / (2.0 * gm.qmax)) AS BIGINT)) AS v8
      FROM q, gm
    ),
    qq AS (SELECT v8 AS qv8 FROM q8 WHERE vec_id = 0)
    SELECT c.vec_id,
           ROUND(
             CAST(list_sum(list_transform(range(len(c.v8)),
                    i -> c.v8[i+1] * qq.qv8[i+1])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(c.v8,
                    x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(qq.qv8,
                    x -> x * x)) AS DOUBLE))), 6) AS sim8
    FROM q8 c CROSS JOIN qq
    ORDER BY sim8 DESC, c.vec_id LIMIT 10
    """,
    defer=True,
)
def c52_int8_topk(spark, sf_dir):
    """Compressed-index ANN: symmetric int8 quantization on an
    integer-derived grid (global qmax scale, one broadcast scalar),
    then top-k by int8 cosine -- exact integer dot/norm folds, one
    float divide, ranking reproducible bit-for-bit across engines.
    The 4x-smaller index scan of the ANN family
    (functions/similarity.py int8_quantize/int8_topk)."""
    return S.int8_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


@register(
    "c53_entity_resolution",
    """
    WITH feed_a AS (
      SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS blk
      FROM customer
    ),
    feed_b AS (
      -- the dirty twin feed: ids re-keyed, names truncated by one char
      -- (a deterministic stand-in for the typos/truncation real feeds
      -- carry)
      SELECT c_custkey + 100000 AS b_id,
             substr(c_name, 1, length(c_name) - 1) AS b_name,
             c_nationkey AS blk
      FROM customer
    ),
    scored AS (
      SELECT b.b_id, b.b_name, a.a_id, a.a_name,
             CAST(levenshtein(a.a_name, b.b_name) AS INT) AS dist
      FROM feed_b b JOIN feed_a a USING (blk)
    ),
    best AS (
      SELECT b_id, b_name, a_id, a_name, dist,
             ROW_NUMBER() OVER (PARTITION BY b_id
                                ORDER BY dist, a_id) AS rn
      FROM scored
    )
    SELECT b_id, b_name, a_id AS matched_id, a_name AS matched_name, dist
    FROM best WHERE rn = 1
    """,
    defer=True,
)
def c53_entity_resolution(spark, sf_dir):
    """Entity resolution / record linkage: a dirty feed (re-keyed ids,
    truncated names) is linked back to the clean registry by BLOCKED
    fuzzy match -- candidate pairs only within a blocking key (nation
    here; phonetic/prefix buckets at scale), integer edit distance, and
    best-match-wins with deterministic ties (min distance, then min
    id). The quadratic step is confined to blocks exactly like C5's
    similarity join; the best-match argmin is one hash agg (min over a
    (dist, id, name) struct), no global window. Edit distance is an
    exact integer, so the linkage is hash-identical cross-engine."""
    register_views(spark, sf_dir)
    c = spark.table("customer")
    feed_a = c.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("blk"),
    )
    feed_b = c.select(
        (F.col("c_custkey") + 100000).alias("b_id"),
        F.expr("substr(c_name, 1, length(c_name) - 1)").alias("b_name"),
        F.col("c_nationkey").alias("blk"),
    )
    scored = feed_b.join(feed_a, "blk").withColumn(
        "dist", F.levenshtein("a_name", "b_name").cast("int")
    )
    best = scored.groupBy("b_id").agg(
        F.first("b_name").alias("b_name"),
        F.min(F.struct("dist", "a_id", "a_name")).alias("w"),
    )
    return best.select(
        "b_id",
        "b_name",
        F.col("w.a_id").alias("matched_id"),
        F.col("w.a_name").alias("matched_name"),
        F.col("w.dist").alias("dist"),
    )


@register(
    "c54_bigram_plausibility",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    transitions AS (
      SELECT doc_id, t[i] AS prev_tok, t[i + 1] AS next_tok
      FROM toks, LATERAL (
        SELECT unnest(range(1, GREATEST(len(t) - 1, 0) + 1)) AS i
      )
    ),
    cond AS (
      SELECT prev_tok, next_tok, COUNT(*) AS cnt
      FROM transitions GROUP BY 1, 2
    ),
    totals AS (
      SELECT prev_tok, SUM(cnt) AS total FROM cond GROUP BY 1
    ),
    probs AS (
      SELECT c.prev_tok, c.next_tok,
             ROUND(CAST(c.cnt AS DOUBLE) / t.total, 6) AS p
      FROM cond c JOIN totals t USING (prev_tok)
    )
    SELECT tr.doc_id,
           COUNT(*) AS n_transitions,
           CAST(SUM(CAST(ROUND(p.p * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS p_mass_6dp,
           CAST(SUM(CAST(ROUND(p.p * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*) AS avg_cond_prob
    FROM transitions tr
    JOIN probs p USING (prev_tok, next_tok)
    GROUP BY tr.doc_id
    """,
    defer=True,
)
def c54_bigram_plausibility(spark, sf_dir):
    """Bigram-LM document scoring: each doc's average corpus
    conditional probability over its token transitions -- the
    perplexity-filter stand-in that needs no model, c33's table turned
    into a per-doc curation signal. Deliberately probability-mass (not
    log) so the score is integer-ratio-exact cross-engine; see
    functions/text.py:bigram_plausibility for the 100 TB shape."""
    return X.bigram_plausibility(_docs(spark, sf_dir))


@register(
    "c55_semantic_dedup",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 4) >= 0.4
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT e.vec_id,
             COALESCE(LEAST(e.vec_id, MIN(r.v)), e.vec_id) AS keeper_id
      FROM embeddings e LEFT JOIN reach r ON r.u = e.vec_id
      GROUP BY e.vec_id
    ),
    sizes AS (
      SELECT keeper_id AS k2, COUNT(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT c.vec_id, c.keeper_id, s.cluster_size,
           c.vec_id = c.keeper_id AS is_keeper
    FROM comp c JOIN sizes s ON s.k2 = c.keeper_id
    """,
    defer=True,
)
def c55_semantic_dedup(spark, sf_dir):
    """SemDeDup end-to-end: embedding-cosine near-dup pairs (blocked
    by cluster -- the label column here, k-means cells at scale) ->
    connected components -> one keeper per semantic cluster, with the
    cluster size and a keep/drop flag per vector. The full semantic
    dedup decision a curation pipeline applies before training, in
    one certified op: c02_embedding_neardup finds the pairs, the
    hash-to-min propagation from c02_neardup_components resolves
    transitive clusters, and the keeper rule (min vec_id) is
    deterministic. Quadratic work stays inside blocks; components
    cost O(diameter) shuffles on a pair list linear in corpus size.
    Oracle: DuckDB recursive-CTE transitive closure."""
    emb = _emb(spark, sf_dir)
    pairs = S.blocked_similarity_join(emb, threshold=0.4).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = D.neardup_components(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("component").alias("keeper_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("component")).alias("is_keeper"),
        )
    )


@register(
    "c56_zipf_curve",
    """
    WITH tf AS (
      SELECT tok, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM tf ORDER BY cnt DESC, tok LIMIT 100
    ),
    mx AS (SELECT MAX(cnt) AS mc FROM top)
    SELECT rnk, tok, cnt,
           CAST(rnk * cnt AS BIGINT) AS zipf_product,
           ROUND(CAST(cnt AS DOUBLE) / mc, 6) AS rel_freq
    FROM top, mx
    """,
    defer=True,
)
def c56_zipf_curve(spark, sf_dir):
    """Corpus Zipf (rank-frequency) audit: top-100 terms with the
    rank*count product whose drift across ranks measures deviation
    from the Zipf law -- the natural-vs-synthetic-text / crawl-health
    check. Integer-exact outputs (no ln(); see
    functions/text.py:zipf_curve for why and for the top-k-then-rank
    plan shape)."""
    return X.zipf_curve(_docs(spark, sf_dir), k=100)


@register(
    "c57_pq_topk",
    "WITH "
    + S.pq_oracle_ctes()
    + """
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                        qv.qvec::DOUBLE[]), 4) AS sim
    FROM embeddings e
    JOIN pq_cands c ON e.vec_id = c.vec_id
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                WHERE vec_id = 0) qv
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    defer=True,
)
def c57_pq_topk(spark, sf_dir):
    """Product-quantization ANN, hash-certified end to end: per-
    subspace codebooks trained in ONE Lloyd loop keyed by subspace
    (integer-exact), vectors encoded to 8 one-byte codes, asymmetric-
    distance scoring from a broadcast (m, code) partial-dot table, and
    exact cosine re-rank of the top-30 ADC candidates. The index the
    ADC scan reads is 32x smaller than the float corpus; at query
    time against a persisted code table no float vector is touched
    until the re-rank (functions/similarity.py pq_topk). Oracle: the
    full pipeline unrolled -- same seeds, same round-half-up means,
    same integer ADC, same tie-breaks."""
    return S.pq_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


@register(
    "c58_arrow_norms",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dims,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x))), 4) AS l2_norm
    FROM embeddings
    """,
    defer=True,
)
def c58_arrow_norms(spark, sf_dir):
    """The Arrow-native batch lane: c09's vector norms computed via
    ``mapInArrow`` -- RecordBatches cross the JVM/Python boundary with
    zero pandas materialization (the lane multimodal codecs upgrade to
    when pandas conversion itself becomes the bottleneck; same batch
    streaming discipline as c09's mapInPandas). The Python side
    accumulates each row's squares SEQUENTIALLY in float64,
    reproducing the engines' left-fold exactly, so the same oracle
    certifies both lanes. At 100 TB: one narrow pass, Arrow batch in /
    Arrow batch out, no shuffle."""
    import pyarrow as pa

    def norms(batches):
        for rb in batches:
            vec_ids = rb.column("vec_id").to_pylist()
            labels = rb.column("label").to_pylist()
            embs = rb.column("embedding").to_pylist()
            dims, l2 = [], []
            for v in embs:
                s = 0.0
                for x in v:
                    fx = float(x)
                    s += fx * fx
                dims.append(len(v))
                l2.append(round(s**0.5, 4))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, pa.int64()),
                    pa.array(labels, pa.int32()),
                    pa.array(dims, pa.int32()),
                    pa.array(l2, pa.float64()),
                ],
                ["vec_id", "label", "dims", "l2_norm"],
            )

    emb = _emb(spark, sf_dir)
    return emb.mapInArrow(
        norms, "vec_id long, label int, dims int, l2_norm double"
    )


@register(
    "c59_source_centroid_drift",
    """
    WITH de AS (
      SELECT d.source,
             list_transform(e.embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS qv
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    comp AS (
      SELECT source, pos, SUM(x) AS s, COUNT(*) AS n
      FROM (SELECT source, unnest(qv) AS x,
                   unnest(range(len(qv))) AS pos FROM de)
      GROUP BY source, pos
    ),
    cents AS (
      SELECT source,
             list(CAST(FLOOR((2.0 * s + n) / (2.0 * n)) AS BIGINT)
                  ORDER BY pos) AS cv
      FROM comp GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(
             CAST(list_sum(list_transform(range(len(a.cv)),
                    i -> a.cv[i+1] * b.cv[i+1])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(a.cv, x -> x * x))
                          AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(b.cv, x -> x * x))
                            AS DOUBLE))), 6) AS centroid_cosine
    FROM cents a JOIN cents b ON a.source < b.source
    """,
    defer=True,
)
def c59_source_centroid_drift(spark, sf_dir):
    """Distribution-shift audit across corpus sources: each source's
    embedding centroid (fixed-point round-half-up means, the c50
    discipline -- so the centroids are bit-identical cross-engine)
    and the pairwise cosine between source centroids. Centroids far
    apart flag feeds that cover different content than the mixture
    assumes -- the cheap drift check run before re-weighting (c36/c25)
    and after every crawl refresh (c31). Shape at 100 TB: one
    posexplode keyed (source, pos) -- shuffle volume sources x dims
    regardless of corpus size -- then an all-pairs join over the
    handful of source centroids."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    emb = _emb(spark, sf_dir)
    de = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "source", S.fixed_point("embedding", 1_000_000).alias("qv")
    )
    cents = S.int_centroids(de, ["source"], "qv").localCheckpoint(eager=False)
    # ^ cents feeds BOTH sides of the pairwise self-join below:
    # uncheckpointed, Catalyst re-plans the docs-join + posexplode +
    # centroid agg subtree per side (audited: docs and embeddings each
    # scanned twice). The centroid table is one row per SOURCE -- a
    # handful of rows at any corpus size -- so materializing it is free
    # and the whole upstream pipeline runs once (round 12).
    a = cents.select(
        F.col("source").alias("source_a"), F.col("cv").alias("cva")
    )
    b = cents.select(
        F.col("source").alias("source_b"), F.col("cv").alias("cvb")
    )
    return a.join(b, F.col("source_a") < F.col("source_b")).select(
        "source_a",
        "source_b",
        # int_cosine's try_divide: a zero-norm source centroid (all
        # component means floor to 0) yields NULL like the oracle's
        # x/0 -> NULL, not an ANSI DIVIDE_BY_ZERO abort
        F.round(S.int_cosine(F.col("cva"), F.col("cvb")), 6).alias(
            "centroid_cosine"
        ),
    )


@register(
    "c60_bpe_merge_pairs",
    """
    WITH words AS (
      SELECT tok, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ),
    chars AS (
      SELECT tok, freq, i,
             substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b
      FROM words, LATERAL (
        SELECT unnest(range(1, length(tok))) AS i
      )
      WHERE length(tok) >= 2
    )
    SELECT a || b AS pair,
           CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM chars
    GROUP BY a || b
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
    defer=True,
)
def c60_bpe_merge_pairs(spark, sf_dir):
    """The first BPE training iteration: adjacent-character pair
    counts weighted by word frequency -- the statistic whose argmax
    becomes the tokenizer's first merge rule (then re-count, merge,
    repeat). The missing primitive between c35 (vocab coverage of an
    EXISTING tokenizer) and c49 (fertility of one): this is where a
    tokenizer comes FROM. Shape at 100 TB: the word-frequency table
    (one token hash agg) is already tiny vs the corpus; character
    pairs explode from IT, not from raw text -- each unique word
    contributes its pairs once, weighted, so the pair count shuffle
    is vocabulary-sized. Top-20 via TakeOrderedAndProject. Later
    iterations re-run the same plan over the merged symbol stream."""
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("tok") >= 2)
    )
    # substring with a dynamic start needs the SQL expression form
    # (the F.substring helper takes literal ints only)
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


@register(
    "c61_frame_sampling",
    """
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * 64 AS BIGINT) AS byte_off,
           md5(substr(text, i * 64 + 1, 32)) AS frame_md5
    FROM (SELECT doc_id, text, length(text) AS n FROM documents),
         LATERAL (SELECT unnest(range(0, 4)) AS i)
    WHERE i * 64 + 32 <= n
    """,
    defer=True,
)
def c61_frame_sampling(spark, sf_dir):
    """C9 frame-sampling lane: fixed-stride 32-byte "frames" sliced
    from each media blob (4 max) through the real mapInPandas batch
    machinery -- the deterministic stand-in for keyframe extraction,
    certified byte-exact against the text the media table is staged
    from (the fixture is ASCII, so char offsets == byte offsets in
    the oracle). functions/multimodal.py sample_frames documents the
    pyav/ffmpeg swap-in."""
    media = M.to_media_table(_docs(spark, sf_dir))
    return M.sample_frames(media)


@register(
    "c62_media_resize",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS orig_bytes,
           CAST((length(text) + 3) // 4 AS BIGINT) AS resized_bytes,
           md5(array_to_string(
             [substr(text, i, 1)
              for i in range(1, length(text) + 1, 4)], '')) AS resized_md5
    FROM documents
    """,
    defer=True,
)
def c62_media_resize(spark, sf_dir):
    """C9 resize lane: each media blob downsampled 4x (every 4th
    byte -- the deterministic stand-in for a Pillow resample, swap-in
    point documented in functions/multimodal.py resize_media) through
    the same mapInPandas Arrow-batch machinery; size + digest
    certified byte-exact against the staged source."""
    media = M.to_media_table(_docs(spark, sf_dir))
    return M.resize_media(media)


@register(
    "c63_ivfpq_topk",
    "WITH "
    + _kmeans_ctes(_KM_K, _KM_ITER, _KM_SCALE)
    + ","
    + S.pq_oracle_ctes()
    + f"""
    , ivfq AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))
             AS qint
      FROM embeddings WHERE vec_id = 0
    ),
    ivfprobe AS (
      SELECT cell FROM (
        SELECT c.cell,
               ROUND(
                 CAST(list_sum(list_transform(range(len(c.cv)),
                        i -> c.cv[i+1] * q.qint[i+1])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(c.cv,
                        x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(q.qint,
                        x -> x * x)) AS DOUBLE))), 6) AS csim
        FROM c{_KM_ITER} c CROSS JOIN ivfq q
      ) t ORDER BY csim DESC, cell LIMIT {_KM_NPROBE}
    ),
    ivfpq_cands AS (
      SELECT k.vec_id,
             CAST(SUM(a.pdot) AS DOUBLE)
             / (sqrt(CAST(GREATEST(SUM(a.pnorm), 1) AS DOUBLE))
                * sqrt(CAST((SELECT qn FROM pqqnorm) AS DOUBLE)))
               AS adc_sim
      FROM pqcodes k
      JOIN pqadc a ON k.m = a.m AND k.code = a.code
      JOIN af ON af.vec_id = k.vec_id
      WHERE af.cell IN (SELECT cell FROM ivfprobe)
      GROUP BY k.vec_id
      ORDER BY adc_sim DESC, k.vec_id LIMIT {S.IVFPQ_TOPC}
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                        qv.qvec::DOUBLE[]), 4) AS sim
    FROM embeddings e
    JOIN ivfpq_cands c ON e.vec_id = c.vec_id
    CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                WHERE vec_id = 0) qv
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
    defer=True,
)
def c63_ivfpq_topk(spark, sf_dir):
    """The production ANN composition (FAISS IVFPQ shape),
    hash-certified: the learned k-means coarse quantizer prunes to
    ~nprobe/ncells of the corpus, PQ codes ADC-score only the probed
    cells, exact cosine re-ranks the top-30. Per-query byte cost:
    (nprobe/ncells) x 8 bytes/vector + 30 floats -- IVF cuts WHAT is
    scanned, PQ cuts how much each scanned row costs. All fixed-point
    integer, so the composition certifies against the two unrolled
    oracles JOINED (functions/similarity.py ivfpq_topk documents the
    residual-encoding variant's drop-in point)."""
    return S.ivfpq_topk(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


@register(
    "c64_containment_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+3], ' ')
                            for i in range(1, greatest(len(t) - 3, 1) + 1)])
               AS gs
      FROM toks
    ),
    exploded AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.n_common, sa.sz AS size_a,
           ROUND(CAST(i.n_common AS DOUBLE) / sa.sz, 4) AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE ROUND(CAST(i.n_common AS DOUBLE) / sa.sz, 4) >= 0.8
    """,
    defer=True,
)
def c64_containment_pairs(spark, sf_dir):
    """ASYMMETRIC near-dup detection: containment |A∩B| / |A| over
    distinct 4-gram shingles -- the measure that catches "B quotes
    all of A" (a short doc mirrored inside a long one), which
    size-normalized Jaccard (c02) scores near zero. Ordered pairs,
    both directions: A-contained-in-B and B-contains-A are different
    facts. Shape: one shingle-keyed equi-join generates only pairs
    that actually share a shingle (never all-pairs), one hash agg per
    ordered pair (``D.set_overlap``, sizes in-row). At 100 TB the join
    key is the shingle hash and hot boilerplate shingles are dropped
    first (the c27/c32 screen) exactly as in cross-source overlap
    (c30)."""
    docs = _docs(spark, sf_dir)
    # materialized once: exploded feeds BOTH sides of the
    # set_overlap self-join (whose docstring carries the in-row size
    # rationale); |A| is sz_a
    exploded = D.gram_rows(
        docs, 4, F.col("doc_id").alias("id")
    ).localCheckpoint()
    return (
        D.set_overlap(exploded, exploded, ["g"], operator.ne)
        .withColumn(
            "containment",
            F.round(F.col("n_common").cast("double") / F.col("sz_a"), 4),
        )
        .filter(F.col("containment") >= 0.8)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "n_common",
            F.col("sz_a").alias("size_a"),
            "containment",
        )
    )


# the c65 sparse-retrieval leg, ONE definition for both engines:
# c66's fusion reuses these verbatim so the fused ranking can never
# drift from the lexical leg it claims to fuse
_SPARSE_QTERMS = ["table", "scan", "fast"]

# the unnest literal is BUILT from _SPARSE_QTERMS so the oracle can
# never drift from the query list the Spark leg actually filters on
# (the copy-drift failure mode _JACCARD_CAND_CTES documents)
_SPARSE_QTERMS_SQL = ", ".join(f"'{t}'" for t in _SPARSE_QTERMS)

_SPARSE_SQL_CTES = f"""
    corpus AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT d.doc_id, tok.t AS term, COUNT(*) AS tf
      FROM documents d,
           LATERAL (SELECT unnest(string_split(d.text, ' ')) AS t) tok
      JOIN (SELECT unnest([{_SPARSE_QTERMS_SQL}]) AS term) q
        ON tok.t = q.term
      GROUP BY d.doc_id, tok.t
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    sparse_scored AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(ROUND(
               (t.tf * CAST((SELECT n FROM corpus) AS DOUBLE) / f.df)
               * 1000000, 0) AS BIGINT)) AS BIGINT) AS score_fp
      FROM tf t JOIN df f ON t.term = f.term
      GROUP BY t.doc_id
    )"""


def _sparse_scores(docs):
    """tf x linear-idf fixed-point scores per doc (see
    c65_lexical_retrieval's docstring for the linear-not-log idf and
    fixed-point rationale).

    tf (tiny: docs x the 3 query terms) feeds BOTH the df agg and the
    score join; the lazy localCheckpoint (round 12) materializes it
    once, so the corpus scan+explode+filter runs once instead of per
    consumer. df simplifies to COUNT(*) over tf (one row per
    (doc, term))."""
    n_corpus = docs.groupBy().agg(F.count(F.lit(1)).alias("n"))
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term").isin(_SPARSE_QTERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND((tf * CAST(n AS DOUBLE) / df)"
                    " * 1000000, 0) AS BIGINT)"
                )
            ).alias("score_fp")
        )
    )


@register(
    "c65_lexical_retrieval",
    f"""
    WITH {_SPARSE_SQL_CTES.lstrip()}
    SELECT doc_id, score_fp FROM sparse_scored
    ORDER BY score_fp DESC, doc_id LIMIT 20
    """,
    defer=True,
)
def c65_lexical_retrieval(spark, sf_dir):
    """SPARSE retrieval -- the lexical baseline next to the dense ANN
    family (c04/c51/c57/c63): documents scored for a fixed term query
    by tf x linear idf (N/df). Deliberately LINEAR idf, not log: ln()
    is not correctly-rounded cross-engine (see bigram_plausibility),
    and for a fixed small query the ranking is idf-monotone either
    way; scores are fixed-point longs so the top-20 is hash-exact.
    Shape at 100 TB: the corpus scan keeps ONLY postings matching the
    broadcast query terms (an inverted index replaces the scan in a
    serving deployment -- this is the query-time math on top of it),
    df is a 3-row aggregate, one doc-keyed sum, top-k via
    TakeOrderedAndProject. BM25's saturation/length terms drop into
    the same expression."""
    return (
        _sparse_scores(_docs(spark, sf_dir))
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(20)
    )


@register(
    "c66_hybrid_rrf_fusion",
    f"""
    WITH dense AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_cosine_similarity(
                 e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 4) DESC,
               vec_id) AS rnk
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                  WHERE vec_id = 0) q
      ORDER BY rnk LIMIT 20
    ),
    {_SPARSE_SQL_CTES.lstrip()},
    sparse AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rnk
      FROM sparse_scored ORDER BY rnk LIMIT 20
    )
    SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
           d.rnk AS dense_rank, s.rnk AS sparse_rank,
           ROUND(COALESCE(1.0 / (60 + d.rnk), 0.0)
                 + COALESCE(1.0 / (60 + s.rnk), 0.0), 6) AS rrf_score
    FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    defer=True,
)
def c66_hybrid_rrf_fusion(spark, sf_dir):
    """HYBRID retrieval: the modern serving stack's fusion step --
    dense top-20 (exact cosine, c04's path) and sparse top-20 (tf x
    linear idf, c65's path) merged by reciprocal-rank fusion,
    score = Σ 1/(60 + rank). RRF needs only RANKS, so it composes any
    retrievers without score calibration -- and ranks are integers,
    making the fused ordering hash-exact where score-level fusion
    would inherit both retrievers' float scales. Each leg's rank
    window runs over its own top-k (20 rows), never the corpus; the
    fusion join touches <= 40 rows. doc_id == vec_id links the
    fixture's two modalities (the c02_embedding_neardup convention)."""
    from pyspark.sql import Window as Wnd2

    emb, qv = _emb(spark, sf_dir), _query_vec(spark, sf_dir)
    dense = (
        S.brute_topk(emb, qv, k=20)
        .coalesce(1)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Wnd2.orderBy(F.desc("sim"), "vec_id"))
            .alias("rnk"),
        )
    )
    sparse = (
        _sparse_scores(_docs(spark, sf_dir))
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(20)
        .coalesce(1)
        .select(
            "doc_id",
            F.row_number()
            .over(Wnd2.orderBy(F.desc("score_fp"), "doc_id"))
            .alias("rnk"),
        )
    )
    d, s_ = dense.alias("d"), sparse.alias("s")
    return (
        d.join(s_, F.col("d.doc_id") == F.col("s.doc_id"), "full_outer")
        .select(
            F.coalesce(F.col("d.doc_id"), F.col("s.doc_id")).alias(
                "doc_id"
            ),
            F.col("d.rnk").alias("dense_rank"),
            F.col("s.rnk").alias("sparse_rank"),
            F.round(
                F.coalesce(1.0 / (60 + F.col("d.rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("s.rnk")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
    )
