"""Deduplication operators (SURVEY.md C1, C2 + the north star's
MinHash / SimHash / n-gram-Jaccard surface).

Scale design:
- exact dedup: hash-groupBy on a content digest -- one shuffle keyed by
  the digest, min-id winner; never a window sort when only the winner
  id is needed.
- MinHash+LSH: shingle -> NUM_HASHES seeded min-hashes -> band to
  NUM_BANDS buckets -> candidate pairs only within a bucket. The
  quadratic step is confined to bucket-local joins; at 100 TB bucket
  sizes stay bounded because the band hash spreads uniformly.
- SimHash: 60-bit signature entirely JVM-side -- one md5_int60 per
  token, per-bit majority vote as 60 codegen'd conditional sums;
  candidate pairs = exact-signature buckets, or Hamming<=r via
  pigeonhole banding (r+1 chunks, bucket-local join, exact
  bit_count(xor) filter).
- n-gram Jaccard: exact set similarity on blocked candidate pairs;
  SQL-expressible, so fully oracle-checked. Its pairs come from
  ``set_overlap``, the exact set-overlap join shared with the c15
  screen, c64 containment and g15 link prediction.

One hash family: every token hash is ``md5_int60`` (md5-derived, so a
DuckDB oracle replays MinHash signatures, LSH band keys and SimHash
signatures value-for-value).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import RoundLane
from .text import tokens

NUM_HASHES = 32
NUM_BANDS = 8  # 4 hashes per band


def exact_dedup(docs: DataFrame) -> DataFrame:
    """C1: exact dedup by sha256(text); winner = min doc_id. Returns
    (content_hash, doc_id, n_copies). sha2(NULL) is NULL and groupBy
    treats NULLs as equal, which would silently merge every NULL-text
    document into one "duplicate" cluster whose losers a curation
    pipeline then drops -- contents that were never compared. A
    secondary null-only group key keeps each NULL-text doc its own
    singleton (mirrored in the SQL oracle)."""
    return (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .groupBy(
            "content_hash",
            F.when(F.col("content_hash").isNull(), F.col("doc_id")).alias(
                "_null_key"
            ),
        )
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("content_hash", "doc_id", "n_copies")
    )


def prefix_key_dedup(docs: DataFrame, n_tokens: int = 3) -> DataFrame:
    """C1 variant exercising real collisions on the fixture: dedup key =
    first n tokens. Winner = min doc_id per key (hash agg, no window).

    NULL text yields a NULL prefix_key kept as a SINGLETON (same
    null-key contract as exact_dedup; concat_ws over a NULL array
    previously produced '', silently merging NULL-text docs with each
    other AND with genuinely-empty docs while the oracle's
    array_to_string(NULL) stayed NULL)."""
    key = F.concat_ws(" ", F.slice(tokens(), 1, n_tokens))
    pk = F.when(F.col("text").isNull(), F.lit(None).cast("string")).otherwise(
        F.md5(key)
    )
    return (
        docs.select(pk.alias("prefix_key"), "doc_id")
        .groupBy(
            "prefix_key",
            F.when(F.col("prefix_key").isNull(), F.col("doc_id")).alias(
                "_null_key"
            ),
        )
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("prefix_key", "doc_id", "n_docs")
    )


def token_ngrams(col: Column | str = "text", n: int = 3) -> Column:
    """n-token shingles (word n-grams) as an array of strings.

    NULL text yields NULL (not the single shingle [""] that concat_ws
    over a NULL slice would fabricate): a NULL-text doc must stay a
    SINGLETON through every dedup/containment/contamination lane --
    the family-wide contract exact_dedup/prefix_key_dedup already
    honor -- and the DuckDB oracles agree (array_to_string(NULL) is
    NULL there, which never equi-joins).

    Linear in the token count: gram i is row i of ``n`` shifted
    slices zipped together, ``arrays_zip(slice(t, 1, w), ...,
    slice(t, n, w))`` with ``w = greatest(size(t) - (n - 1), 1)``, so
    the ``transform`` lambda only joins struct fields. A lambda that
    slices ``t`` itself inlines ``split(text)`` into its body and
    re-splits the whole text at every position (O(tokens^2) per doc;
    the hazard rolled_ngram_hashes' docstring names). A doc shorter
    than ``n`` tokens still gives its one shorter gram: arrays_zip
    pads the empty tail slices with NULLs, which concat_ws skips."""
    t = tokens(col)
    w = F.greatest(F.size(t) - (n - 1), F.lit(1))
    z = F.arrays_zip(*[F.slice(t, i, w) for i in range(1, n + 1)])
    return F.when(
        t.isNotNull(),
        F.array_distinct(
            F.transform(
                z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
            )
        ),
    )


def gram_rows(docs: DataFrame, n: int, *cols: Column | str) -> DataFrame:
    """``(*cols, sz, g)``: one row per distinct n-gram ``g`` of each
    doc's text, ``sz`` being the doc's distinct-gram count -- the
    ``set_overlap`` input shape. NULL text gives no rows.

    ``explode_outer`` plus a NULL filter, not ``explode``: for a plain
    explode Spark infers a ``size(gs) > 0`` filter and pushes it below
    the projection that names ``gs``, inlining the gram expression so
    every row builds its grams twice."""
    base = docs.select(*cols, token_ngrams(n=n).alias("gs"))
    return (
        base.select(
            *base.columns[:-1],
            F.size("gs").alias("sz"),
            F.explode_outer("gs").alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )


# Mersenne prime 2^31-1: universal-hash family (a*h + b) mod P stays
# within 62 bits for a,b,h < P, so no long overflow under ANSI mode.
_MERSENNE31 = 2_147_483_647


def md5_int60(c: Column) -> Column:
    """The 60-bit integer hash both engines compute identically: the
    first 15 hex digits of md5, parsed as an integer (Spark:
    conv(_, 16, 10); DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS
    BIGINT)). 15 digits keep the value inside BIGINT in both. The one
    home of this hash: the MinHash/SimHash token hashes and the b72/s16
    table fingerprints all call it."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_hashes(col: Column | str = "text") -> Column:
    """Per-token hash array reduced mod P: one md5_int60 per token, so
    a SQL oracle can replay every downstream MinHash value
    bit-for-bit."""
    return F.transform(
        tokens(col), lambda x: F.pmod(md5_int60(x), F.lit(_MERSENNE31))
    )


def rolled_ngram_hashes(th: Column, n: int = 3) -> Column:
    """n-token shingle *hashes* from an already-materialized token-hash
    array column -- no per-ngram string allocation (which dominates the
    string-shingle path's cost). ``th`` MUST be a plain column
    reference: embedding the token-hash transform expression here would
    re-evaluate the whole array per position (O(tokens^2)). Out-of-range
    positions (docs shorter than n tokens) contribute 0 via
    try_element_at, yielding one shorter-tail shingle like the string
    path."""
    cnt = F.size(th) - (n - 1)

    def _roll(i: Column) -> Column:
        acc = F.coalesce(F.try_element_at(th, i), F.lit(0))
        for j in range(1, n):
            nxt = F.coalesce(F.try_element_at(th, i + F.lit(j)), F.lit(0))
            acc = F.pmod(acc * F.lit(1_000_003) + nxt, F.lit(_MERSENNE31))
        return acc

    # NULL token-hash array (NULL text) yields NULL, NOT the constant
    # all-zero shingle [0] -- that constant gave every NULL-text doc an
    # identical MinHash signature, so N such docs agreed on every LSH
    # band and emitted the full N*(N-1)/2 candidate clique (quadratic
    # at scale, and "duplicates" of contents never compared). NULL
    # keeps them singletons, the family contract.
    return F.when(
        th.isNotNull(),
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))), _roll)
        ),
    )


def minhash_mix_constants(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """The deterministic (a_i, b_i) universal-hash seeds shared by the
    Spark mixes AND the DuckDB oracle SQL (which interpolates them as
    literals) -- single source of truth so the two engines compute the
    identical (a*h + b) mod P family."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """C2: MinHash signature per document. ONE hash per shingle
    (rolled from md5_int60 token hashes, so SQL oracles replay it),
    then num_hashes affine re-mixes (universal hashing mod 2^31-1)
    min-folded ENTIRELY IN-ROW: each h_i is
    ``array_min(transform(shingle_hashes, x -> (a_i*x+b_i) mod P))``
    over the per-doc shingle-hash array -- a narrow projection inside
    the scan's codegen span.

    r12 shape: the previous form exploded the shingle array and
    min-aggregated under groupBy(doc_id) -- the same arithmetic, plus
    an explode, a per-task partial-agg hash table, an Exchange, and
    the final agg, ALL removable because the shingle set is already
    in-row. Per-doc signatures are a row-local function of the text,
    so no shuffle is fundamental to this operator; the in-row fold
    makes the whole signature stage exchange-free at any scale.
    Equivalence: min over the exploded multiset == array_min over the
    array (same elements); docs whose shingle array is NULL (NULL
    text) were dropped by explode and are dropped by the filter here;
    non-NULL texts always yield >= 1 shingle (greatest(cnt, 1)), so
    no empty-array case exists. Duplicate doc_ids would no longer be
    merged -- doc_id is the fixture's primary key (asserted unique at
    every sf; the oracle's GROUP BY doc_id defines the same contract).
    """
    sh = docs.select("doc_id", token_hashes().alias("th")).select(
        # rolled_ngram_hashes needs the materialized array column (see
        # its docstring); hbs in turn materializes the shingle array so
        # each of the 32 folds below is one pass over it, not a
        # re-evaluation of the shingle pipeline
        "doc_id",
        rolled_ngram_hashes(F.col("th")).alias("hbs"),
    )
    def _fold(a: int, b: int) -> Column:
        # one-arg lambda via closure (PySpark reads the lambda's arity
        # to decide the higher-order function's parameter list)
        return F.array_min(
            F.transform(
                F.col("hbs"),
                lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE31)),
            )
        )

    mixes = [
        _fold(a, b).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_mix_constants(num_hashes))
    ]
    return sh.filter(F.col("hbs").isNotNull()).select("doc_id", *mixes)


def band_table(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, band, band_hash): the banded-signature relation whose
    (band, band_hash) key drives the LSH bucket join's shuffle — the
    single definition shared by lsh_candidate_pairs (which self-joins
    it) and the skew soak (tools/scale_soak.py --dedup-skew, which
    measures its partition-size spread)."""
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} does not divide into "
            f"num_bands={num_bands}: the {num_hashes % num_bands} "
            "trailing hashes would be min-aggregated but never banded, "
            "silently lowering recall below what the parameters imply"
        )
    sig = minhash_signatures(docs, num_hashes)
    per_band = num_hashes // num_bands

    def _band_key(b: int) -> Column:
        cols = [F.col(f"h{b * per_band + j}") for j in range(per_band)]
        return F.concat_ws(":", *[c.cast("string") for c in cols])

    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[_band_key(b) for b in range(num_bands)])
        ).alias("band", "band_hash"),
    )


def ordered_pairs(ids: Column) -> Column:
    """All strictly-ordered element pairs of a SORTED array, as an
    array of (_1, _2) structs: for sorted [a, b, c] ->
    [(a,b), (a,c), (b,c)]. The in-row form of a bucket-local
    ``a.key < b.key`` self-join: a consumer that groups rows into
    sorted per-bucket arrays and explodes this expression gets the
    identical pair multiset while consuming the bucket relation ONCE
    (no checkpoint materialization for join reuse, no join, one fewer
    shuffle). Shared by the LSH/SimHash candidate generators and the
    c30 source-overlap matrix."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                # 1-based slice: later elements start at position i+2
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("_1"), y.alias("_2")),
            ),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    portable: bool = True,
) -> DataFrame:
    """C2: LSH banding -> candidate duplicate pairs. Documents agreeing
    on ALL hashes of any band collide in that band's bucket; the
    quadratic step is bucket-local by construction -- no global
    all-pairs step.

    r12 shape: per-bucket sorted doc-id collect + in-row ordered-pair
    explode (ordered_pairs) instead of the band-table self-join. The
    pair set is identical (sort_array ascending ==
    ``a.doc_id < b.doc_id``; band rows are unique per (doc, band), so
    no self-pairs), but the band relation is consumed ONCE in a
    linear pipeline: the old shape had to localCheckpoint the band
    table (a full materialization pass) because it fed both self-join
    sides, then paid the join and its exchanges on top. Now: one
    bucket-keyed exchange + the pair dedup's -- and the skew bound is
    unchanged (a hot bucket concentrated in one join task before, one
    collect task now; soak-measured spread 1.02, hottest key 27 rows).

    Band bucket key: the ':'-joined decimal tuple of the band's hashes,
    which a SQL oracle rebuilds verbatim (hash-exact certification).

    ``portable`` is vestigial: the md5 family is the only one, and
    ``False`` raises. The keyword stays only because the curation
    benchmark's ``lsh`` op still passes ``portable=True``; it goes once
    that call drops it."""
    if not portable:
        raise ValueError(
            "lsh_candidate_pairs has one hash family (md5_int60); "
            "portable=False is no longer supported"
        )
    bands = band_table(docs, num_hashes, num_bands)
    buckets = bands.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode(ordered_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p._1").alias("doc_a"), F.col("p._2").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def set_overlap(
    a: DataFrame, b: DataFrame, on: list[str], pair=None
) -> DataFrame:
    """Exact set-overlap join -- the ONE core behind n-gram Jaccard
    (c02/c17/c42), the incremental near-dup screen (c15), shingle
    containment (c64) and neighbour-overlap link prediction (g15).
    Each input holds one row per (set, element), shaped
    ``(id, sz, *on)``: ``id`` names the set, ``sz`` is its size and
    ``on`` the element (plus any block keys). One equi-join on ``on``
    (an optional ``pair(a.id, b.id)`` residual such as ``operator.lt``
    for unordered self-pairs or ``operator.ne`` for ordered ones), one
    hash aggregate; returns ``(id_a, id_b, sz_a, sz_b, n_common)``
    for every pair sharing at least one element. Equi-join semantics:
    a NULL key never pairs, and an empty side gives no rows.

    Sizes ride IN-ROW: the caller computes ``sz`` before the explode
    (e.g. ``size(token_ngrams(...))`` -- the arrays are distinct, so
    the length IS the post-explode count per set), and it is grouped
    through the intersection agg: (id_a, id_b) determines (sz_a,
    sz_b), so the extended grouping key changes nothing. That saves
    the per-set sizes aggregate (a full element-stream shuffle) and
    both size join-backs, and leaves a self-join input with one
    consumer per side (callers localCheckpoint it for join reuse).

    The join stays a streamed equi-join, NOT the in-row
    ``ordered_pairs`` form the LSH/SimHash/c30 lanes use: element
    buckets are unbounded -- a stopword gram shared by k sets would
    flatten k^2 pair structs into ONE row -- while LSH band buckets
    are soak-bounded (hottest key 27 rows)."""
    l, r = a.alias("a"), b.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in on]
    if pair is not None:
        cond.append(pair(F.col("a.id"), F.col("b.id")))
    return (
        l.join(r, reduce(operator.and_, cond))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def jaccard(digits: int) -> Column:
    """|A∩B| / (|A|+|B|-|A∩B|) over set_overlap's columns, rounded:
    exact integer sizes and counts, one IEEE division."""
    n = F.col("n_common")
    return F.round(n / (F.col("sz_a") + F.col("sz_b") - n), digits)


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, block_col: str = "lang", threshold: float = 0.0
) -> DataFrame:
    """n-gram Jaccard similarity on blocked pairs (exact; the oracle
    reproduces it in SQL): a set_overlap self-join of each doc's
    distinct shingles, blocked on ``block_col``. The exploded shingle
    stream feeds both join sides, so it is materialized once."""
    sh = gram_rows(
        docs, n, F.col("doc_id").alias("id"), F.col(block_col).alias("blk")
    ).localCheckpoint()
    return (
        set_overlap(sh, sh, ["blk", "g"], operator.lt)
        .withColumn("jaccard", jaccard(4))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "n_common",
            "jaccard",
        )
    )


def neardup_components(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """C2 final step: cluster near-duplicate pairs into connected
    components (doc_id -> component = min doc_id reachable), so a
    curation pipeline can keep one canonical doc per cluster.

    Iterative hash-to-min label propagation: each round every node
    takes the min label among itself and its neighbors -- converges in
    O(graph diameter) rounds; near-dup graphs are unions of small
    cliques, so 2-3 rounds in practice. Exhausting ``max_iter`` rounds
    with labels still moving raises rather than return stale labels.

    Pairs whose ends are not both in ``docs`` (NULL ends included)
    carry no label through any round, so they are dropped first, and
    the kept pairs are materialized once. Their count picks the lane:

    - at or under ``session.PER_ROUND_BCAST_CEILING_ROWS`` (the
      per-round broadcast bound) the pairs are collected as Arrow and
      the same rounds run on the driver in numpy
      (:func:`_hash_to_min_local`). A 2,500-doc batch yields tens of
      pairs, on which the distributed loop spent ~13 Spark jobs. The
      labels come back as a broadcast local relation joined onto
      ``docs``. Numpy rounds rather than a union-find keep the
      round count, and with it the ``max_iter`` raise, identical to
      the distributed lane's;
    - past it, the distributed rounds (:func:`_hash_to_min_rounds`):
      per round one join (labels onto edges) + one groupBy min + a
      left join back, lineage truncated per round, the convergence
      test riding the same pass. The symmetrized edge table is
      materialized ONCE, keyed on ``u``, and the labels and edges
      follow session.RoundLane's policy, picked from the doc count: at
      WCC scale (110M+ edges when this backs
      weakly_connected_components) the per-round edge re-shuffle it
      avoids was the loop's dominant cost.

    The lane follows the observed pair count only; both give the same
    labels and raise on the same inputs."""
    from ..session import PER_ROUND_BCAST_CEILING_ROWS

    ids = docs.select("doc_id")
    kept = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .join(ids.select(F.col("doc_id").alias("u")), "u", "left_semi")
        .join(ids.select(F.col("doc_id").alias("v")), "v", "left_semi")
        # a USING join puts its key first; the union below is positional
        .select("u", "v")
        .localCheckpoint()
    )
    if kept.count() <= PER_ROUND_BCAST_CEILING_ROWS:
        return _hash_to_min_local(docs, kept.toArrow(), max_iter)
    return _hash_to_min_rounds(docs, kept, max_iter)


def _not_converged(max_iter: int) -> RuntimeError:
    # Exhausting max_iter with changes still flowing means some
    # component's diameter exceeds max_iter: the stale labels would
    # silently under-dedup downstream (canonical-doc filters keep
    # extra near-duplicates with no signal). Fail loudly instead.
    return RuntimeError(
        f"neardup_components did not converge within {max_iter} "
        f"iterations -- a component's diameter exceeds max_iter; "
        f"raise max_iter (propagation moves the min label one "
        f"hop per round)"
    )


def _hash_to_min_local(docs: DataFrame, pairs, max_iter: int) -> DataFrame:
    """The driver lane of neardup_components: hash-to-min rounds over
    an Arrow table of ``(u, v)`` pairs whose ends are all in ``docs``.
    Ids become positions in their sorted distinct list (Arrow sorts
    strings bytewise, as Spark's min does), so the min position is the
    min id. A round is the distributed round verbatim: every node
    takes the min of its own and its neighbours' previous labels
    (``np.minimum.at`` over both edge directions)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    u, v = pairs["u"], pairs["v"]
    ends = pc.unique(pa.chunked_array(u.chunks + v.chunks, u.type))
    ends = ends.take(pc.sort_indices(ends))
    u = pc.index_in(u, value_set=ends).to_numpy()
    v = pc.index_in(v, value_set=ends).to_numpy()
    label = np.arange(len(ends))
    for _ in range(max_iter):
        nxt = label.copy()
        np.minimum.at(nxt, v, label[u])
        np.minimum.at(nxt, u, label[v])
        if (nxt == label).all():
            break
        label = nxt
    else:
        raise _not_converged(max_iter)
    comp = docs.sparkSession.createDataFrame(
        pa.table({"doc_id": ends, "component": ends.take(label)})
    )
    doc_type = docs.schema["doc_id"].dataType
    return (
        docs.select("doc_id")
        .join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("component").cast(doc_type), F.col("doc_id")
            ).alias("component"),
        )
    )


def _hash_to_min_rounds(
    docs: DataFrame, kept: DataFrame, max_iter: int
) -> DataFrame:
    """The distributed lane of neardup_components over the kept
    ``(u, v)`` pairs. Past the lane's ceiling the round plan is
    co-partitioned: labels-onto-edges is a zero-exchange zero-sort
    SMJ, groupBy(v) is the ONE O(nodes) exchange, and the step
    left-join re-uses hash(doc_id, N) == hash(v, N) on both sides."""
    with RoundLane(docs.count()) as lane:
        (edges,) = lane.static(
            kept.union(kept.select(F.col("v").alias("u"), F.col("u").alias("v"))),
            "u",
        )
        labels = lane.start(
            docs.select("doc_id", F.col("doc_id").alias("component")), "doc_id"
        )
        for _ in range(max_iter):
            nbr_min = (
                edges.join(lane.small(labels), edges["u"] == labels["doc_id"])
                .groupBy("v")
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(
                lane.small(nbr_min), labels["doc_id"] == nbr_min["v"], "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_component"), F.col("component"))
                    < F.col("component")
                ).alias("changed"),
            )
            stepped = lane.step(stepped, "doc_id")
            labels = stepped.select("doc_id", "component")
            if stepped.agg(F.max("changed")).first()[0] is not True:
                return lane.detach(labels)
        raise _not_converged(max_iter)


def contamination_screen(
    train: DataFrame, eval_set: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark-contamination screen: flag training documents sharing
    at least one n-token shingle with any eval/benchmark document --
    the decontamination step every LLM training pipeline runs before
    a data release. Exact (set intersection on shingles), so fully
    oracle-checkable.

    Scale shape: the eval side is tiny relative to the corpus (benchmarks
    are thousands of docs, the corpus is billions), so its distinct
    shingle set is BROADCAST; the train side streams through one
    broadcast hash join + one doc_id-keyed count-distinct agg -- no
    all-pairs step, no shuffle of the corpus by shingle."""
    t = gram_rows(train, n, "doc_id").select("doc_id", "g")
    e = gram_rows(eval_set, n).select("g").dropDuplicates(["g"])
    # token_ngrams is array_distinct'd and e is deduped, so the join
    # output is already unique per (doc_id, g): a plain count IS the
    # distinct count, without forcing the two-phase distinct-aggregate
    # exchange on the corpus-sized side
    return (
        t.join(F.broadcast(e), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


SIMHASH_BITS = 60


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """SimHash signatures, fully JVM-side (no Python anywhere): one
    md5_int60 per token, then the per-bit majority vote as
    SIMHASH_BITS codegen'd conditional sums over the exploded (doc_id,
    token_hash) relation. Map-side partial aggregation means the
    shuffle carries SIMHASH_BITS small longs per *document*, nothing
    per-token -- at 100 TB the vote is a single hash-aggregate keyed
    by doc_id.  Bit i is set iff tokens with bit i set strictly
    outnumber those without (the classic Charikar sum(+/-1) > 0 vote;
    ties -> 0). The signature is a non-negative long below 2^60,
    bit-identical in any engine with md5, so downstream queries are
    oracle-checkable value-for-value."""
    # inner explode, not explode_outer: a NULL-text doc has no tokens
    # and therefore NO signature (SQL unnest semantics -- the oracle
    # drops it). explode_outer kept it with signature 0, silently
    # pairing every NULL-text doc as a Hamming-0 "near-dup" and
    # diverging from the hash-exact oracle. (Non-null text always
    # tokenizes to >= 1 token, so no real doc is lost.)
    th = docs.select(
        "doc_id", F.explode(F.transform(tokens(), md5_int60)).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = th.groupBy("doc_id").agg(*votes)
    contrib = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SIMHASH_BITS)
    ]
    sig = contrib[0]
    for c in contrib[1:]:
        sig = sig + c
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_buckets(docs: DataFrame) -> DataFrame:
    """Exact-signature SimHash buckets -> candidate groups.  doc_ids is
    emitted as a sorted comma-joined string (scalar column) so results
    stay canonicalizable by flat row-sorting harnesses."""
    sig = simhash_signatures(docs)
    return sig.groupBy("simhash").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("doc_ids"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def simhash_hamming_pairs(docs: DataFrame, r: int = 3) -> DataFrame:
    """Hamming<=r SimHash candidate pairs via pigeonhole banding: split
    the SIMHASH_BITS signature into r+1 contiguous chunks -- any pair within
    Hamming distance r differs in at most r chunks, so it agrees
    EXACTLY on at least one chunk (pigeonhole) and the per-chunk bucket
    equi-join has recall 1.0.  The exact ``bit_count(a XOR b) <= r``
    filter then removes false positives, so the output is precisely the
    Hamming<=r pair set.  Same scale shape as minhash LSH: the
    quadratic step is confined to (chunk, value) buckets, generated
    per bucket by the sorted (doc_id, simhash) collect + in-row
    ordered-pair explode (ordered_pairs; sort_array on the structs
    orders by doc_id -- ids are unique -- so the pair set equals the
    old ``a.doc_id < b.doc_id`` self-join's, with the signature
    pipeline consumed once and no checkpoint materialization)."""
    chunks = r + 1
    bounds = [i * SIMHASH_BITS // chunks for i in range(chunks + 1)]
    sig = simhash_signatures(docs)
    chunk_cols = [
        F.shiftrightunsigned("simhash", bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(chunks)
    ]
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*chunk_cols)).alias("chunk", "chunk_val"),
    )
    buckets = bands.groupBy("chunk", "chunk_val").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
            "ms"
        )
    )
    return (
        buckets.filter(F.size("ms") >= 2)
        .select(F.explode(ordered_pairs(F.col("ms"))).alias("p"))
        .select(
            F.col("p._1.doc_id").alias("doc_a"),
            F.col("p._2.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("p._1.simhash").bitwiseXOR(F.col("p._2.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= r)
        .dropDuplicates(["doc_a", "doc_b"])
    )
