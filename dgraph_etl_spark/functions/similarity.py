"""Embedding similarity search (SURVEY.md C3-C5, C9).

All hot-path math is JVM-side Catalyst expressions over
``array<double>`` (zip_with / aggregate / transform) -- no Python in
the per-row loop. Verified against DuckDB's list_cosine_similarity to
1 ulp.

Scale design:
- brute-force top-k is the exactness baseline: cosine expr +
  TakeOrderedAndProject (per-partition top-k, then merge of k-lists on
  the driver -- no global sort, scales linearly with rows/partitions).
- the ANN family cuts what that exact step scans or how much each
  scanned row costs: label IVF (ivf_topk, ivf_persisted_topk: the label
  column as the cell id), learned IVF (kmeans_cells, ivf_kmeans_topk),
  int8 (int8_topk), PQ (pq_topk), IVFPQ (ivfpq_topk), and the
  sampled-codebook scale lanes (build_ivf_kmeans_index /
  ivf_kmeans_scale_topk, build_ivfpq_index / ivfpq_scale_topk). The
  100 TB path is the learned index with ~sqrt(N) cells persisted
  PARTITIONED BY cell: a probe scans ~nprobe/ncells of the corpus.
- every member is assembled from ONE copy of each step: the
  fixed-point grid (fixed_point), the int64 folds (_isum, _idot,
  _sq_dist, int_cosine), the nearest-code assignment against a
  broadcast codebook (_nearest), the integer centroid update
  (int_centroids, _lloyd_step), the top-nprobe cell probe
  (_top_cells), and the top-topc approximate candidates with an exact
  brute_topk re-rank (_rerank); the scale lanes share the numpy twins
  _nearest_np and _top_cells_np. The Spark steps are exact integer
  arithmetic, so every member is bit-identical across engines,
  partitionings and retries -- what lets the DuckDB oracles certify
  them by hash.
- all-pairs similarity join is blocked (by label / LSH bucket) before
  the quadratic step: never cross-join the full corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import session_stopped
from ..staging import is_published, publish


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i, left-to-right fold (deterministic, matches DuckDB)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm side yields NULL (try_divide),
    never a DIVIDE_BY_ZERO error (ANSI mode) or NaN (non-ANSI) --
    NULLs sort last under desc, so degenerate rows can't win a top-k.
    try_divide returns NULL for a 0 divisor under BOTH ANSI settings,
    so the contract is config-independent."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def with_query_similarity(
    emb: DataFrame, query: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Attach cosine(embedding, query vector). ``query`` is a 1-row
    DataFrame with column ``qvec`` -- broadcast cross join (a literal
    scalar at plan level; no shuffle)."""
    j = emb.crossJoin(F.broadcast(query))
    sim = cosine(as_double_array(vec_col), as_double_array("qvec"))
    return j.withColumn("sim", sim)


def brute_topk(
    emb: DataFrame, query: DataFrame, k: int, vec_col: str = "embedding"
) -> DataFrame:
    """C4 baseline: exact top-k by cosine. orderBy+limit compiles to
    TakeOrderedAndProject: O(rows) scan, O(k) state per partition."""
    return (
        with_query_similarity(emb, query, vec_col)
        .select("vec_id", F.round("sim", 4).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def brute_topk_arrow(
    emb: DataFrame, query: DataFrame, k: int, vec_col: str = "embedding"
) -> DataFrame:
    """C4 large-N lane: exact top-k by cosine through mapInPandas --
    each Arrow batch becomes one numpy (rows x dim) matrix and the
    whole batch scores as a single BLAS matvec. Same contract as
    brute_topk (round-4dp sim, vec_id tiebreak); measured 3.9x faster
    at 5M x 64-dim fp32 (1.6 s vs 6.2 s on local[32] -- the JVM
    expression path evaluates the dot per element, the Arrow lane
    amortizes it across the batch). Prefer brute_topk below ~1M
    vectors (no Arrow transfer, stays in whole-stage codegen) and this
    lane above it. The query vector ships via broadcast; top-k remains
    TakeOrderedAndProject, so per-partition state is O(k).

    Edge-case parity with the JVM lane: zero-norm corpus rows score
    NULL in BOTH lanes (cosine uses try_divide; this lane maps the
    0/0 NaN to NULL) -- NULLs sort last under desc, so degenerate
    rows can't displace real neighbors -- and rounding is HALF_UP
    (sign * floor(|x|*1e4 + 0.5) / 1e4) to match Spark's F.round,
    not numpy's half-to-even. Residual caveat:
    BLAS matvec accumulation order differs from the JVM lane's
    left-to-right fold, so a sim whose 5th decimal sits EXACTLY on a
    rounding boundary can still round differently -- the lane-equality
    property test pins agreement on the real fixtures; for adversarial
    boundary vectors the lanes agree to 1 ulp pre-round, not
    bit-exactly post-round."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qrow = query.select("qvec").first()
    q = np.asarray(qrow["qvec"], dtype=np.float64)
    qn = float(np.linalg.norm(q))
    # zero-norm QUERY: the JVM lane's try_divide makes every sim NULL;
    # shipping the raw zero vector (q @ m = 0, then 0/norm = 0.0)
    # would instead score everything 0.0 and return a top-k -- ship a
    # NaN vector so every sim is NaN -> NULL below, lane parity kept
    q = q / qn if qn else np.full_like(q, np.nan)
    bq = emb.sparkSession.sparkContext.broadcast(q)
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("sim", DoubleType())]
    )

    def score(batches):
        qv = bq.value
        for pdf in batches:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (m @ qv) / norms
            # HALF_UP to 4dp (Spark F.round), not numpy half-to-even
            sims = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4
            # zero norm -> NULL, matching the JVM lane's try_divide
            sims = np.where(np.isnan(sims), None, sims)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "sim": sims})

    return (
        emb.select("vec_id", vec_col)
        .mapInPandas(score, schema)
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def label_centroids(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantizer: elementwise-mean centroid per cell (cell =
    label here; k-means offline at scale). posexplode + per-(cell,pos)
    mean + re-assemble keeps everything JVM-side; the result is tiny
    (ncells rows) and broadcastable.

    The mean is computed in FIXED POINT (sum of round(x*1e6) as int64,
    divided once at the end): integer sums are order-insensitive, so
    the centroid -- and every probe ranking built on it -- is
    bit-identical across partitionings, retries and engines. A float
    avg() here would make the IVF probe set nondeterministic at the
    4th decimal, which is what kept the c04 queries rows-only."""
    pos = emb.select(
        "label", F.posexplode(as_double_array(vec_col)).alias("pos", "x")
    )
    means = pos.groupBy("label", "pos").agg(
        (
            F.sum(F.round(F.col("x") * 1_000_000).cast("long")).cast("double")
            / (F.lit(1_000_000.0) * F.count(F.lit(1)))
        ).alias("m")
    )
    return means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    nprobe: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """C4 scale path: probe the nprobe cells whose centroids are most
    similar to the query, then exact re-rank inside those cells only.
    At 100 TB with the corpus PARTITIONED BY cell id, the unprobed
    cells are pruned at the scan (partition pruning) -- the whole query
    touches ~nprobe/ncells of the data.

    Cell-count caveat, measured (SCALE.md, 5M x 64d): with few coarse
    cells (the fixture's 8 labels) the <=ncells/nprobe pruning factor
    does not recoup the probe path's assignment-join overhead, and
    brute_topk / brute_topk_arrow stay faster; IVF pays once cells are
    ~sqrt(N) (the k-means codebook, kmeans_cells(k=...)) so pruning
    removes >90% of the scan."""
    cents = label_centroids(emb, vec_col)
    probed = _top_cells(cents, query, "label", _label_csim(), nprobe)
    candidates = emb.join(F.broadcast(probed), "label", "left_semi")
    return brute_topk(candidates, query, k, vec_col)


def _label_csim() -> Column:
    """The label-cell probe score: the centroid-query cosine rounded to
    4dp, the convention of every certified cosine query."""
    c = cosine(as_double_array("centroid"), as_double_array("qvec"))
    return F.round(c, 4)


def blocked_similarity_join(
    emb: DataFrame, threshold: float, block_col: str = "label"
) -> DataFrame:
    """C5: all pairs with cosine >= threshold, blocked on ``block_col``
    so the cross product is per-block, not global (LSH buckets play the
    same role when no natural block key exists). Threshold compares the
    ROUNDED similarity so the cut is reproducible across engines.

    Per-ROW prep (round 13, guide §2.3 do-less-work-per-task): the
    double-cast and the L2 norm are computed once per row BEFORE the
    pair join instead of once per PAIR inside cosine() -- for a block
    of n vectors that is 2n evaluations instead of n^2, and the
    surviving per-pair work is the dot product alone. Bit-identical:
    same expressions (same left-to-right folds), same
    try_divide(dot, na*nb) contract, just evaluated earlier; measured
    c05 27.4 -> 5.8 s and c02_embedding_neardup 112 -> 34 s at sf1,
    rows identical (exceptAll both directions)."""
    prep = emb.select(
        "vec_id",
        F.col(block_col).alias("blk"),
        as_double_array("embedding").alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    a = prep.select(
        F.col("vec_id").alias("vec_a"),
        "blk",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = prep.select(
        F.col("vec_id").alias("vec_b"),
        "blk",
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, "blk").filter(F.col("vec_a") < F.col("vec_b"))
    sim = F.round(
        F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        4,
    )
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "blk", "sim")
    )


def rademacher_planes(n_planes: int, dim: int, tag: str):
    """Deterministic Rademacher (+/-1) hyperplane matrix derived from
    md5 -- the ENGINE-PORTABLE SRP family. Entry (p, d) is +1 when the
    first hex digit of md5("{tag}|{p}|{d}") is 0-7 (top bit clear),
    else -1; d is 1-indexed to match SQL list subscripts, so a DuckDB
    oracle regenerates the identical matrix with its own md5() and no
    RNG. +/-1 projections are a valid SRP family (Achlioptas 2001,
    'Database-friendly random projections'): sign(<v, r>) with
    Rademacher r hashes cosine-similar vectors together with the same
    collision-probability shape as Gaussian planes."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{tag}|{p}|{d}".encode()).hexdigest()[0] <= "7"
            else -1
            for d in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def srp_bands_fixedpoint(
    emb: DataFrame,
    n_planes: int = 32,
    n_bands: int = 4,
    tag: str = "srp",
    vec_col: str = "embedding",
    dim: int | None = None,
    scale: int = 1_000_000,
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """(row, band, band_val) LSH bucketing rows via the deterministic
    Rademacher SRP family in EXACT integer arithmetic: component d is
    quantized to round(x*scale) as a 64-bit int, bit p of the
    signature is sign(sum_d r(p,d)*q_d) computed as an integer fold --
    no float accumulation, so the buckets are bit-identical across
    engines, partitionings and retries (the property that lets a
    bucketed query keep a hash-exact SQL oracle). Planes are +/-1
    literals in the plan (n_planes*dim small ints -- fine at embedding
    dims up to a few hundred; at 1536+ the planes would better ride a
    broadcast 1-row array column, trading a benign BNLJ for plan
    size). One projection + one posexplode: n_bands rows per input
    row, no shuffle, no Python."""
    if n_planes % n_bands:
        raise ValueError(
            f"n_planes={n_planes} not divisible by n_bands={n_bands}: "
            "trailing signature bits would be computed but never "
            "banded, silently lowering recall"
        )
    if dim is None:
        first = emb.select(vec_col).first()
        dim = len(first[0])
    bits_per_band = n_planes // n_bands
    planes = rademacher_planes(n_planes, dim, tag)
    base = emb.select(*keep, vec_col, fixed_point(vec_col, scale).alias("_qv"))
    band_vals = []
    for b in range(n_bands):
        val = F.lit(0).cast("long")
        for i in range(bits_per_band):
            p = b * bits_per_band + i
            lits = F.array(
                *[F.lit(x).cast("long") for x in planes[p]]
            )
            proj = _idot(F.col("_qv"), lits)
            val = val + F.when(proj >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        band_vals.append(val)
    return base.select(
        *keep,
        vec_col,
        F.posexplode(F.array(*band_vals)).alias("band", "band_val"),
    )


def hard_negatives_srp(
    emb: DataFrame,
    n_planes: int = 32,
    n_bands: int = 4,
    tag: str = "c40srp",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining, scale form: candidates come from SRP
    band buckets (same band + same band_val + different label), then
    the exact-cosine per-anchor rank picks each anchor's hardest
    in-bucket negative. The quadratic step is confined to signature
    buckets -- at 100 TB the bucket join shuffles by (band, band_val)
    and never cross-joins the corpus; the all-pairs exactness baseline
    (suites' former c40 body) survives as the recall-floor oracle in
    tests/test_properties.py. Deterministic end to end (Rademacher
    planes + integer projections + 4dp-rounded cosine), so the DuckDB
    oracle reproduces the exact output, not just row counts. Anchors
    whose buckets hold no cross-label vector drop out -- the measured
    fixture recall floor is pinned in the tests."""
    bands = srp_bands_fixedpoint(
        emb,
        n_planes=n_planes,
        n_bands=n_bands,
        tag=tag,
        vec_col=vec_col,
        dim=dim,
        keep=("vec_id", "label"),
    ).localCheckpoint()
    # round 13: double-cast + L2 norm once per band ROW, not per pair
    # (bit-identical; see blocked_similarity_join)
    prep = bands.select(
        "vec_id", "label", "band", "band_val",
        as_double_array(vec_col).alias("vd"),
    ).withColumn("nrm", l2_norm(F.col("vd")))
    a = prep.alias("a")
    b = prep.alias("b")
    # cosine is computed BEFORE the pair dedup: a pair found by k
    # bands costs k redundant 64-mult dot products (k <= n_bands,
    # usually 1), but the dedup then shuffles 3 scalar columns keyed
    # (anchor, negative) with a map-side partial_max instead of
    # dragging both embedding arrays through the exchange -- at scale
    # the shuffle bytes dominate the recompute by orders of magnitude.
    scored = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("negative_id"),
            F.round(
                F.try_divide(
                    dot(F.col("a.vd"), F.col("b.vd")),
                    F.col("a.nrm") * F.col("b.nrm"),
                ),
                4,
            ).alias("sim"),
        )
        .groupBy("anchor_id", "negative_id")
        .agg(F.max("sim").alias("sim"))
    )
    from pyspark.sql import Window as Wnd
    w = Wnd.partitionBy("anchor_id").orderBy(F.desc("sim"), F.col("negative_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("anchor_id", "negative_id", "sim")
    )


def srp_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 16,
    n_bands: int = 8,
    tag: str = "c20srp",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via SRP-LSH banding + exact
    re-rank: bucket rows by the deterministic Rademacher SRP family
    (srp_bands_fixedpoint: n_planes signature bits in n_bands bands),
    join per (band, band_val), then keep candidates whose EXACT cosine
    clears the threshold. Precision is 1.0 by construction (the final
    filter is exact); recall is the LSH trade-off (1 - (1 -
    p^bits_per_band)^n_bands, p = 1 - theta/pi) -- tested empirically
    on the fixture. The buckets are bit-identical in any engine with
    md5, so the registered query (c20) carries a hash-exact SQL
    oracle. The quadratic step is confined to signature buckets: at
    100 TB this replaces blocked_similarity_join's natural block
    key."""
    bands = srp_bands_fixedpoint(
        emb,
        n_planes=n_planes,
        n_bands=n_bands,
        tag=tag,
        vec_col=vec_col,
        dim=dim,
        keep=("vec_id",),
    ).localCheckpoint()
    # round 13: c20 at sf1 is the engine's biggest single lane (2-bit
    # bands keep ~all pairs as candidates: 405M collisions / 179M
    # distinct pairs, redundancy 2.27x). Two reshapes, both
    # result-identical:
    # 1. the candidate pairs are DEDUPED as bare (vec_a, vec_b) longs
    #    BEFORE any cosine (sim is band-independent, so the old
    #    groupBy.max(sim) == sim on the distinct pair -- and the
    #    distinct exchange carries 16-byte rows instead of 24-byte
    #    scored rows);
    # 2. the double-cast + L2 norm attach once per VECTOR via two
    #    corpus joins onto the deduped pairs, and the dot runs once
    #    per distinct pair (same folds as cosine(); bit-identical,
    #    see blocked_similarity_join).
    # Measured at sf1: 411s (round-12 form) -> 181s (per-row prep)
    # -> 75s (this form); +0.5s at sf0.1 where the distinct exchange
    # exceeds the saved dots (accepted -- the lane exists for scale).
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    prep = emb.select(
        "vec_id", as_double_array(vec_col).alias("vd")
    ).withColumn("nrm", l2_norm(F.col("vd")))
    pa = prep.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vd").alias("va"),
        F.col("nrm").alias("na"),
    )
    pb = prep.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vd").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(
        F.try_divide(
            dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
        ),
        4,
    )
    return (
        cand.join(pa, "vec_a")
        .join(pb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def hard_negatives_exact(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Hard-negative mining, exactness baseline: every anchor scored
    against EVERY cross-label vector (BroadcastNestedLoop on the
    label-inequality predicate -- deliberately quadratic). Not a
    registered query any more: it is the oracle hard_negatives_srp's
    recall floor is measured against in tests/test_properties.py, and
    the shape a small eval set (thousands of anchors) can still
    afford."""
    from pyspark.sql import Window as Wnd

    a = emb.select(
        F.col("vec_id").alias("anchor_id"),
        as_double_array(vec_col).alias("va"),
        F.col("label").alias("la"),
    )
    b = emb.select(
        F.col("vec_id").alias("negative_id"),
        as_double_array(vec_col).alias("vb"),
        F.col("label").alias("lb"),
    )
    pairs = a.join(b, F.col("la") != F.col("lb")).select(
        "anchor_id",
        "negative_id",
        F.round(cosine(F.col("va"), F.col("vb")), 4).alias("sim"),
    )
    w = Wnd.partitionBy("anchor_id").orderBy(F.desc("sim"), F.col("negative_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("anchor_id", "negative_id", "sim")
    )


# ------------------------------------------------------------- ANN core
# One copy of each integer-exact step; every ANN member below (and the
# s17 / c59 suite queries) is assembled from these.


def fixed_point(col: Column | str, scale: int) -> Column:
    """The fixed-point grid: each component becomes round(x * scale) as
    a 64-bit integer, so every distance / centroid computation
    downstream is EXACT integer arithmetic."""
    return F.transform(
        as_double_array(col), lambda x: F.round(x * scale).cast("long")
    )


def _isum(a: Column) -> Column:
    """Exact int64 fold of an integer array."""
    return F.aggregate(a, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _idot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i over integer components -- exact."""
    return _isum(F.zip_with(a, b, lambda x, y: x * y))


def _sq_dist(a: Column, b: Column) -> Column:
    """Σ (a_i - b_i)^2 over integer components -- exact."""
    return _isum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def int_cosine(a: Column, b: Column) -> Column:
    """Cosine over quantized integer vectors: dot and squared norms are
    EXACT integer folds; the single float op is one divide over two
    sqrts of exact operands -- the same doubles on every engine, so the
    rounded value is hash-stable (cosine is scale-invariant, so the
    quantized cosine equals the float cosine up to quantization)."""
    na = F.sqrt(_isum(F.transform(a, lambda x: x * x)).cast("double"))
    nb = F.sqrt(_isum(F.transform(b, lambda x: x * x)).cast("double"))
    # try_divide, not '/': an all-zero quantized vector (every
    # component's magnitude < qmax/254) would otherwise 0/0 -- a
    # DIVIDE_BY_ZERO abort under the pinned ANSI mode, or a NaN that
    # sorts FIRST under desc and displaces a real neighbor. NULL is
    # the module-wide zero-norm contract (cosine() above).
    return F.try_divide(_idot(a, b).cast("double"), na * nb)


def quantize_vectors(
    emb: DataFrame, scale: int = 1_000_000, vec_col: str = "embedding"
) -> DataFrame:
    """Fixed-point view of the corpus, ``(vec_id, qv)`` -- the property
    that makes an iterative clustering reproducible bit-for-bit across
    engines, partitionings, and retries (IEEE float sums are
    order-dependent; integer sums are not). With unit-norm-ish
    embeddings and scale 1e6, a squared distance is bounded by
    dim * (2*scale)^2 ~ 2.6e14 << 2^63."""
    return emb.select("vec_id", fixed_point(vec_col, scale).alias("qv"))


def _md5_seeds(q: DataFrame, k: int) -> DataFrame:
    """Deterministic k-means seeding of every fixed-point trainer (the
    IVF cells of _kmeans_loop, the PQ codebooks of _pq_adc): the k
    corpus rows with the smallest md5(vec_id) (engine/partitioning/
    retry-independent, and replayable in the DuckDB oracles), tagged
    with their 0-based seed ordinal as ``seed_ord``. ONE copy: a
    seeding change must not drift between trainers whose oracles assume
    the same discipline."""
    from pyspark.sql import Window

    seeds = (
        q.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    # k rows: the global window is over the already-limited seed set
    return seeds.withColumn(
        "seed_ord", F.row_number().over(Window.orderBy("h", "vec_id")) - 1
    )


def _int_mean(s: Column, n: Column) -> Column:
    """Round-half-UP integer mean floor((2s+n)/(2n)). The doubles are
    exact here (sums bounded well under 2^53, kmeans_cells' documented
    bound), and half-up matches the oracles' replay of the same
    expression."""
    return F.floor((2.0 * s + n) / (2.0 * n)).cast("long")


def int_centroids(rel: DataFrame, keys, vec: str) -> DataFrame:
    """``(*keys, cv)``: the integer mean of the int64 vectors ``vec``
    per ``keys`` -- exact per-(key, pos) sums, re-assembled in pos
    order. The mean is aliased ``mu``, never ``m``: a PQ codebook is
    keyed by its subspace column ``m``."""
    comp = (
        rel.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("mu", _int_mean(F.col("s"), F.col("n")))
    )
    return comp.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))),
            lambda s: s["mu"],
        ).alias("cv")
    )


def _nearest(rel, codebook, keys, vec: str, code: str, on=()) -> DataFrame:
    """Nearest ``code`` of the broadcast ``codebook`` (``*on``, ``code``,
    ``cv``) for each row of ``rel`` (``*keys``, ``*on``, ``vec``), by
    exact squared distance, ties to the smaller code. Returns
    (``*keys``, ``*on``, ``code``, ``vec``): the member vector rides
    along for _lloyd_step, and a projection that drops it prunes it."""
    on = list(on)
    b = F.broadcast(codebook)
    scored = (rel.join(b, on) if on else rel.crossJoin(b)).withColumn(
        "dist", _sq_dist(F.col(vec), F.col("cv"))
    )
    return scored.groupBy(*keys, *on).agg(
        F.min(F.struct("dist", code))[code].alias(code),
        F.first(vec).alias(vec),
    )


def _lloyd_step(rel, cents, keys, vec: str, code: str, on=()) -> DataFrame:
    """One integer Lloyd round over ``rel``: assign, recompute each
    code's centroid, and keep the previous centroid of a code that drew
    no members (LEFT join + COALESCE, so the codebook never silently
    shrinks). Returns the new codebook, localCheckpoint'ed to truncate
    the growing lineage."""
    key = [*on, code]
    new = int_centroids(_nearest(rel, cents, keys, vec, code, on), key, vec)
    return (
        cents.join(new.withColumnRenamed("cv", "cv_new"), key, "left")
        .select(*key, F.coalesce("cv_new", "cv").alias("cv"))
        .localCheckpoint()
    )


def _kmeans_loop(emb, k: int, n_iter: int, scale: int, vec_col="embedding"):
    """Lloyd's k-means over the fixed-point corpus. Returns ``(cents,
    assign)``: the post-iteration integer centroid table ``(cell, cv)``
    and the final hard assignment ``(vec_id, cell)`` against it."""
    q = quantize_vectors(emb, scale, vec_col).localCheckpoint()
    cents = _md5_seeds(q, k).select(
        F.col("seed_ord").alias("cell"), F.col("qv").alias("cv")
    ).localCheckpoint()
    for _ in range(n_iter):
        cents = _lloyd_step(q, cents, ["vec_id"], "qv", "cell")
    assign = _nearest(q, cents, ["vec_id"], "qv", "cell")
    return cents, assign.select("vec_id", "cell")


def kmeans_cells(
    emb: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    scale: int = 1_000_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as an iterative DataFrame algorithm -- the IVF
    coarse quantizer LEARNED from the data instead of borrowed from the
    label column (label_centroids). Returns the final hard assignment
    ``(vec_id, cell)``.

    Design for 100 TB:
    - centroids are a k-row table, broadcast every iteration; the corpus
      is only ever scanned, never shuffled (assignment = narrow map over
      a broadcast crossJoin, argmin via min(struct(dist, cell)) -- a
      partial-aggregatable hash agg keyed by vec_id).
    - the centroid update aggregates (cell, dim) partial sums map-side;
      shuffle volume is k * dim rows, independent of corpus size.
    - per-round localCheckpoint truncates the growing lineage (same
      pattern as graph/traverse.py's pagerank loop).
    - all arithmetic is fixed-point integer (quantize_vectors), so the
      result is deterministic across engines AND across Spark's own
      nondeterministic partial-agg orders; ties broken by cell id.
      The centroid mean is round-half-up via floor((2s + n) / (2n)),
      computed in double -- exact while |2s + n| < 2^53 (true whenever
      cell mass * scale < 4.5e15, i.e. up to ~4.5e9 unit-scale vectors
      per cell; shard the update by vector subsets beyond that).
    - deterministic seeding: the k vectors with the smallest
      md5(vec_id) -- a content-independent, engine-portable choice
      (k-means++ would need sequential dependent sampling; at scale,
      run it on a driver-side sample to pick seeds, then broadcast).

    Empty cells keep their previous centroid (COALESCE on the left
    join), so k never silently shrinks."""
    return _kmeans_loop(emb, k, n_iter, scale, vec_col)[1]


def _top_cells(cents, query, key: str, sim: Column, nprobe: int) -> DataFrame:
    """The ``key`` of the ``nprobe`` rows of the (tiny) centroid table
    ``cents`` scoring highest by ``sim`` against the 1-row ``query``;
    ``sim`` comes rounded and ties go to the smaller ``key``, so the
    probe set is reproducible across engines."""
    return (
        cents.crossJoin(F.broadcast(query))
        .withColumn("csim", sim)
        .orderBy(F.desc("csim"), key)
        .limit(nprobe)
        .select(key)
    )


def _learned_ivf_cells(emb, query, ncells, n_iter, nprobe, scale, vec_col):
    """The learned-IVF probe of c51 and c63: ``(vec_id, cell)`` of the
    vectors in the ``nprobe`` k-means cells whose QUANTIZED centroids
    are most query-similar (round(int_cosine, 6)), so cell selection,
    like the assignment itself, is bit-for-bit reproducible."""
    cents, cells = _kmeans_loop(emb, ncells, n_iter, scale, vec_col)
    qint = query.select(fixed_point("qvec", scale).alias("qint"))
    sim = F.round(int_cosine(F.col("cv"), F.col("qint")), 6)
    probed = _top_cells(cents, qint, "cell", sim, nprobe)
    return cells.join(F.broadcast(probed), "cell", "left_semi")


def _rerank(approx, topc: int, emb, query, k: int, vec_col: str) -> DataFrame:
    """Exact re-rank (brute_topk over ``emb``) of the ``topc`` best
    approximate candidates ``(vec_id, adc_sim)``, ties by vec_id; with
    ``emb=None``, the top ``k`` approximate rows as they are."""
    cands = approx.orderBy(F.desc("adc_sim"), "vec_id").limit(topc)
    if emb is None:
        return cands.limit(k)
    reranked = emb.join(F.broadcast(cands), "vec_id", "left_semi")
    return brute_topk(reranked, query, k, vec_col)


def ivf_kmeans_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    ncells: int = 4,
    n_iter: int = 2,
    nprobe: int = 2,
    scale: int = 1_000_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_topk with the LEARNED coarse quantizer: k-means cells replace
    the label column. Probe the nprobe most query-similar centroids,
    exact cosine re-rank inside those cells only -- the end-to-end ANN
    path with no reliance on a pre-existing partition key. At 100 TB the
    assignment is written PARTITIONED BY cell (build_ivf_index) and the
    probe prunes partitions at the scan.

    The probe is _learned_ivf_cells' fixed-point one, reproducible
    bit-for-bit across engines; only the final re-rank touches the
    original float vectors (round(sim, 4), the c04 convention)."""
    cells = _learned_ivf_cells(emb, query, ncells, n_iter, nprobe, scale, vec_col)
    return brute_topk(emb.join(cells, "vec_id"), query, k, vec_col)


def build_ivf_index(emb: DataFrame, path: str) -> None:
    """C4 index build: persist the corpus PARTITIONED BY cell id (here
    the label column; k-means cell assignment slots in identically).
    Probing then prunes unprobed cells at the file listing -- the scan
    never opens them. Build once, probe many: the index is a plain
    partitioned table, no sidecar format.

    Published through staging.publish: concurrent builders serialize on
    its lock, and a reader never observes a half-written index."""
    publish(path, lambda tmp: write_ivf_index(emb, tmp))


def write_ivf_index(emb: DataFrame, out: str) -> None:
    """The label-cell index build into ``out`` (build_ivf_index's
    build step; c04_ivf_persisted stages it under its source key)."""
    emb.write.mode("overwrite").partitionBy("label").parquet(out)
    _forget_rebuilt_indexes()


def ivf_persisted_topk(
    spark,
    emb: DataFrame,
    query: DataFrame,
    k: int,
    path: str,
    nprobe: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """C4 scale path against the PERSISTED index: pick the nprobe most
    query-similar cells from the (tiny, collected) centroid table --
    index metadata, like any ANN library's -- then scan ONLY those
    partitions (`isin` over the partition column = partition pruning,
    asserted in tests/test_plan_shapes.py) and exact re-rank inside.
    The index reader goes through the same session-scoped opened-index
    cache as the c51 scale lane (open once, probe many -- repeated
    probes never re-run partition discovery), and the centroid table
    is cached per (session, index): computing it is the one full-index
    aggregation in this path, and recomputing it per probe would make
    every 'pruned' query pay O(corpus) -- with the cache only the
    FIRST probe pays it (that is the index-open cost), later probes
    read the ncells cached rows. The ranking expression itself is
    unchanged (Spark-side round-4dp cosine, label tiebreak)."""
    build_ivf_index(emb, path)
    index = open_ivf_kmeans_index(spark, path)
    ckey = (id(spark), os.path.abspath(path), vec_col)
    cents = _PERSISTED_CENTROIDS.get(ckey)
    if cents is None:
        cents = label_centroids(index, vec_col).cache()
        _PERSISTED_CENTROIDS[ckey] = cents
    probed = _top_cells(cents, query, "label", _label_csim(), nprobe)
    probed = [r["label"] for r in probed.collect()]
    candidates = index.filter(F.col("label").isin(probed))
    return brute_topk(candidates, query, k, vec_col)


# ---- oracle-side twin of the k-means loop (SQL text generator;
# lives here, registry-free, so any suite can reference it without
# perturbing suite import order) ----

KM_K, KM_ITER, KM_SCALE = 4, 2, 1_000_000
KM_NPROBE = 2


def kmeans_oracle_ctes(k: int, n_iter: int, scale: int) -> str:
    """Unrolled Lloyd iteration as DuckDB CTEs. Exposes:
    q (vec_id, qv), c{i} centroid tables, and af -- the final
    (vec_id, cell) assignment against c{n_iter}."""
    dist = (
        "list_sum(list_transform(range(len(q.qv)), i -> "
        "(q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1])))"
    )
    parts = [
        f"""
  q AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
    FROM embeddings
  ),
  seeds AS (
    SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS h
    FROM q ORDER BY h, vec_id LIMIT {k}
  ),
  c0 AS (
    SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, qv AS cv
    FROM seeds
  )"""
    ]
    steps = [(i, f"c{i - 1}", f"a{i}") for i in range(1, n_iter + 1)]
    for i, prev, aname in steps:
        parts.append(
            f"""
  s{i} AS (
    SELECT q.vec_id, q.qv, c.cell, {dist} AS dist
    FROM q CROSS JOIN {prev} c
  ),
  {aname} AS (
    SELECT vec_id, qv, cell FROM (
      SELECT vec_id, qv, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cell) AS rn
      FROM s{i}) t WHERE rn = 1
  ),
  u{i} AS (
    SELECT cell, unnest(qv) AS x, unnest(range(len(qv))) AS pos FROM {aname}
  ),
  m{i} AS (
    SELECT cell, pos,
           CAST(FLOOR((2.0 * SUM(x) + COUNT(*))
                      / (2.0 * COUNT(*))) AS BIGINT) AS m
    FROM u{i} GROUP BY cell, pos
  ),
  n{i} AS (SELECT cell, list(m ORDER BY pos) AS cv FROM m{i} GROUP BY cell),
  c{i} AS (
    SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN n{i} n ON p.cell = n.cell
  )"""
        )
    parts.append(
        f"""
  sf AS (
    SELECT q.vec_id, q.qv, c.cell, {dist} AS dist
    FROM q CROSS JOIN c{n_iter} c
  ),
  af AS (
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cell) AS rn
      FROM sf) t WHERE rn = 1
  )"""
    )
    return ",".join(parts)


def int8_quantize(
    emb: DataFrame, scale: int = 1_000_000, vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """Symmetric int8 quantization of the embedding corpus on an
    INTEGER-DERIVED grid: components are first fixed-pointed
    (quantize_vectors), the global scale qmax = max |component| is an
    exact integer aggregate, and q8_d = round-half-up(127 * q_d / qmax)
    is computed as FLOOR((254*q + qmax) / (2*qmax)) in double -- exact
    while |254*q| < 2^53, identical on every engine. Returns
    (quantized corpus ``(vec_id, v8)``, the 1-row ``qmax`` table).

    Scale shape: qmax is one narrow in-row array_max + a global max
    (shuffle volume: 1 row); quantization is a map against the
    broadcast scalar. The int8 corpus is 4x smaller than float32 --
    the difference between an in-memory ANN index and a disk-bound one
    at 100 TB. Nothing in the grid depends on float accumulation
    order, so every integer similarity computed on it is reproducible
    bit-for-bit."""
    q = quantize_vectors(emb, scale, vec_col)
    qmax_row = q.agg(
        F.max(
            F.array_max(F.transform(F.col("qv"), lambda x: F.abs(x)))
        ).alias("qmax")
    )
    quant = q.crossJoin(F.broadcast(qmax_row)).select(
        "vec_id", _int8_grid("qv").alias("v8")
    )
    return quant, qmax_row


def _int8_grid(qv: str) -> Column:
    """round-half-up(127 * q / qmax) per component of the fixed-point
    array ``qv``, against the ``qmax`` column in the same row."""
    return F.transform(
        F.col(qv),
        lambda x: F.floor(
            (254.0 * x + F.col("qmax")) / (2.0 * F.col("qmax"))
        ).cast("long"),
    )


def int8_topk(
    emb: DataFrame, query: DataFrame, k: int, vec_col: str = "embedding"
) -> DataFrame:
    """Top-k by int8 cosine over the quantized corpus -- the
    compressed-index ANN path. The query is quantized on the SAME
    grid; dot and squared norms are exact integer folds; the one float
    step is a divide over two sqrts of exact operands (int_cosine), so
    the ranking -- ties broken by vec_id -- is reproducible bit-for-bit
    across engines. Re-rank survivors against the float vectors when
    calibrated scores are needed (c04)."""
    quant, qmax_row = int8_quantize(emb, vec_col=vec_col)
    qq = (
        query.select(fixed_point("qvec", 1_000_000).alias("qv"))
        .crossJoin(F.broadcast(qmax_row))
        .select(_int8_grid("qv").alias("qq8"))
    )
    scored = quant.crossJoin(F.broadcast(qq)).select(
        "vec_id",
        F.round(int_cosine(F.col("v8"), F.col("qq8")), 6).alias("sim8"),
    )
    return scored.orderBy(F.desc("sim8"), "vec_id").limit(k)



# ------------------------------------------------- product quantization

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace (codebook rows = PQ_M * PQ_K)
PQ_ITER = 2  # Lloyd rounds per subspace
PQ_TOPC = 30  # ADC candidates kept for exact re-rank
IVFPQ_TOPC = 60  # composed index keeps a deeper candidate pool: the
# coarse probe already cut the corpus, so candidates are cheap, and
# the extra depth absorbs ADC misranking near the quantization floor
# (measured: recall@10 4 -> 7 of 10 going 30 -> 60 on the fixture)


def pq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = PQ_ITER,
    scale: int = 1_000_000,
    topc: int = PQ_TOPC,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    and exact re-rank -- the third member of the compressed-index
    family (IVF prunes BY CELL, int8 shrinks components, PQ shrinks
    each vector to m_sub CODES: 8 bytes here vs 256 for float32).

    Pipeline (every arithmetic step fixed-point integer, so the whole
    thing -- codebook, codes, candidate set, final ranking -- is
    reproducible bit-for-bit across engines and partial-agg orders,
    and hash-certifiable):
    1. codebooks: one Lloyd loop over SUBVECTORS keyed by subspace m --
       all m_sub codebooks train in the same jobs (the per-iteration
       shuffle carries m_sub*k_codes*subdim partial sums, independent
       of corpus size). Seeds are the k_codes smallest-md5 vectors'
       subvectors (same engine-portable rule as kmeans_cells); empty
       codes keep their previous centroid.
    2. encode: argmin centroid per (vec_id, m) via min(struct) -- the
       corpus is scanned against a broadcast codebook, never shuffled
       by content; the code table is the 32x-smaller persistable index.
    3. ADC: the query's per-(m, code) partial dot products and centroid
       partial norms are a broadcast m_sub*k_codes integer table; each
       vector's approximate cosine is one groupBy(vec_id) over its
       m_sub code rows. At query time against a PERSISTED code table
       this is the only per-corpus work -- no float vectors touched.
    4. exact re-rank of the top-``topc`` ADC candidates (left_semi back
       to the float corpus), c04's convention: round(sim,4), ties by
       vec_id.

    At 100 TB: train on a sample, persist codebook + code table; the
    ADC scan reads 8 bytes/vector and the re-rank touches ``topc``
    rows. Recall is property-tested (tests/test_properties.py)."""
    approx = _pq_adc(emb, query, m_sub, k_codes, n_iter, scale, vec_col)
    return _rerank(approx, topc, emb, query, k, vec_col)


def _pq_adc(
    emb: DataFrame,
    query: DataFrame,
    m_sub: int,
    k_codes: int,
    n_iter: int,
    scale: int,
    vec_col: str,
    scope: DataFrame | None = None,
) -> DataFrame:
    """Shared PQ pipeline through ADC scoring: train per-subspace
    codebooks, encode the corpus, score each vector's approximate
    cosine against the query -- returns (vec_id, adc_sim). pq_topk
    takes the global top candidates; ivfpq_topk passes ``scope`` (a
    vec_id relation, its IVF probe set) so the ADC join/aggregation
    runs ONLY over probed vectors -- scoring all cells and discarding
    (ncells - nprobe)/ncells of the work afterwards would forfeit the
    IVF pruning this composition exists for. Codebook TRAINING always
    sees the full corpus (the codebook is a function of the corpus,
    pinned by the unrolled oracle), and restricting the per-vector
    scoring commutes with the vec_id semi-join, so results are
    identical.

    A dim that ``m_sub`` does not divide is refused (build_ivfpq_index's
    rule): the split would silently drop the trailing components."""
    dim = len(emb.select(vec_col).first()[0])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")

    sd = dim // m_sub

    def split(rel, keep, vec, out):
        # one row per subspace m holding the m-th of m_sub slices
        return rel.select(
            *keep,
            F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m"),
            F.col(vec),
        ).select(*keep, "m", F.slice(vec, F.col("m") * sd + 1, sd).alias(out))

    q = quantize_vectors(emb, scale, vec_col).localCheckpoint()
    subs = split(q, ["vec_id"], "qv", "sv")
    seeds = _md5_seeds(q, k_codes).select(F.col("seed_ord").alias("code"), "qv")
    cents = split(seeds, ["code"], "qv", "cv").localCheckpoint()
    for _ in range(n_iter):
        cents = _lloyd_step(subs, cents, ["vec_id"], "sv", "code", on=["m"])

    # the final ENCODE pass is scoped to the probe set too (the Lloyd
    # training rounds above always saw the full corpus): the per-vector
    # argmin over the codebook is the dominant per-row cost, and an
    # unprobed vector's code would be discarded unread
    enc_subs = (
        subs if scope is None else subs.join(scope, "vec_id", "left_semi")
    )
    codes = _nearest(enc_subs, cents, ["vec_id"], "sv", "code", on=["m"])

    qv = query.select(fixed_point("qvec", scale).alias("qq"))
    adc_table = cents.join(F.broadcast(split(qv, [], "qq", "qsv")), "m").select(
        "m",
        "code",
        _idot(F.col("cv"), F.col("qsv")).alias("pdot"),
        _idot(F.col("cv"), F.col("cv")).alias("pnorm"),
    )
    qnorm = qv.select(_idot(F.col("qq"), F.col("qq")).alias("qn"))
    return (
        codes.select("vec_id", "m", "code")
        .join(F.broadcast(adc_table), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.sum("pdot").alias("dot_adc"),
            F.sum("pnorm").alias("norm_adc"),
        )
        .crossJoin(F.broadcast(qnorm))
        .select(
            "vec_id",
            # try_divide: the codebook norm is floored (greatest) but a
            # zero-norm QUERY would still 0/0 -- ANSI abort, or a NaN
            # that sorts first under desc(adc_sim) and makes the whole
            # candidate set arbitrary. NULL matches the zero-norm
            # contract of the scale lane (ivfpq_scale_topk's Arrow
            # path) and of cosine() itself.
            F.try_divide(
                F.col("dot_adc").cast("double"),
                F.sqrt(
                    F.greatest(F.col("norm_adc"), F.lit(1)).cast("double")
                )
                * F.sqrt(F.col("qn").cast("double")),
            ).alias("adc_sim"),
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    ncells: int = KM_K,
    km_iter: int = KM_ITER,
    nprobe: int = KM_NPROBE,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    pq_iter: int = PQ_ITER,
    scale: int = 1_000_000,
    topc: int = IVFPQ_TOPC,
    vec_col: str = "embedding",
) -> DataFrame:
    """The production ANN composition (FAISS IVFPQ shape): a LEARNED
    coarse quantizer prunes the corpus to ~nprobe/ncells, and inside
    the probed cells the 8-byte PQ codes are ADC-scored -- so a query
    reads neither unprobed cells NOR float vectors until the final
    exact re-rank of ``topc`` candidates. IVF cuts WHAT is scanned,
    PQ cuts HOW MUCH each scanned row costs; composed, the per-query
    byte cost is (nprobe/ncells) * 8 bytes/vector + topc floats.

    Codes here quantize the raw vectors (FAISS by_residual=false);
    the residual variant (encode vector - cell centroid) drops into
    the same dataflow by subtracting the broadcast centroid before
    _pq_adc's encode. Every step stays fixed-point integer, so cell
    choice, codes, candidate set, and ranking are engine-exact and
    the whole composition is hash-certified against the two unrolled
    oracles joined (suites/llm_extensions.py c63)."""
    in_cells = _learned_ivf_cells(emb, query, ncells, km_iter, nprobe, scale, vec_col)
    # the probe set scopes the ADC scoring INSIDE _pq_adc (encode/score
    # only probed vectors); scoring everything and semi-joining after
    # threw away (ncells - nprobe)/ncells of the dominant scan
    approx = _pq_adc(
        emb, query, m_sub, k_codes, pq_iter, scale, vec_col, scope=in_cells
    )
    return _rerank(approx, topc, emb, query, k, vec_col)


def pq_oracle_ctes(
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    n_iter: int = PQ_ITER,
    scale: int = 1_000_000,
    topc: int = PQ_TOPC,
) -> str:
    """The PQ pipeline unrolled as DuckDB CTEs, mirroring pq_topk
    step-for-step (same seeds, same round-half-up centroid means, same
    integer ADC, same tie-breaks). Exposes ``pq_cands`` -- the
    ``topc``-row ADC candidate set (vec_id, adc_sim)."""
    dist = (
        "list_sum(list_transform(range(len(s.sv)), i -> "
        "(s.sv[i+1] - c.cv[i+1]) * (s.sv[i+1] - c.cv[i+1])))"
    )
    parts = [
        f"""
  pqq AS (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
    FROM embeddings
  ),
  pqsubs AS (
    SELECT vec_id, t.m,
           qv[t.m * (len(qv) // {m_sub}) + 1 :
              (t.m + 1) * (len(qv) // {m_sub})] AS sv
    FROM pqq CROSS JOIN range({m_sub}) t(m)
  ),
  pqseeds AS (
    SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS h
    FROM pqq ORDER BY h, vec_id LIMIT {k_codes}
  ),
  pqc0 AS (
    SELECT t.m, s.code,
           s.qv[t.m * (len(s.qv) // {m_sub}) + 1 :
                (t.m + 1) * (len(s.qv) // {m_sub})] AS cv
    FROM (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code, qv
          FROM pqseeds) s
    CROSS JOIN range({m_sub}) t(m)
  )"""
    ]
    for i in range(1, n_iter + 1):
        prev = f"pqc{i - 1}"
        parts.append(
            f"""
  pqs{i} AS (
    SELECT s.vec_id, s.m, s.sv, c.code, {dist} AS dist
    FROM pqsubs s JOIN {prev} c ON s.m = c.m
  ),
  pqa{i} AS (
    SELECT vec_id, m, sv, code FROM (
      SELECT vec_id, m, sv, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY dist, code) AS rn
      FROM pqs{i}) t WHERE rn = 1
  ),
  pqu{i} AS (
    SELECT m, code, unnest(sv) AS x, unnest(range(len(sv))) AS pos
    FROM pqa{i}
  ),
  pqm{i} AS (
    SELECT m, code, pos,
           CAST(FLOOR((2.0 * SUM(x) + COUNT(*))
                      / (2.0 * COUNT(*))) AS BIGINT) AS mu
    FROM pqu{i} GROUP BY m, code, pos
  ),
  pqn{i} AS (
    SELECT m, code, list(mu ORDER BY pos) AS cv FROM pqm{i}
    GROUP BY m, code
  ),
  pqc{i} AS (
    SELECT p.m, p.code, COALESCE(n.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN pqn{i} n
      ON p.m = n.m AND p.code = n.code
  )"""
        )
    parts.append(
        f"""
  pqsf AS (
    SELECT s.vec_id, s.m, c.code, {dist} AS dist
    FROM pqsubs s JOIN pqc{n_iter} c ON s.m = c.m
  ),
  pqcodes AS (
    SELECT vec_id, m, code FROM (
      SELECT vec_id, m, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY dist, code) AS rn
      FROM pqsf) t WHERE rn = 1
  ),
  pqquery AS (
    SELECT list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qq
    FROM embeddings WHERE vec_id = 0
  ),
  pqqsubs AS (
    SELECT t.m,
           qq[t.m * (len(qq) // {m_sub}) + 1 :
              (t.m + 1) * (len(qq) // {m_sub})] AS qsv
    FROM pqquery CROSS JOIN range({m_sub}) t(m)
  ),
  pqadc AS (
    SELECT c.m, c.code,
           list_sum(list_transform(range(len(c.cv)),
             i -> c.cv[i+1] * q.qsv[i+1])) AS pdot,
           list_sum(list_transform(c.cv, x -> x * x)) AS pnorm
    FROM pqc{n_iter} c JOIN pqqsubs q ON c.m = q.m
  ),
  pqqnorm AS (
    SELECT list_sum(list_transform(qq, x -> x * x)) AS qn FROM pqquery
  ),
  pq_cands AS (
    SELECT vec_id,
           CAST(SUM(a.pdot) AS DOUBLE)
           / (sqrt(CAST(GREATEST(SUM(a.pnorm), 1) AS DOUBLE))
              * sqrt(CAST((SELECT qn FROM pqqnorm) AS DOUBLE)))
             AS adc_sim
    FROM pqcodes k JOIN pqadc a ON k.m = a.m AND k.code = a.code
    GROUP BY vec_id
    ORDER BY adc_sim DESC, vec_id LIMIT {topc}
  )"""
    )
    return ",".join(parts)


# ------------------------------------------------------------------ c51 scale
# The registered c51 (ivf_kmeans_topk) is the CORRECTNESS form: exact
# fixed-point Lloyd over every vector, hash-certified against an
# unrolled-CTE oracle. Past ~1M vectors nobody trains that way -- the
# standard serving design (what FAISS does) trains the coarse codebook
# on a SAMPLE, assigns the full corpus with one BLAS pass, persists
# partitioned by cell, and probes with partition pruning. These three
# functions are that lane; SCALE.md records the measured 5M-vector
# numbers next to the brute/Arrow lanes.


def sampled_codebook(
    emb,
    k: int,
    sample_size: int = 100_000,
    n_iter: int = 10,
    vec_col: str = "embedding",
):
    """Train a k-cell codebook driver-side on a deterministic sample.

    Sample = two deterministic steps: a scan-side xxhash64(vec_id)
    threshold keeps ~1.25 x sample_size candidates (no shuffle, no
    per-partition driver collection -- see the in-function comment),
    then the exact ``sample_size`` smallest-md5(vec_id) rows of that
    candidate set are taken (TakeOrderedAndProject). Content-
    independent and reproducible for a given Spark build, but NOT
    engine-portable (xxhash64 is a Spark builtin): this is a serving
    lane, pinned by its own tests, not an oracle-certified path --
    cross-engine reproduction is the registered c50/c51 fixed-point
    loop's job. Lloyd runs in numpy with argmin over a chunked
    distance matmul; empty cells keep their previous centroid.
    Returns a (k, dim) float64 ndarray.

    At 100 TB this is the only part of IVF that is NOT distributed --
    deliberately: a 100k-row sample bounds driver memory at ~50 MB and
    codebook quality does not improve with corpus-scale training
    (quantizer distortion is a property of the distribution, not the
    row count)."""
    return _lloyd_np(
        _det_sample_rows(emb, sample_size, vec_col), k, n_iter
    )


def _det_sample_rows(emb, sample_size: int, vec_col: str):
    """The deterministic training sample shared by every learned-index
    builder (IVF coarse codebook, PQ subspace codebooks): float64
    ndarray of ``sample_size`` vectors. See sampled_codebook for the
    determinism/scale rationale."""
    import numpy as np

    # Two-step deterministic sample. A bare orderBy(h).limit(S) plans as
    # TakeOrderedAndProject, which ships EVERY task's per-partition
    # top-S to the driver -- at 5M x 32 partitions that is 31 x S rows
    # and blows spark.driver.maxResultSize. Pre-filtering on a hash
    # threshold (scan-side, no shuffle) cuts the candidate set to
    # ~1.25 x S first; the exact top-S by md5 then runs over only that.
    n = emb.count()
    cand = emb.select("vec_id", vec_col)
    if n > sample_size:
        # margin: 1.25x expected plus a 6-sigma binomial cushion + 64.
        # The multiplicative 1.25x alone undershoots small samples with
        # real probability (S=16 -> expected 20 kept, P(<16) ~ 15%);
        # the additive cushion drives undershoot to ~0 at every S while
        # staying negligible at the default 100k (~2% extra candidates).
        target = sample_size * 1.25 + 6 * sample_size**0.5 + 64
        # floor at 1 ppm: past ~10^11 rows the threshold would round to
        # zero and silently empty the sample; 1 ppm of any such corpus
        # still clears sample_size
        keep_ppm = max(1, min(1_000_000, -(-int(target) * 1_000_000 // n)))
        cand = cand.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_000)) < keep_ppm
        )
    rows = (
        cand.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    if len(rows) < min(sample_size, n):
        # the ppm margin undershot: retrain on the unfiltered exact
        # top-S rather than silently degrading codebook quality with a
        # smaller sample. This pays a full-corpus TakeOrdered -- with
        # the 6-sigma additive cushion above it is a last-resort safety
        # net (expected only when sample_size ~ n, where the corpus is
        # ~sample_size rows anyway), not a probable path.
        rows = (
            emb.select("vec_id", vec_col)
            .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_h", "vec_id")
            .limit(sample_size)
            .select(vec_col)
            .collect()
        )
        assert len(rows) >= min(sample_size, n), (
            f"codebook sample undershot even unfiltered: got {len(rows)}"
            f" of min({sample_size}, {n})"
        )
    return np.array([r[0] for r in rows], dtype=np.float64)


def _lloyd_np(x, k: int, n_iter: int):
    """Driver-side Lloyd loop over a (n, dim) float64 sample: seeds are
    the first k sample rows (the sample is md5-ordered, so seeding is
    deterministic), argmin over a chunked distance matmul, empty cells
    keep their previous centroid. Returns (k, dim) float64."""
    import numpy as np

    n = x.shape[0]
    k = min(k, n)
    cents = x[:k].copy()
    for _ in range(n_iter):
        assign = np.concatenate(
            [_nearest_np(x[lo : lo + 65536], cents) for lo in range(0, n, 65536)]
        )
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _nearest_np(x, cents):
    """Row-wise argmin over squared L2 to the rows of ``cents``:
    |x|^2 - 2 x.c + |c|^2 with the row-constant |x|^2 dropped; ties go
    to the smaller index (np.argmin)."""
    import numpy as np

    c2 = (cents * cents).sum(axis=1)
    return np.argmin(c2[None, :] - 2.0 * (x @ cents.T), axis=1)


def _top_cells_np(cents, q, nprobe: int) -> list[int]:
    """The driver-side cell probe of the scale lanes: the ``nprobe``
    rows of ``cents`` with the highest float cosine to ``q``; a
    zero-norm centroid or query ranks last."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (cents @ q) / (
            np.linalg.norm(cents, axis=1) * np.linalg.norm(q)
        )
    sims = np.nan_to_num(sims, nan=-np.inf)
    return [int(c) for c in np.argsort(-sims)[:nprobe]]


def assign_cells_arrow(emb, codebook, vec_col: str = "embedding"):
    """Assign every corpus vector to its nearest codebook cell in one
    Arrow/BLAS pass (mapInPandas; one argmin-matmul per batch). The
    codebook ships via broadcast; output is (vec_id, cell) + the
    original vector so the result can be written partitioned by cell
    directly. Shuffle-free: assignment is a narrow map."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    bc = emb.sparkSession.sparkContext.broadcast(
        np.asarray(codebook, dtype=np.float64)
    )
    # carry the INPUT vector type through: hardcoding array<float>
    # would silently truncate a float64 corpus in the persisted index,
    # and the probe's "exact re-rank" would then round differently
    # from brute_topk over the original vectors
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField(vec_col, emb.schema[vec_col].dataType),
            StructField("cell", IntegerType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    vec_col: pdf[vec_col].values,
                    "cell": _nearest_np(m, bc.value).astype(np.int32),
                }
            )

    return emb.select("vec_id", vec_col).mapInPandas(assign, schema)


def build_ivf_kmeans_index(
    spark,
    emb,
    path: str,
    ncells: int,
    sample_size: int = 100_000,
    n_iter: int = 10,
    vec_col: str = "embedding",
):
    """One-time c51-scale index build: sampled codebook -> Arrow
    assignment -> corpus persisted PARTITIONED BY cell (published
    through staging.publish, like build_ivf_index). The codebook is saved
    next to the partitions (centroids.npy) so probing never retrains.
    Returns the codebook."""
    import numpy as np

    def build(tmp: str) -> None:
        codebook = sampled_codebook(emb, ncells, sample_size, n_iter, vec_col)
        # repartition by cell before the partitioned write: each cell's rows
        # land in exactly one task, so each cell directory holds ONE file.
        # Without it every writer task emits a file per cell it touches --
        # measured 31 x 2,236 ~ 70k small files at 5M vectors, and the
        # per-query partition LISTING of those (a 2,236-task discovery job)
        # cost more than the probe itself (~3.4 s flat across nprobe).
        # The small-files problem is the classic partitioned-table killer;
        # compaction at build time is the fix.
        assign_cells_arrow(emb, codebook, vec_col).repartition(
            int(codebook.shape[0]), "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(tmp)
        np.save(os.path.join(tmp, "centroids.npy"), codebook)
        _forget_rebuilt_indexes()

    publish(path, build)
    return np.load(os.path.join(path, "centroids.npy"))


# Opened-index cache: serving opens an index ONCE and probes many
# times. A fresh spark.read.parquet per probe rebuilds the file index
# (partition discovery re-lists every cell directory -- a multi-second
# Spark job at thousands of cells); reusing the analyzed DataFrame
# keeps the listing in memory so a probe plans straight to the pruned
# scan. Keyed by (id(session), path); safe against id() reuse because
# each cached DataFrame strongly references its session, so a live
# entry pins the session object and its address can't be recycled.
# Entries whose session has been STOPPED are lazily evicted on the
# next open (otherwise they'd pin the dead session forever and a probe
# against one raises on a stopped context); an in-process rebuild at
# the same path evicts through build_ivf_kmeans_index.
_OPEN_INDEXES: dict[tuple[int, str], "DataFrame"] = {}

# cached per-(session, index, vec_col) centroid tables for the
# persisted LABEL-cell index (ivf_persisted_topk); lifecycle follows
# _OPEN_INDEXES (stopped-session eviction, rebuild eviction)
_PERSISTED_CENTROIDS: dict[tuple[int, str, str], "DataFrame"] = {}


def _evict_centroid(key) -> None:
    """Drop a cached centroid entry AND release its storage: the
    DataFrames in _PERSISTED_CENTROIDS are .cache()'d, so deleting the
    dict entry alone leaks the cached relation in Spark storage memory
    for the life of the session (one leak per rebuild). unpersist is
    guarded -- a stopped session has no context to unpersist against."""
    df = _PERSISTED_CENTROIDS.pop(key, None)
    if df is not None and not session_stopped(df):
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session died between the check and the call


def _forget_rebuilt_indexes() -> None:
    """Drop the opened-index and centroid cache entries of every index
    dir that is not published. Every index build calls this, and a
    build only runs while its own path is unpublished (staging.publish),
    so a rebuild at a cached path never serves the old file listing or
    centroid table in this process."""
    for k in list(_OPEN_INDEXES):
        if not is_published(k[1]):
            _OPEN_INDEXES.pop(k, None)
    for k in list(_PERSISTED_CENTROIDS):
        if not is_published(k[1]):
            _evict_centroid(k)


def open_ivf_kmeans_index(spark, path: str):
    for k in [k for k, v in _OPEN_INDEXES.items() if session_stopped(v)]:
        del _OPEN_INDEXES[k]
    for k in [
        k for k, v in _PERSISTED_CENTROIDS.items() if session_stopped(v)
    ]:
        _evict_centroid(k)
    key = (id(spark), os.path.abspath(path))
    df = _OPEN_INDEXES.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _OPEN_INDEXES[key] = df
    return df


def ivf_kmeans_scale_topk(
    spark,
    query,
    k: int,
    path: str,
    nprobe: int,
    vec_col: str = "embedding",
):
    """Probe a build_ivf_kmeans_index index: rank cells driver-side
    against the saved codebook (index metadata, numpy), scan ONLY the
    nprobe winning partitions (`isin` on the partition column =
    partition pruning at file listing), exact cosine re-rank inside --
    brute_topk's contract (round-4dp sim, vec_id tiebreak, NULL for
    zero norms) over the candidate set."""
    import numpy as np

    cents = np.load(os.path.join(path, "centroids.npy"))
    q = np.asarray(query.select("qvec").first()["qvec"], dtype=np.float64)
    probed = _top_cells_np(cents, q, nprobe)
    index = open_ivf_kmeans_index(spark, path)
    candidates = index.filter(F.col("cell").isin(probed))
    return brute_topk(candidates, query, k, vec_col)


def build_ivfpq_index(
    spark,
    emb,
    path: str,
    ncells: int,
    m_sub: int = 8,
    k_codes: int = 256,
    sample_size: int = 100_000,
    n_iter: int = 10,
    vec_col: str = "embedding",
):
    """One-time PQ / IVFPQ serving-index build (the scale twin of the
    hash-certified c57/c63 fixed-point lanes, exactly as
    build_ivf_kmeans_index is c51's scale twin): train the coarse
    codebook AND the m_sub per-subspace PQ codebooks driver-side on
    one deterministic sample (_det_sample_rows), then encode the whole
    corpus in ONE Arrow pass -- each vector becomes its coarse cell +
    m_sub uint8 codes -- and persist the code table partitioned by
    cell (one compacted file per cell; see build_ivf_kmeans_index for
    why). ``ncells=1`` builds a flat PQ index: no coarse quantizer, no
    partitioning, no shuffle before the write.

    The persisted table stores ONLY (vec_id, codes[m_sub]) + the cell
    partition column -- m_sub bytes of payload per vector vs
    4*dim for the float corpus (32x at dim=64, m_sub=8): this is the
    measured artifact behind the '32x-smaller index' claim, and the
    per-probe scan cost is what tools/ann_panel.py records.
    Codebooks are saved beside the partitions (pq_codebooks.npy,
    centroids.npy when ncells > 1), so probing never retrains.
    Returns (coarse_codebook | None, pq_codebooks)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    def build(tmp: str) -> None:
        x = _det_sample_rows(emb, sample_size, vec_col)
        dim = x.shape[1]
        if dim % m_sub:
            raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
        sd = dim // m_sub
        coarse = _lloyd_np(x, ncells, n_iter) if ncells > 1 else None
        pq = np.stack(
            [
                _lloyd_np(
                    np.ascontiguousarray(x[:, m * sd : (m + 1) * sd]),
                    k_codes,
                    n_iter,
                )
                for m in range(m_sub)
            ]
        )

        bc = spark.sparkContext.broadcast((coarse, pq))
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("codes", ArrayType(ShortType())),
                StructField("cell", IntegerType()),
            ]
        )

        def encode(batches):
            co, cbs = bc.value
            for pdf in batches:
                mvec = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                cell = (
                    _nearest_np(mvec, co).astype(np.int32)
                    if co is not None
                    else np.zeros(len(mvec), dtype=np.int32)
                )
                codes = np.empty((len(mvec), len(cbs)), dtype=np.int16)
                for m, cb in enumerate(cbs):
                    codes[:, m] = _nearest_np(mvec[:, m * sd : (m + 1) * sd], cb)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].values,
                        "codes": list(codes),
                        "cell": cell,
                    }
                )

        encoded = emb.select("vec_id", vec_col).mapInPandas(encode, schema)
        if coarse is not None:
            # one compacted file per cell -- same 70k-small-files lesson as
            # build_ivf_kmeans_index
            encoded.repartition(int(coarse.shape[0]), "cell").write.mode(
                "overwrite"
            ).partitionBy("cell").parquet(tmp)
        else:
            encoded.drop("cell").write.mode("overwrite").parquet(tmp)
        # underscore prefix: Spark/Hadoop file listing skips _-prefixed
        # files, so the sidecars never surface as data files (the flat PQ
        # layout has no partition dirs to hide them behind)
        np.save(os.path.join(tmp, "_pq_codebooks.npy"), pq)
        if coarse is not None:
            np.save(os.path.join(tmp, "_centroids.npy"), coarse)
        _forget_rebuilt_indexes()

    publish(path, build)
    cb_path = os.path.join(path, "_centroids.npy")
    coarse = np.load(cb_path) if os.path.exists(cb_path) else None
    return coarse, np.load(os.path.join(path, "_pq_codebooks.npy"))


def ivfpq_scale_topk(
    spark,
    query,
    k: int,
    path: str,
    nprobe: int = 0,
    topc: int = 200,
    rerank_emb=None,
    vec_col: str = "embedding",
):
    """Probe a build_ivfpq_index index: rank cells driver-side against
    the saved coarse codebook (skipped for a flat PQ index), scan ONLY
    the probed partitions, ADC-score the codes in one Arrow pass
    against the query's per-(subspace, code) lookup tables (a
    numpy gather -- the scan reads m_sub bytes per vector and touches
    no floats), take the ``topc`` best approximate candidates, and
    exact-rerank them against ``rerank_emb`` (the float corpus) under
    brute_topk's contract. With rerank_emb=None the raw ADC ranking is
    returned -- recall is then the pure code-table quality, which is
    what the panel's no-rerank rows measure."""
    import numpy as np

    pq = np.load(os.path.join(path, "_pq_codebooks.npy"))
    cb_path = os.path.join(path, "_centroids.npy")
    index = open_ivf_kmeans_index(spark, path)
    q = np.asarray(query.select("qvec").first()["qvec"], dtype=np.float64)
    if os.path.exists(cb_path) and nprobe > 0:
        probed = _top_cells_np(np.load(cb_path), q, nprobe)
        index = index.filter(F.col("cell").isin(probed))

    m_sub, k_codes, sd = pq.shape
    lut_dot = np.stack(
        [pq[m] @ q[m * sd : (m + 1) * sd] for m in range(m_sub)]
    )
    lut_norm = (pq * pq).sum(axis=2)
    qn = float(np.linalg.norm(q))
    bc = spark.sparkContext.broadcast((lut_dot, lut_norm, qn))

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("adc_sim", DoubleType()),
        ]
    )

    def score(batches):
        ld, ln, qnorm = bc.value
        rows = np.arange(ld.shape[0])
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            if qnorm:
                dots = ld[rows[None, :], codes].sum(axis=1)
                norms = np.sqrt(
                    np.maximum(ln[rows[None, :], codes].sum(axis=1), 1e-30)
                )
                sims = dots / (norms * qnorm)
                sims = np.where(np.isnan(sims), None, sims)
            else:
                # zero-norm query -> NULL sims (sort LAST under desc),
                # the module-wide try_divide contract. A NaN here would
                # sort FIRST under Spark's desc ordering and hand the
                # no-rerank caller k arbitrary NaN-scored "top" rows.
                sims = np.full(len(pdf), None, dtype=object)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "adc_sim": sims}
            )

    approx = index.select("vec_id", "codes").mapInPandas(score, schema)
    return _rerank(approx, topc, rerank_emb, query, k, vec_col)
