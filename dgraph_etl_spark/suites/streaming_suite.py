"""Streaming suite (SURVEY.md B35-B40 + EP1-as-streaming, §3/§7 step 5).

Each query builds a real Structured Streaming job over the events
fixture (file source, event-time column ``ts``), runs it to completion
with ``trigger(availableNow=True)`` into a memory sink, and returns the
sink table — bounded and deterministic, so the DuckDB oracle can
hash-match the result exactly. The reference's streaming story is a
manually-checkpointed Elasticsearch scroll (elastic.go:44-102,
etl.go:19 `-watermark` flag); here watermarks, state, and retries are
the engine's (SURVEY.md A5, A11, A12 streaming forms).

Determinism conventions (registry docstring): window bounds emitted as
epoch micros, double sums via DECIMAL(18,6), counts as bigint.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..pipeline.edges import (
    explode_bidirectional,
    max_score_per_edge,
    merge_max_with_existing,
)
from ..functions import similarity as _sim
from ..functions.dedup import md5_int60
from ..registry import register
from ..streaming.core import (
    earlier_epoch_dirs,
    events_stream,
    late_data_source,
    run_to_memory,
    write_epoch,
)
from ..views import oracle_with_views

_WM = "30 minutes"


def _dec_sum(col: str) -> Column:
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double")


@register(
    "s01_tumbling_counts",
    """
    SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def s01_tumbling_counts(spark, sf_dir):
    """B35+B36: watermarked tumbling-window aggregation (1h windows by
    event_type). Complete output mode => every window is emitted, which
    is exactly the batch GROUP BY — the oracle proves stream/batch
    equivalence."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dec_sum("value").alias("total_value"),
    )
    out = run_to_memory(agg, "complete", "s01_tumbling")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "s02_sliding_counts",
    """
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS ws,
             value
      FROM events
    )
    SELECT epoch_us(ws) AS window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM w GROUP BY ws
    """,
)
def s02_sliding_counts(spark, sf_dir):
    """B36: sliding-window aggregation (1h window, 30m slide — each
    event lands in exactly 2 windows; the oracle unnests both starts)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dec_sum("value").alias("total_value"),
    )
    out = run_to_memory(agg, "complete", "s02_sliding")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start"),
        "n_events",
        "total_value",
    )


@register(
    "s03_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 15 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    grouped AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start,
           epoch_us(MAX(ts) + INTERVAL 15 MINUTE) AS session_end,
           COUNT(*) AS n_events
    FROM grouped GROUP BY user_id, sess
    """,
)
def s03_session_windows(spark, sf_dir):
    """B37: per-user session windows, 15-minute gap. Spark's
    session_window end = last event + gap; the oracle reproduces it
    with a gaps-and-islands window (break at lag >= gap)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    agg = ev.groupBy(
        F.session_window(F.col("ts"), "15 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = run_to_memory(agg, "complete", "s03_session")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start"),
        F.unix_micros(F.col("session_window.end")).alias("session_end"),
        "n_events",
    )


@register(
    "s04_stream_dedup",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events
    """,
)
def s04_stream_dedup(spark, sf_dir):
    """B38/A11 streaming form: the input stream self-unioned (every
    record delivered twice — at-least-once semantics) then
    dropDuplicatesWithinWatermark(event_id): each record survives
    exactly once; state for keys older than the watermark is evicted
    (the reference's uMap never evicts — its 100 TB failure mode)."""
    ev = events_stream(spark, sf_dir)
    dup = ev.union(events_stream(spark, sf_dir)).withWatermark("ts", _WM)
    dd = dup.dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_memory(dd, "append", "s04_dedup")
    return out.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register(
    "s05_streaming_max_per_key",
    """
    SELECT user_id, event_type, MAX(value) AS max_value
    FROM events GROUP BY user_id, event_type
    """,
)
def s05_streaming_max_per_key(spark, sf_dir):
    """B39/A12 streaming form: running MAX per key over the stream
    (max is order-insensitive, so no decimal detour is needed)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    agg = ev.groupBy("user_id", "event_type").agg(
        F.max("value").alias("max_value")
    )
    return run_to_memory(agg, "complete", "s05_maxkey")


@register(
    "s06_late_data_drop",
    """
    WITH bounds AS (
      SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
    ),
    cuts AS (
      SELECT lo + ((hi - lo) // 3) AS c1, lo + 2 * ((hi - lo) // 3) AS c2
      FROM bounds
    ),
    -- replay batch 1: first third of event time, stragglers held back
    b1 AS (
      SELECT e.* FROM events e, cuts
      WHERE epoch_us(ts) < c1 AND event_id % 97 <> 0
    ),
    -- the row-filtering watermark in effect while batch 3 processes
    -- (computed from batch 1; takes effect one batch later). Spark
    -- tracks event-time watermarks at MILLISECOND precision, so the
    -- max is truncated to the ms before subtracting the delay (s19's
    -- convention) -- without it a straggler inside the sub-ms window
    -- [floor_ms(M)-30min, M-30min) is kept by Spark but dropped here
    wm AS (
      SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 1800000000 AS w_us
      FROM b1
    )
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events e, cuts, wm
    -- COALESCE: a NULL-ts straggler makes the conjunction NULL, and
    -- WHERE NOT NULL would drop a row Spark keeps (its watermark
    -- filter drops only rows PROVABLY behind the watermark)
    WHERE NOT COALESCE(                   -- late = held-back straggler
      event_id % 97 = 0 AND epoch_us(ts) < c2   -- replayed in batch 3
      AND epoch_us(ts) < wm.w_us                -- behind the watermark
    , FALSE)
    """,
)
def s06_late_data_drop(spark, sf_dir):
    """B40: rows behind the watermark are dropped. The source replays
    events in 3 micro-batches (thirds of event time; stragglers
    event_id%97==0 from the first two thirds are held back into batch
    3). A watermarked dropDuplicates sees the stragglers arrive behind
    the batch-1 watermark and drops them; everything else passes.
    The oracle replays the watermark protocol in SQL. (3 batches, not
    2: the filter watermark for batch N is computed from batches
    0..N-2 — see streaming/core.late_data_source.)"""
    ev = events_stream(spark, sf_dir, path=late_data_source(sf_dir))
    dd = ev.withWatermark("ts", _WM).dropDuplicates(["event_id", "ts"])
    out = run_to_memory(dd, "append", "s06_late")
    return out.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register(
    "s09_foreachbatch_merge",
    oracle_with_views("SELECT src, dst, score FROM edges"),
)
def s09_foreachbatch_merge(spark, sf_dir):
    """A13 streaming form — EP1's merge-with-the-stored-graph semantics
    (reference dgraph.go:110-133: update the edge only if the new score
    beats what the graph already holds). foreachBatch reuses the BATCH
    pipeline functions verbatim: per micro-batch, aggregate the batch's
    edges and max-merge them into a versioned parquet edge table (the
    'stored graph'); three replay batches exercise merge-against-state
    twice. The final stored table must equal the one-shot batch edges
    view — EP1 (merge with sink state) and EP2 (in-run state only)
    converge on the same result, which SURVEY.md §3 calls out as the
    semantic difference our engine must honor both sides of."""
    import os

    from ..streaming.core import run_foreach_batch, scratch_state_root
    from ..views import derive_user_relationship

    root = scratch_state_root("s09")
    ev = events_stream(spark, sf_dir, path=late_data_source(sf_dir))
    new_edges = explode_bidirectional(derive_user_relationship(ev))

    def merge_batch(batch_df, epoch_id):
        sp = batch_df.sparkSession
        # state reads from STRICTLY-EARLIER epochs only, writes to a
        # per-epoch overwrite dir: the replay-safe store discipline,
        # shared via streaming.core (earlier_epoch_dirs/write_epoch)
        # and fuzzed under random batch boundaries + replays in
        # tests/test_fuzz_differential.py
        versions = earlier_epoch_dirs(root, epoch_id, prefix="v")
        batch_edges = max_score_per_edge(batch_df)
        if versions:
            existing = sp.read.parquet(versions[-1])
            merged = merge_max_with_existing(batch_edges, existing)
        else:
            merged = batch_edges
        write_epoch(merged, root, epoch_id, prefix="v")

    run_foreach_batch(new_edges, merge_batch, root)
    final = sorted(d for d in os.listdir(root) if d.startswith("v"))[-1]
    return spark.read.parquet(os.path.join(root, final))


@register(
    "s08_stateful_user_profiles",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS first_ts_us,
           epoch_us(MAX(ts)) AS last_ts_us,
           COUNT(DISTINCT event_type) AS n_event_types
    FROM events GROUP BY user_id
    """,
)
def s08_stateful_user_profiles(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running profile in a keyed, checkpointed state store — the
    engine's extension point for stateful semantics the built-ins
    lack (the reference's equivalent is an unbounded in-RAM hashmap,
    cmd/bulk/main.go:29-53). The per-key reducer is order-insensitive,
    so the stream result hash-matches the batch GROUP BY oracle.

    Update-mode sinks hold one row per key per touched micro-batch;
    the final profile per user is the one with the largest n_events
    (monotone under accumulation) -- the same last-emission dedup s20
    applies, so the result does not depend on the source happening to
    stage a single file."""
    from ..streaming.stateful import user_profiles

    ev = events_stream(spark, sf_dir)
    out = run_to_memory(user_profiles(ev), "update", "s08_profiles")
    final = out.groupBy("user_id").agg(
        F.max(
            F.struct("n_events", "first_ts_us", "last_ts_us", "n_event_types")
        ).alias("w")
    )
    return final.select(
        "user_id",
        F.col("w.n_events").alias("n_events"),
        F.col("w.first_ts_us").alias("first_ts_us"),
        F.col("w.last_ts_us").alias("last_ts_us"),
        F.col("w.n_event_types").alias("n_event_types"),
    )


@register(
    "s07_streaming_pipeline_edges",
    oracle_with_views("SELECT src, dst, score FROM edges"),
)
def s07_streaming_pipeline_edges(spark, sf_dir):
    """EP1 as a streaming job (SURVEY.md §3, §7 step 5): the SAME
    transform functions as the batch pipeline (explode_bidirectional +
    max_score_per_edge, pipeline/edges.py) applied to the unbounded
    edge stream — one code path for both, vs. the reference's two
    divergent binaries (cmd/etl vs cmd/bulk). Oracle = the batch edges
    view: stream results == batch results, record for record."""
    from ..views import derive_user_relationship

    rel = derive_user_relationship(events_stream(spark, sf_dir))
    edges = max_score_per_edge(explode_bidirectional(rel))
    return run_to_memory(edges, "complete", "s07_pipeline")


@register(
    "s10_stream_incremental_dedup",
    """
    SELECT MIN(doc_id) AS doc_id, content_hash
    FROM (SELECT doc_id, sha256(text) AS content_hash FROM documents
          WHERE text IS NOT NULL) h
    GROUP BY content_hash
    UNION ALL
    -- NULL-text docs are SINGLETONS (c01's family contract): every one
    -- is admitted, never merged into a NULL-hash group
    SELECT doc_id, NULL AS content_hash FROM documents WHERE text IS NULL
    """,
)
def s10_stream_incremental_dedup(spark, sf_dir):
    """C15's streaming form: documents arrive in doc_id-ordered
    micro-batches; each batch is exact-deduped within itself (min
    doc_id per content hash) and screened against the STORED corpus of
    already-accepted hashes (anti-join), then accepted rows append to
    the store -- the continuous-ingestion dedup loop. Because arrival
    order is doc_id order, the accumulated store must equal the batch
    C1 winners exactly (stream == batch, the same equivalence s07/s09
    pin for the edge pipeline). At 100 TB the store is a content-hash-
    bucketed table and the screen is a per-batch anti-join against it,
    linear in batch size."""
    import os

    from ..streaming.core import (
        batched_parquet_stream,
        docs_batched_source,
        run_foreach_batch,
        scratch_state_root,
    )

    src = docs_batched_source(sf_dir)
    store = scratch_state_root("s10")
    docs = batched_parquet_stream(spark, src)

    def screen_batch(batch_df, epoch_id):
        # per-epoch OVERWRITE dirs, state from strictly-earlier epochs:
        # the shared replay-safe discipline (streaming.core) -- an
        # append into one mutable store cannot distinguish a replayed
        # epoch from new data and leans on committer atomicity through
        # the crash window
        sp = batch_df.sparkSession
        hashed = batch_df.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("content_hash")
        )
        # NULL-text docs (NULL hash) are singletons: the in-batch
        # group-min must not merge them, and the cross-batch anti-join
        # must not screen them (a null-rejecting anti-join silently
        # re-admitted per-batch MIN rows instead -- neither the
        # singleton contract nor the oracle's global-min semantics)
        batch_min = (
            hashed.filter(F.col("content_hash").isNotNull())
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        earlier = earlier_epoch_dirs(store, epoch_id)
        if earlier:
            seen = sp.read.parquet(*earlier).select("content_hash")
            batch_min = batch_min.join(seen, "content_hash", "left_anti")
        admitted = batch_min.select("doc_id", "content_hash").unionByName(
            hashed.filter(F.col("content_hash").isNull()).select(
                "doc_id", "content_hash"
            )
        )
        write_epoch(admitted, store, epoch_id)

    run_foreach_batch(docs, screen_batch, store)
    return spark.read.parquet(os.path.join(store, "e*")).select(
        "doc_id", "content_hash"
    )



def _attribution_join(ev, how: str = "inner"):
    """The ONE definition of the attribution join (clicks joined to
    the purchases that follow them within 4 hours, per user, both
    sides watermarked) -- s11 runs it inner, s19 left-outer. Keeping
    the filters/renames/watermarks/range predicate in one place is
    what makes the two lanes the SAME join by construction rather
    than by hand-kept duplication."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", _WM)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", _WM)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 4 HOURS")
        ),
        how,
    )


@register(
    "s11_stream_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def s11_stream_stream_join(spark, sf_dir):
    """B39+: STREAM-STREAM inner join -- clicks joined to the purchases
    that follow them within 4 hours, per user. Both sides are
    watermarked and the join carries an event-time range condition, so
    Spark bounds each side's state buffer (clicks older than watermark
    + 4 h are evicted); this is the attribution-join shape every
    event pipeline runs unbounded. The fixture source is a single file
    => one availableNow batch => no cross-batch eviction, so the
    streaming result equals the batch join and the DuckDB oracle
    hash-checks it (stream/batch equivalence, same as s01).
    """
    joined = _attribution_join(events_stream(spark, sf_dir))
    out = run_to_memory(joined, "append", "s11_ssjoin")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "gap_us"
        ),
    )


@register(
    "s12_stream_span_dedup",
    """
    WITH bounds AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM documents
    ),
    st AS (
      SELECT lo, GREATEST(1, (hi - lo) // 3) AS s FROM bounds
    ),
    docs AS (
      SELECT d.doc_id,
             LEAST((d.doc_id - st.lo) // st.s, 2) AS b,
             string_split(d.text, ' ') AS t
      FROM documents d, st
    ),
    spans AS (
      SELECT doc_id, b,
             [md5(array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' '))
              for i in range(1,
                GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1) + 1)] AS hs
      FROM docs
    ),
    exploded AS (SELECT doc_id, b, unnest(hs) AS h FROM spans),
    first_batch AS (SELECT h, MIN(b) AS fb FROM exploded GROUP BY h)
    SELECT e.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN e.b = f.fb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel_spans
    FROM exploded e JOIN first_batch f ON e.h = f.h
    GROUP BY e.doc_id
    """,
)
def s12_stream_span_dedup(spark, sf_dir):
    """C27's streaming form: documents arrive in doc_id-ordered
    micro-batches; each batch's 8-token span hashes are screened
    against the STORED set of spans from all earlier batches (novel =
    hash unseen before this batch; within-batch repeats of a new span
    all count novel), then the batch's hashes append to the store --
    continuous passage-level contamination tracking over an ingest
    stream. Oracle recomputes the same batch assignment (doc_id range
    thirds, matching docs_batched_source) and takes each hash's
    first-containing batch. At 100 TB the store is a hash-bucketed
    table; each screen is one anti-ish equi-join per batch, linear in
    batch size."""
    import os

    from ..functions.text import doc_span_hashes
    from ..streaming.core import (
        batched_parquet_stream,
        docs_batched_source,
        run_foreach_batch,
        scratch_state_root,
    )

    src = docs_batched_source(sf_dir)
    root = scratch_state_root("s12")
    store = os.path.join(root, "seen")
    result = os.path.join(root, "result")
    docs = batched_parquet_stream(spark, src)

    def screen_batch(batch_df, epoch_id):
        # IDEMPOTENT under at-least-once replay: the shared epoch-store
        # discipline (streaming.core.earlier_epoch_dirs/write_epoch) --
        # every write targets a per-epoch overwrite dir, state reads
        # only epochs BEFORE this one, so a replayed batch sees exactly
        # the state it saw the first time.
        sp = batch_df.sparkSession
        spans = doc_span_hashes(batch_df.select("doc_id", "text"))
        prior = earlier_epoch_dirs(store, epoch_id)
        if prior:
            seen = sp.read.parquet(*prior).select(
                F.col("h").alias("seen_h")
            )
            flagged = spans.join(
                seen, spans["h"] == seen["seen_h"], "left"
            ).withColumn("novel", F.col("seen_h").isNull())
        else:
            flagged = spans.withColumn("novel", F.lit(True))
        per_doc = flagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("novel"), 1).otherwise(0)).alias(
                "n_novel_spans"
            ),
        )
        write_epoch(per_doc, result, epoch_id)
        # store only the batch's NOVEL hashes: keeps the store a SET
        # (a re-appended hash would fan out the next batch's left join)
        write_epoch(
            flagged.filter(F.col("novel")).select("h").dropDuplicates(["h"]),
            store,
            epoch_id,
        )

    run_foreach_batch(docs, screen_batch, root)
    return spark.read.parquet(os.path.join(result, "e*"))


@register(
    "s13_stream_trending",
    """
    WITH w AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rnk FROM (
      SELECT w.*, ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type) AS rnk
      FROM w
    ) r WHERE rnk <= 2
    """,
)
def s13_stream_trending(spark, sf_dir):
    """Trending detection over the stream: watermarked 1-hour tumbling
    counts per event_type (the streaming stateful part), then top-2
    types per window by a deterministic rank (count desc, type) over
    the emitted windows -- the rank epilogue runs on the sink because
    ranking across an unbounded stream's windows is only defined once
    a window is final (watermark-closed); per-window state stays
    bounded either way. Same two-shuffle shape at any scale: window
    agg keyed by (window, type), rank keyed by window."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(agg, "complete", "s13_trending")
    from pyspark.sql import Window as Wnd

    flat = out.select(
        F.unix_micros(F.col("window.start")).alias("window_start"),
        "event_type",
        "n_events",
    )
    w = Wnd.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return flat.withColumn(
        "rnk", F.row_number().over(w)
    ).filter(F.col("rnk") <= 2)


@register(
    "s14_stream_static_enrich",
    oracle_with_views("""
      SELECT e.event_id, e.user_id, p.name,
             epoch_us(e.ts) AS ts_us, e.event_type
      FROM events e JOIN person p ON CAST(e.user_id AS STRING) = p.person_id
    """),
)
def s14_stream_static_enrich(spark, sf_dir):
    """STREAM-STATIC join: the unbounded event stream enriched per-row
    against the static person dimension (the reference does this as a
    per-record Dgraph lookup, dgraph.go:110-133; here the dimension is
    a broadcast-able static DataFrame joined inside each micro-batch
    with NO state store -- stream-static joins are stateless by
    construction). Append mode: each enriched event emits exactly
    once."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    person = spark.table("person")
    ev = events_stream(spark, sf_dir)
    joined = ev.join(
        person, ev["user_id"].cast("string") == person["person_id"]
    ).select(
        "event_id",
        "user_id",
        "name",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    return run_to_memory(joined, "append", "s14_enrich")


@register(
    "s15_stream_source_quota",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY doc_id NULLS LAST)
               AS rnk
      FROM documents
    ) r WHERE rnk <= 40
    """,
)
def s15_stream_source_quota(spark, sf_dir):
    """Streaming admission control: accept at most 40 documents PER
    SOURCE cumulatively across the ingest stream (the C11 quota as a
    stateful streaming policy). Each micro-batch ranks its own rows
    per source (doc_id order = arrival order), offsets by the stored
    per-source admitted counts, admits what fits, and updates the
    counts -- so the accumulated accept set must equal the batch
    first-40-per-source exactly. At 100 TB the state is one counter
    per source; each batch does one per-source window + one broadcast
    join against the counter table."""
    import os

    from ..streaming.core import (
        batched_parquet_stream,
        docs_batched_source,
        run_foreach_batch,
        scratch_state_root,
    )

    QUOTA = 40
    src = docs_batched_source(sf_dir)
    root = scratch_state_root("s15")
    accepted_dir = os.path.join(root, "accepted")
    docs = batched_parquet_stream(spark, src)

    def admit_batch(batch_df, epoch_id):
        # IDEMPOTENT under at-least-once replay, and no mutable counter
        # state at all: the shared epoch-store discipline
        # (streaming.core) -- each epoch's admissions land in their own
        # overwrite-mode directory, and the per-source quota "used so
        # far" is derived from STRICTLY EARLIER epochs' immutable dirs
        # -- a replayed batch recomputes against exactly the state it
        # saw first time. (The old rmtree+rename counter swap could
        # crash between the two calls and re-admit up to QUOTA extra
        # docs per source.) The recount is bounded by the quota itself
        # -- accepted holds at most QUOTA x |sources| rows ever -- so
        # per-batch cost is O(quota), not O(stream).
        from pyspark.sql import Window as Wnd

        sp = batch_df.sparkSession
        # NULLS LAST, pinned on BOTH sides: Spark's default ascending
        # order is NULLS FIRST while DuckDB's is NULLS LAST, so a
        # NULL-doc_id row (routed to the final batch by the stager)
        # would jump the batch's quota queue here while the oracle
        # ranks it last -- admitting it in place of a non-null doc
        w = Wnd.partitionBy("source").orderBy(F.asc_nulls_last("doc_id"))
        ranked = batch_df.select("doc_id", "source").withColumn(
            "rnk", F.row_number().over(w)
        )
        prior = earlier_epoch_dirs(accepted_dir, epoch_id)
        if prior:
            counts = (
                sp.read.parquet(*prior)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("used"))
            )
            # null-SAFE join key: the window above puts all NULL-source
            # docs in ONE partition (SQL semantics, matching the
            # oracle's PARTITION BY), but a null-rejecting equi-join
            # would never find their prior-epoch count -- every batch
            # would hand NULL-source docs a fresh quota
            counts = counts.withColumnRenamed("source", "_src")
            ranked = (
                ranked.join(
                    F.broadcast(counts),
                    ranked["source"].eqNullSafe(counts["_src"]),
                    "left",
                )
                .drop("_src")
                .withColumn("used", F.coalesce(F.col("used"), F.lit(0)))
            )
        else:
            ranked = ranked.withColumn("used", F.lit(0))
        admitted = ranked.filter(
            F.col("rnk") + F.col("used") <= QUOTA
        ).select("doc_id", "source")
        write_epoch(admitted, accepted_dir, epoch_id)

    run_foreach_batch(docs, admit_batch, root)
    return spark.read.parquet(os.path.join(accepted_dir, "e*"))


@register(
    "s16_stream_fingerprint",
    """
    SELECT COUNT(*) AS n_rows,
           bit_xor(CAST(concat('0x', substr(md5(
             concat_ws('|', doc_id, text)), 1, 15)) AS BIGINT))
             AS fingerprint
    FROM documents
    """,
)
def s16_stream_fingerprint(spark, sf_dir):
    """Streaming integrity verification: a running order-insensitive
    fingerprint (XOR of row hashes + count) maintained incrementally
    per micro-batch -- after the last batch it must equal the batch
    fingerprint of the whole table, proving the stream delivered
    exactly the source rows (nothing lost, duplicated, or corrupted in
    flight). XOR's self-inverse merge makes the per-batch update O(1)
    state."""
    import os

    from ..streaming.core import (
        batched_parquet_stream,
        docs_batched_source,
        run_foreach_batch,
        scratch_state_root,
    )

    src = docs_batched_source(sf_dir)
    root = scratch_state_root("s16")
    state_dir = os.path.join(root, "state")
    docs = batched_parquet_stream(spark, src)

    def update_fp(batch_df, epoch_id):
        # IDEMPOTENT under at-least-once replay: each epoch writes its
        # own partial (overwrite) instead of folding into one mutable
        # state file -- a replayed batch rewrites the same partial, so
        # it can never XOR itself out or double its count. XOR and SUM
        # are associative, so the final fold over partials below is
        # exactly the incremental fold.
        h = md5_int60(F.concat_ws("|", "doc_id", "text"))
        write_epoch(
            batch_df.select(h.alias("h")).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("fingerprint"),
            ),
            state_dir,
            epoch_id,
        )

    run_foreach_batch(docs, update_fp, root)
    parts = spark.read.parquet(os.path.join(state_dir, "e*"))
    return parts.agg(
        F.sum("n_rows").alias("n_rows"),
        F.expr("bit_xor(fingerprint)").alias("fingerprint"),
    )


@register(
    "s17_stream_ann_ingest",
    "WITH "
    + _sim.kmeans_oracle_ctes(_sim.KM_K, _sim.KM_ITER, _sim.KM_SCALE)
    + """
    SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM af
    """,
    defer=True,
)
def s17_stream_ann_ingest(spark, sf_dir):
    """Streaming ANN index maintenance: embeddings arrive in
    micro-batches and are appended to the partitioned IVF index with a
    FROZEN codebook -- the production shape where the coarse quantizer
    is trained offline (c50's k-means over the reference corpus) and
    ingest only ever assigns + appends. Each batch is a narrow map
    against the broadcast k-row centroid table (no shuffle, no state
    beyond the index itself); epoch slices land cell-as-column and the
    compaction step (build_ivf_index) lays them out partition-by-cell
    for pruned probes -- the same pass that fixes streaming ingest's
    small-files problem. The accumulated index must
    equal the batch-built assignment bit-for-bit (same unrolled-Lloyd
    oracle as c50) -- integer distances make that exact, not
    approximate."""
    import os

    from ..catalog import register_views
    from ..functions.similarity import (
        _kmeans_loop,
        _nearest,
        quantize_vectors,
    )
    from ..streaming.core import (
        batched_parquet_stream,
        run_foreach_batch,
        scratch_state_root,
        table_batched_source,
    )

    register_views(spark, sf_dir)
    # offline codebook training on the static corpus (c50's loop)
    emb = spark.table("embeddings")
    cents, _ = _kmeans_loop(emb, _sim.KM_K, _sim.KM_ITER, _sim.KM_SCALE)

    src = table_batched_source(sf_dir, "embeddings", "vec_id")
    stream = batched_parquet_stream(spark, src)
    root = scratch_state_root("s17")
    index_dir = os.path.join(root, "index")

    def ingest(batch_df, epoch_id):
        q = quantize_vectors(batch_df, _sim.KM_SCALE)
        assigned = _nearest(q, cents, ["vec_id"], "qv", "cell").select(
            "vec_id", F.col("cell").cast("int").alias("cell")
        )
        # per-epoch overwrite: a replayed batch rewrites its own slice
        # of the index instead of appending duplicate (vec_id, cell)
        # rows under at-least-once delivery. Epoch slices keep cell as
        # a DATA column (nested per-epoch cell=N dirs make Spark's
        # partition discovery reject the glob read); the serving
        # layout's partition-by-cell is the compaction step's job
        # (build_ivf_index), which also solves streaming ingest's
        # small-files problem in the same pass.
        write_epoch(assigned, index_dir, epoch_id)

    run_foreach_batch(stream, ingest, root)
    return spark.read.parquet(os.path.join(index_dir, "e*")).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )


@register(
    "s18_stream_scroll_pages",
    """
    SELECT CAST(user_id AS STRING) AS from_person_id,
           COUNT(*) AS n_hits,
           MAX(epoch_us(ts)) AS max_lu_us
    FROM events
    GROUP BY 1
    """,
    defer=True,
)
def s18_stream_scroll_pages(spark, sf_dir):
    """The scroll connector as a STREAMING source: each micro-batch is
    one scroll page, and the page cursor IS the streaming offset --
    resume-from-checkpoint replays from the exact page the last commit
    ended on (the reference's manual watermark bookkeeping,
    elastic.go:87-96, owned by the offset log). The accumulated ingest
    must aggregate to exactly the batch answer: nothing dropped or
    double-read across micro-batch boundaries."""
    import os

    from ..sources.scroll import register_scroll_source, stage_scroll_pages
    from ..streaming.core import scratch_state_root

    src_dir = stage_scroll_pages(spark, sf_dir, page_size=1000)
    register_scroll_source(spark)
    stream = (
        spark.readStream.format("scroll_hits")
        .option("path", src_dir)
        .load()
    )
    decoded = stream.select(
        "last_update_us",
        F.from_json(
            "_source",
            "last_update BIGINT, from_person_id STRING, "
            "to_person_id STRING, "
            "stats STRUCT<raw_score_in: INT, raw_score_out: INT>",
        ).alias("r"),
    ).select("last_update_us", "r.from_person_id")
    root = scratch_state_root("s18")
    out_dir = os.path.join(root, "rows")
    # one micro-batch per scroll page: run the continuous trigger until
    # the sink holds every staged hit (availableNow would stop after
    # the single prefetched page -- the simple stream reader prefetches
    # exactly one read() ahead), then stop. The drain condition is
    # exact: the manifest says how many hits exist.
    import json as _json
    import time

    with open(os.path.join(src_dir, "manifest.json")) as f:
        expected = sum(p["n"] for p in _json.load(f))
    q = (
        decoded.writeStream.format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation", os.path.join(root, "_ckpt", "offsets")
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.monotonic() + 300
    drained = False
    while time.monotonic() < deadline:
        if not q.isActive:
            # a dead stream can never drain: fall through to
            # awaitTermination, which re-raises the real
            # StreamingQueryException NOW instead of after the
            # full 300 s deadline of pointless polling
            break
        try:
            if spark.read.parquet(out_dir).count() >= expected:
                drained = True
                break
        except Exception:
            pass  # sink not created yet
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    if not drained:
        # a partial sink must never reach the certifier as an answer:
        # raise loudly instead of aggregating whatever was committed
        got = -1
        try:
            got = spark.read.parquet(out_dir).count()
        except Exception:
            pass
        raise TimeoutError(
            f"s18 scroll stream drained {got}/{expected} rows in 300s"
        )
    return (
        spark.read.parquet(out_dir)
        .groupBy("from_person_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("last_update_us").alias("max_lu_us"),
        )
    )


@register(
    "s19_stream_outer_join",
    """
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id AS p_user_id,
             ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
      FROM clicks c JOIN purchases p
        ON c.user_id = p.p_user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 4 HOUR
    ),
    -- the final eviction watermark is the GLOBAL join watermark over
    -- the FULL stream: availableNow runs a trailing no-data
    -- micro-batch after the last file, so each side's max event time
    -- covers every batch (clicks' max click_ts, purchases' max
    -- purchase_ts) and the join advances at the MIN of the two;
    -- Spark tracks watermarks in epoch MILLIS, so the max truncates
    -- to ms before the 30-minute delay subtraction (measured
    -- behavior, pinned here and in the docstring)
    wm AS (
      SELECT (LEAST(
                (SELECT epoch_us(MAX(click_ts)) FROM clicks),
                (SELECT epoch_us(MAX(purchase_ts)) FROM purchases)
              ) // 1000) * 1000 - 1800000000 AS w_us
    ),
    unmatched AS (
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM clicks c, wm
      WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
        AND epoch_us(c.click_ts + INTERVAL 4 HOUR) < wm.w_us
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    defer=True,
)
def s19_stream_outer_join(spark, sf_dir):
    """B39+: STREAM-STREAM LEFT OUTER join -- the attribution join
    (s11) with abandoned clicks emitted as NULL rows. The semantics
    s11 can't show: a click row buffers in state until the watermark
    proves no in-window purchase can still arrive (click_ts + 4 h <
    watermark); only then is it evicted AND emitted with NULLs. The
    3-batch time-split source makes the watermark actually advance
    mid-stream; clicks near the stream's end stay in state when
    availableNow terminates and are correctly ABSENT from the output
    (no final flush). The oracle replays the protocol: inner matches
    plus null-extended clicks older than the final eviction watermark
    -- the MIN of each side's full-stream max event time (the
    trailing no-data micro-batch availableNow appends advances both
    sides past the last file), ms-truncated, minus the 30-minute
    delay. At 100 TB both state stores stay
    bounded by watermark + range exactly as in s11."""
    from ..streaming.core import time_split_source

    ev = events_stream(spark, sf_dir, path=time_split_source(sf_dir))
    joined = _attribution_join(ev, "left_outer")
    out = run_to_memory(joined, "append", "s19_ssouter")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("gap_us"),
    )


@register(
    "s20_stream_transform_with_state",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS total_fp
    FROM events GROUP BY user_id
    """,
    defer=True,
)
def s20_stream_transform_with_state(spark, sf_dir):
    """B41+/s08+: the transformWithState arbitrary-state API (typed
    named state handles, the successor to applyInPandasWithState) --
    per-user running totals folded into a ValueState across the
    3-batch replay, update-mode emissions per touched key. The last
    emission per key (argmax by the monotone event count) must equal
    the batch GROUP BY exactly: integer folds make the cross-batch
    accumulation order-insensitive. Runs on the RocksDB state store
    (the only backend the new API supports), restored afterward; when
    the runtime lacks the API's protobuf dependency the same fold
    runs through applyInPandasWithState (streaming/stateful.py
    has_tws_runtime)."""
    from ..streaming.core import time_split_source
    from ..streaming.stateful import running_totals_tws

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = events_stream(spark, sf_dir, path=time_split_source(sf_dir))
        out = run_to_memory(
            running_totals_tws(ev), "update", "s20_tws"
        )
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    final = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_fp")).alias("w")
    )
    return final.select(
        "user_id",
        F.col("w.n_events").alias("n_events"),
        F.col("w.total_fp").alias("total_fp"),
    )


@register(
    "s21_stream_jdbc_exactly_once",
    """
    SELECT event_id, user_id FROM events
    """,
    defer=True,
)
def s21_stream_jdbc_exactly_once(spark, sf_dir):
    """The exactly-once JDBC sink end-to-end (sinks/jdbc_sink.py): the
    3-batch event replay streams through foreachBatch into an embedded
    Derby table with the in-database epoch ledger, and the DESTINATION
    TABLE read back over JDBC must equal the source exactly -- no
    row lost, none duplicated, across 3 ledger-marked batches. (The
    crash window between data append and commit marker is separately
    fault-injected in tests/test_sinks.py; here the driver certifies
    the happy-path content equivalence through a real database.)"""
    import os

    from ..sinks.jdbc_sink import (
        ensure_sink_tables,
        exactly_once_jdbc_writer,
    )
    from ..streaming.core import scratch_state_root, time_split_source

    src = time_split_source(sf_dir)
    root = scratch_state_root("s21")
    url = f"jdbc:derby:{root}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    ensure_sink_tables(
        spark,
        url,
        "s21_events",
        "s21_ledger",
        '"event_id" BIGINT, "user_id" BIGINT, "batch_id" BIGINT, '
        '"query_name" VARCHAR(128)',
    )
    ev = events_stream(spark, sf_dir, path=src).select(
        "event_id", "user_id"
    )
    q = (
        ev.writeStream.foreachBatch(
            exactly_once_jdbc_writer(
                url, "s21_events", "s21_ledger", "s21", properties=props
            )
        )
        .option(
            "checkpointLocation", os.path.join(root, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.jdbc(url, "s21_events", properties=props)
        .select("event_id", "user_id")
    )


@register(
    "s22_stream_dynamic_sessions",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN 1800000000
                  ELSE 600000000 END AS gap_us
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ts_us, gap_us,
             MAX(ts_us + gap_us) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM ev
    ),
    brk AS (
      SELECT user_id, event_id, ts_us, gap_us,
             CASE WHEN prev_max_end IS NULL OR ts_us >= prev_max_end
                  THEN 1 ELSE 0 END AS b
      FROM marked
    ),
    grouped AS (
      SELECT user_id, ts_us, gap_us,
             SUM(b) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
      FROM brk
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us + gap_us) AS session_end_us,
           COUNT(*) AS n_events
    FROM grouped GROUP BY user_id, sess
    """,
    defer=True,
)
def s22_stream_dynamic_sessions(spark, sf_dir):
    """B37 dynamic form AS A STREAM: b101's event-dependent session
    gaps (purchases hold 30 min, else 10) maintained in streaming
    session-window state -- Spark merges overlapping per-event claims
    incrementally in the state store instead of over a sorted
    partition. Single-file source => one availableNow batch => no
    mid-stream eviction, so the complete-mode result equals the batch
    interval-union and the same gaps-and-islands oracle certifies
    both (the s01/s11 stream-batch-equivalence discipline)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", _WM)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(agg, "complete", "s22_dynsession")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
    )


@register(
    "s23_stream_cdc_apply",
    """
    WITH base AS (
      SELECT doc_id, text, source FROM documents
    ),
    changes AS (
      SELECT doc_id, 'U' AS op, 'rev2: ' || text AS text, source
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id, 'D' AS op, NULL, NULL
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 1000000, 'I' AS op, 'new: ' || text, source
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
           COALESCE(c.text, b.text) AS text,
           COALESCE(c.source, b.source) AS source
    FROM base b
    FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    defer=True,
)
def s23_stream_cdc_apply(spark, sf_dir):
    """b105's APPLY as a STREAM: the change feed arrives in
    micro-batches (the documents replay stands in for a CDC topic;
    each batch's changes derive from its own rows) and foreachBatch
    folds each batch into the stored snapshot -- per batch one keyed
    full-outer fold, exactly the lakehouse MERGE a production sink
    issues. Batches touch DISJOINT keys here, so the accumulated
    store must equal the one-shot batch apply bit-for-bit (s09's
    stream-batch-equivalence discipline for max-merge, applied to
    I/U/D semantics). CDC family complete: c31 computes diffs, b105
    applies one, this applies a stream of them."""
    import os

    from ..streaming.core import (
        batched_parquet_stream,
        docs_batched_source,
        run_foreach_batch,
        scratch_state_root,
    )

    src = docs_batched_source(sf_dir)
    root = scratch_state_root("s23")
    base = os.path.join(root, "base")
    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.table("documents").select(
        "doc_id", "text", "source"
    ).write.mode("overwrite").parquet(base)
    docs = batched_parquet_stream(spark, src)

    def apply_batch(batch_df, epoch_id):
        sp = batch_df.sparkSession
        d = batch_df.select("doc_id", "text", "source")
        upd = d.filter(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0)
        ).select(
            "doc_id",
            F.lit("U").alias("op"),
            F.concat(F.lit("rev2: "), F.col("text")).alias("text"),
            "source",
        )
        dele = d.filter(F.col("doc_id") % 13 == 0).select(
            "doc_id",
            F.lit("D").alias("op"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("source"),
        )
        ins = d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("I").alias("op"),
            F.concat(F.lit("new: "), F.col("text")).alias("text"),
            "source",
        )
        changes = upd.unionByName(dele).unionByName(ins)
        # per-epoch versions, prior state from STRICTLY-EARLIER epochs
        # (the shared streaming.core discipline): the previous
        # rmtree+rename fold-swap destroyed the accumulated snapshot if
        # the process died between the two calls, and a replayed epoch
        # would re-fold on top of its own output
        earlier = earlier_epoch_dirs(root, epoch_id)
        prev = earlier[-1] if earlier else base
        b = sp.read.parquet(prev).alias("b")
        c = changes.alias("c")
        folded = (
            b.join(
                c, F.col("b.doc_id") == F.col("c.doc_id"), "full_outer"
            )
            .filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
            .select(
                F.coalesce(F.col("c.doc_id"), F.col("b.doc_id")).alias(
                    "doc_id"
                ),
                F.coalesce(F.col("c.text"), F.col("b.text")).alias(
                    "text"
                ),
                F.coalesce(F.col("c.source"), F.col("b.source")).alias(
                    "source"
                ),
            )
        )
        write_epoch(folded, root, epoch_id)

    run_foreach_batch(docs, apply_batch, root)
    epochs = sorted(d for d in os.listdir(root) if d.startswith("e"))
    return spark.read.parquet(
        os.path.join(root, epochs[-1]) if epochs else base
    )
