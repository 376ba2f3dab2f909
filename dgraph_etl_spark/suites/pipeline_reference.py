"""Tier A suite: the reference pipeline's dataflow semantics as named,
oracle-checked queries (SURVEY.md §2 Tier A, reference file:line cited
per operator in the pipeline/ modules).

Every query here runs on the reference-domain views (views.py) derived
from the driver fixtures, and its oracle runs the *same* view SQL as
DuckDB CTEs -- both engines see identical inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..catalog import register_views
from ..pipeline import edges as E
from ..pipeline import persons as P
from ..pipeline import rdf as R
from ..pipeline import watermark as W
from ..registry import register
from ..views import oracle_with_views as V

# watermark cut: 2024-01-15 00:00:00 UTC (events span all of Jan 2024)
WM_S = 1705276800

# the exploded bidirectional edge stream as a SQL fragment (A9/A10),
# reused by several oracles
_EXPLODED = """
    SELECT from_person_id AS src, to_person_id AS dst,
           CAST(raw_score_in AS DOUBLE) AS score, last_update
    FROM user_relationship
    UNION ALL
    SELECT to_person_id, from_person_id,
           CAST(raw_score_out AS DOUBLE), last_update
    FROM user_relationship
"""


def _ur(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.table("user_relationship")


@register(
    "a05_incremental_scan",
    V(f"""
      SELECT epoch_us(last_update) AS last_update_us,
             from_person_id, to_person_id, raw_score_in, raw_score_out
      FROM user_relationship
      WHERE epoch(last_update) >= {WM_S}
    """),
)
def a05_incremental_scan(spark, sf_dir):
    """A2+A5+A3: watermark-resumed scan; the range predicate is pushed
    into the parquet scan as a raw-nanos comparison (PushedFilters in
    explain; see watermark.incremental_events_scan for why filtering
    the converted timestamp would NOT push), and the output is sorted
    ascending by event time (A3 -- the reference sorts the scroll,
    elastic.go:55-58, so its watermark advances monotonically; the
    driver's comparison is order-insensitive, the sort is the
    exercised operator surface)."""
    from ..views import derive_user_relationship

    df = derive_user_relationship(W.incremental_events_scan(spark, sf_dir, WM_S))
    return W.ordered_by_event_time(df).select(
        F.unix_micros("last_update").alias("last_update_us"),
        "from_person_id",
        "to_person_id",
        "raw_score_in",
        "raw_score_out",
    )


@register(
    "a05_next_watermark",
    V("""
      SELECT CAST(floor(epoch(MAX(last_update))) AS BIGINT) AS next_watermark_s,
             COUNT(*) AS rows_read
      FROM user_relationship
    """),
)
def a05_next_watermark(spark, sf_dir):
    """A5: bookmark for the next incremental run (max event time)."""
    return W.next_watermark(_ur(spark, sf_dir))


@register(
    "a04_json_decode",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def a04_json_decode(spark, sf_dir):
    """A4: JSON record decode with skip-on-malformed semantics
    (get_json_object returns NULL on bad input, as the reference's
    `continue` on unmarshal error, elastic.go:80-85)."""
    register_views(spark, sf_dir)
    ev = spark.table("events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "a06_trove_semi_join",
    V("""
      SELECT DISTINCT pid AS person_id FROM (
        SELECT from_person_id AS pid FROM user_relationship
        UNION ALL SELECT to_person_id FROM user_relationship
      ) u
      WHERE pid IN (SELECT person_id_user FROM trove_user)
    """),
)
def a06_trove_semi_join(spark, sf_dir):
    """A6 as existence filter: stream persons that are trove users --
    one left-semi join replaces N MySQL point lookups (mysql.go:17-57)."""
    register_views(spark, sf_dir)
    ids = P.distinct_person_ids(_ur(spark, sf_dir))
    return P.filter_is_trove(ids, spark.table("trove_user"))


@register(
    "a06_trove_flag",
    V("""
      SELECT ids.person_id,
             (tu.person_id_user IS NOT NULL) AS is_trove_user
      FROM (
        SELECT DISTINCT pid AS person_id FROM (
          SELECT from_person_id AS pid FROM user_relationship
          UNION ALL SELECT to_person_id FROM user_relationship
        ) u
      ) ids
      LEFT JOIN trove_user tu ON ids.person_id = tu.person_id_user
    """),
)
def a06_trove_flag(spark, sf_dir):
    """A6 as enrichment column (is_trove_user boolean per person)."""
    register_views(spark, sf_dir)
    ids = P.distinct_person_ids(_ur(spark, sf_dir))
    return P.enrich_is_trove(ids, spark.table("trove_user"))


@register(
    "a08_team_members",
    V("""
      SELECT team_id,
             array_to_string(list_sort(list(person_id)), ',') AS members,
             COUNT(*) AS n_members
      FROM team_member GROUP BY team_id
    """),
)
def a08_team_members(spark, sf_dir):
    """A8: full scan + group-into-lists (reference GetTeamMembers,
    mysql.go:59-82). Lists are sorted (collect_list order is
    partition-order-dependent in any distributed engine), then
    rendered as one comma-joined string: the external comparator
    row-sorts with pandas and cannot hash array cells."""
    register_views(spark, sf_dir)
    return (
        spark.table("team_member")
        .groupBy("team_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("person_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


_EXPLODED_BULK = """
    SELECT from_person_id AS src, to_person_id AS dst,
           CAST(raw_score_out AS DOUBLE) AS score, last_update
    FROM user_relationship
    UNION ALL
    SELECT to_person_id, from_person_id,
           CAST(raw_score_in AS DOUBLE), last_update
    FROM user_relationship
"""


@register(
    "a09_explode_bulkdir",
    V(f"SELECT src, dst, score FROM ({_EXPLODED_BULK}) e"),
)
def a09_explode_bulkdir(spark, sf_dir):
    """A9 under the BULK binary's reversed facet convention
    ((from->to) carries raw_score_out, cmd/bulk/main.go:321-328). The
    reference's two binaries disagree on edge direction; the engine
    supports both, each pinned by its own oracle."""
    return E.explode_bidirectional(_ur(spark, sf_dir), bulk_convention=True)


@register("a09_explode_bidirectional", V(f"SELECT src, dst, score FROM ({_EXPLODED}) e"))
def a09_explode_bidirectional(spark, sf_dir):
    """A9+A10: record -> two directed edges, one narrow explode pass."""
    return E.explode_bidirectional(_ur(spark, sf_dir))


@register(
    "a11_distinct_persons",
    V("""
      SELECT DISTINCT pid AS person_id FROM (
        SELECT from_person_id AS pid FROM user_relationship
        UNION ALL SELECT to_person_id FROM user_relationship
      ) u
    """),
)
def a11_distinct_persons(spark, sf_dir):
    """A11: first-sighting person dedup -- shuffle dedup replaces the
    reference's unbounded uMap (cmd/bulk/main.go:29-53)."""
    return P.distinct_person_ids(_ur(spark, sf_dir))


@register("a12_max_score_per_edge", V("SELECT src, dst, score FROM edges"))
def a12_max_score_per_edge(spark, sf_dir):
    """A12: MAX(score) per directed pair == the edges view by
    construction; hash agg with map-side partial max."""
    return E.max_score_per_edge(E.explode_bidirectional(_ur(spark, sf_dir)))


@register(
    "a13_merge_with_existing",
    V(f"""
      , exploded AS ({_EXPLODED})
      SELECT src, dst, MAX(score) AS score FROM (
        SELECT src, dst, score FROM exploded WHERE epoch(last_update) < {WM_S}
        UNION ALL
        SELECT src, dst, score FROM exploded WHERE epoch(last_update) >= {WM_S}
      ) m GROUP BY src, dst
    """),
)
def a13_merge_with_existing(spark, sf_dir):
    """A13: conditional-upsert merge (update only when the new score
    wins) as union + re-max: 'existing' = edges aggregated before the
    watermark, 'new' = raw edges after it."""
    ur = _ur(spark, sf_dir)
    old = E.max_score_per_edge(
        E.explode_bidirectional(W.incremental_scan(ur, 0).filter(
            F.unix_timestamp("last_update") < WM_S))
    )
    new = E.explode_bidirectional(W.incremental_scan(ur, WM_S))
    return E.merge_max_with_existing(new, old)


def _fresh_scratch(prefix: str) -> str:
    """One bounded scratch dir per (query, process), cleared and reused
    on every invocation -- a per-call mkdtemp leaked a full copy of the
    edges table each run (bench executes every certified query 4+
    times per round; the 100x soak multiplies the table). The sink
    write is the operator under test, so it must re-run per
    invocation: reuse the LOCATION, never the contents. Per-query
    prefix + pid keeps concurrent processes and the bench warm pool's
    concurrent (distinct) queries apart."""
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"{prefix}{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


@register(
    "a13_merge_versioned_store",
    V("SELECT src, dst, score FROM edges"),
    defer=True,
    expedite=True,  # §2 A13 lakehouse lane: outranks beyond-§2 extras
)
def a13_merge_versioned_store(spark, sf_dir):
    """A13 via the lakehouse MERGE adapter (sinks/lakehouse.py): the
    edge stream split into three hash batches, each merged into a
    versioned edge store with max-wins MERGE semantics (reference
    dgraph.go:110-133). The final store version must equal the one-shot
    edges view -- the same fixed point regardless of batch boundaries
    (tests/test_sinks.py proves order/replay invariance). Runs a real
    Delta MERGE when delta-spark is present; versioned-parquet
    union+re-agg otherwise."""
    from ..sinks.lakehouse import merge_max_into

    exploded = E.explode_bidirectional(_ur(spark, sf_dir))
    root = _fresh_scratch("a13_store_")
    final = None
    for i in range(3):
        # pmod, not abs(...)%3: abs(Long.MIN_VALUE) stays negative, so
        # that row would match NO batch and silently vanish from the
        # merged store (pipeline/edges.py's hash-bucketing convention)
        batch = exploded.filter(
            F.pmod(F.xxhash64("src", "dst", "score"), F.lit(3)) == i
        )
        final = merge_max_into(spark, root, batch)
    return final


@register(
    "a14_find_or_create",
    V("""
      SELECT person_id, name FROM person
      UNION ALL
      SELECT u.person_id, '' AS name FROM (
        SELECT DISTINCT pid AS person_id FROM (
          SELECT from_person_id AS pid FROM user_relationship
          UNION ALL SELECT to_person_id FROM user_relationship
        ) x
      ) u
      LEFT JOIN person p ON u.person_id = p.person_id
      WHERE p.person_id IS NULL
    """),
)
def a14_find_or_create(spark, sf_dir):
    """A14: idempotent node upsert -- left-anti + union replaces
    per-record find-or-create gRPC round-trips (etl.go:67-85)."""
    register_views(spark, sf_dir)
    incoming = P.distinct_person_ids(_ur(spark, sf_dir))
    return P.find_or_create_persons(incoming, spark.table("person"))


@register(
    "a15_edge_lookup",
    V("SELECT src, dst, score FROM edges WHERE src = '2' AND dst = '0'"),
)
def a15_edge_lookup(spark, sf_dir):
    """A15: point edge lookup by (src, dst) with facet (score) select;
    @cascade = the row simply doesn't exist when the edge is absent."""
    register_views(spark, sf_dir)
    return spark.table("edges").filter(
        (F.col("src") == "2") & (F.col("dst") == "0")
    )


@register(
    "a16_person_uid_lookup",
    V("""
      SELECT person_id, sha256('person:' || person_id) AS uid
      FROM person WHERE person_id = '42'
    """),
)
def a16_person_uid_lookup(spark, sf_dir):
    """A16: point node lookup by key returning the deterministic uid
    (content hash; see persons.with_uid)."""
    register_views(spark, sf_dir)
    return (
        P.with_uid(spark.table("person"))
        .filter(F.col("person_id") == "42")
        .select("person_id", "uid")
    )


# the full bulk-load triple set (EP2's output), shared by a18 (in-memory
# composition) and a28 (the end-to-end bulk DAG incl. serialize+readback)
_A18_TRIPLES_ORACLE = V("""
      , persons_flagged AS (
        SELECT ids.person_id,
               (tu.person_id_user IS NOT NULL) AS is_trove_user
        FROM (
          SELECT DISTINCT pid AS person_id FROM (
            SELECT from_person_id AS pid FROM user_relationship
            UNION ALL SELECT to_person_id FROM user_relationship
          ) u
        ) ids
        LEFT JOIN trove_user tu ON ids.person_id = tu.person_id_user
      )
      -- COALESCE mirrors the engine's NULL discipline (rdf._blank /
      -- the Go zero value): a NULL id formats as '_:' and a NULL
      -- score as 0 -- a bare || would NULL the whole line and DROP
      -- the triple the Spark side deliberately keeps
      SELECT value FROM (
        SELECT '_:' || COALESCE(team_id, '') || ' <team_id> "'
               || COALESCE(team_id, '') || '" .' AS value
        FROM (SELECT DISTINCT team_id FROM team_member) t
        UNION ALL
        SELECT '_:' || COALESCE(team_id, '') || ' <has_member> _:'
               || COALESCE(person_id, '') || ' .'
        FROM team_member
        UNION ALL
        SELECT '_:' || COALESCE(person_id, '') || ' <person_id> "'
               || COALESCE(person_id, '') || '" .'
        FROM persons_flagged
        UNION ALL
        SELECT '_:' || COALESCE(person_id, '') || ' <is_trove_user> "'
               || CASE WHEN is_trove_user THEN 'true' ELSE 'false' END
               || '"^^<xs:boolean> .'
        FROM persons_flagged
        UNION ALL
        SELECT '_:' || COALESCE(src, '') || ' <has_connection> _:'
               || COALESCE(dst, '')
               || ' (score=' || COALESCE(CAST(CAST(ROUND(score, 0)
                                              AS BIGINT)
                                              AS STRING), '0') || ') .'
        FROM edges
      ) triples
    """)


@register("a18_rdf_triples", _A18_TRIPLES_ORACLE)
def a18_rdf_triples(spark, sf_dir):
    """A18+A21: the full bulk-load RDF N-Quads set (EP2's output),
    whole-stage-codegen string concat, defined as a set of lines."""
    register_views(spark, sf_dir)
    flagged = P.enrich_is_trove(
        P.distinct_person_ids(_ur(spark, sf_dir)), spark.table("trove_user")
    )
    return R.all_triples(
        spark.table("team_member"), flagged, spark.table("edges")
    )


@register("a17_live_upsert", V("SELECT src, dst, score FROM edges"))
def a17_live_upsert(spark, sf_dir):
    """A17+A19+A20: the live transactional mutation sink (reference
    dgraph.go:175-223 + retry dgraph.go:53-108 + fan-out etl.go:52-64)
    run end-to-end: foreachPartition drives the batched, retrying
    writer against a file-backed client with an injected transient
    abort on every partition's first transaction; the committed
    mutation log is read back and must equal the edges table exactly
    (at-least-once delivery + idempotent commit == exactly-once
    result)."""
    from ..sinks.live import file_sink_factory, write_edges_live

    register_views(spark, sf_dir)
    out = _fresh_scratch("live_sink_")
    write_edges_live(
        spark.table("edges"), file_sink_factory(out, fail_first=True)
    )
    return spark.read.schema("src string, dst string, score double").json(
        os.path.join(out, "*.ndjson")
    )


@register(
    "a22_decimal_validate",
    V("""
      SELECT person_id,
             CAST(CAST(person_id AS DECIMAL(38,0)) AS STRING) AS person_id_num
      FROM (
        SELECT person_id FROM person
        UNION ALL SELECT '18446744073709551615'
        UNION ALL SELECT 'not-a-number'
        UNION ALL SELECT '1.5'
        UNION ALL SELECT '1e3'
        UNION ALL SELECT '-5'
      ) ids
      WHERE regexp_matches(person_id, '^[0-9]{1,38}$')
    """),
)
def a22_decimal_validate(spark, sf_dir):
    """A22: decimal id parse-or-skip; DECIMAL(38,0) covers uint64
    (2^64-1 included below) which would overflow LongType. Surfaced as
    a string (pandas/arrow decimal conversions differ per engine); the
    engine-internal type stays DECIMAL(38,0)."""
    register_views(spark, sf_dir)
    junk = spark.createDataFrame(
        [
            ("18446744073709551615",),
            ("not-a-number",),
            # the reference's big.Int parser REJECTS all three of
            # these; a naive decimal cast would keep and rewrite them
            ("1.5",),
            ("1e3",),
            ("-5",),
        ],
        ["person_id"],
    )
    ids = spark.table("person").select("person_id").unionByName(junk)
    validated = P.validate_decimal_ids(ids)
    return validated.select(
        "person_id", F.col("person_id_num").cast("string").alias("person_id_num")
    )


@register(
    "a23_edge_keys",
    V("SELECT src || '-' || dst AS edge_key, score FROM edges"),
)
def a23_edge_keys(spark, sf_dir):
    """A23: the reference's string dedup key (fmt.Sprintf "%s-%s") --
    kept only as a scalar-function demo; grouping is by columns."""
    register_views(spark, sf_dir)
    return spark.table("edges").select(
        F.concat_ws("-", "src", "dst").alias("edge_key"), "score"
    )


@register(
    "a24_time_conversions",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
           epoch_us(ts) AS unix_us,
           CAST(strftime(ts, '%Y-%m-%d') AS STRING) AS day_str
    FROM events
    """,
)
def a24_time_conversions(spark, sf_dir):
    """A24: unix <-> timestamp conversions (reference time.Unix /
    .Unix(), elastic.go:50, 94)."""
    register_views(spark, sf_dir)
    return spark.table("events").select(
        "event_id",
        F.unix_timestamp("ts").alias("unix_s"),
        F.unix_micros("ts").alias("unix_us"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
    )


@register(
    "a26_dead_letter_split",
    V("""
      SELECT person_id,
             CASE WHEN TRY_CAST(person_id AS DECIMAL(38,0)) IS NOT NULL
                  THEN 'ok' ELSE 'dead_letter' END AS route,
             CASE WHEN TRY_CAST(person_id AS DECIMAL(38,0)) IS NOT NULL
                  THEN NULL ELSE 'not_decimal' END AS reason
      FROM (
        SELECT person_id FROM person
        UNION ALL SELECT person_id || 'x' FROM person
        WHERE CAST(person_id AS BIGINT) % 9 = 0
      ) ids
    """),
)
def a26_dead_letter_split(spark, sf_dir):
    """Dead-letter routing (the production form of A22's parse-or-skip:
    the reference silently drops records its Atoi fails on,
    etl.go:60-63 -- a real pipeline routes them to a quarantine sink
    with a reason instead of losing them). One pass, per-row
    expressions only: every record is tagged ok/dead_letter + reason;
    the ok stream feeds the pipeline and the dead letters feed a side
    sink for replay after a fix. Corrupted ids are derived
    deterministically from the fixture (every 9th id gets a trailing
    'x') so the query is self-contained and oracle-checkable."""
    register_views(spark, sf_dir)
    person = spark.table("person").select("person_id")
    corrupted = person.filter(
        F.col("person_id").cast("bigint") % 9 == 0
    ).select(F.concat(F.col("person_id"), F.lit("x")).alias("person_id"))
    ids = person.unionByName(corrupted)
    ok = F.expr("TRY_CAST(person_id AS DECIMAL(38,0))").isNotNull()
    return ids.select(
        "person_id",
        F.when(ok, F.lit("ok")).otherwise(F.lit("dead_letter")).alias("route"),
        F.when(ok, F.lit(None).cast("string"))
        .otherwise(F.lit("not_decimal"))
        .alias("reason"),
    )


@register("a12_max_score_salted", V("SELECT src, dst, score FROM edges"))
def a12_max_score_salted(spark, sf_dir):
    """A12 under heavy key skew, certified end-to-end: the two-level
    salted max aggregation (deterministic payload-hash salt, exact
    because MAX is associative+commutative) must produce the identical
    edges view -- same oracle as the plain a12. This is the hub-key
    escape hatch for power-law graphs where AQE's skew split isn't
    enough; certifying it against the same oracle pins
    salted == unsalted at the query level, not just in unit tests."""
    return E.aggregate_max_salted(
        E.explode_bidirectional(_ur(spark, sf_dir))
    )


@register(
    "b86_scroll_source_scan",
    f"""
    SELECT CAST(user_id AS STRING) AS from_person_id,
           COUNT(*) AS n_hits,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS INT)) AS BIGINT)
             AS sum_raw_in,
           MAX(epoch_us(ts)) AS max_lu_us
    FROM events
    WHERE epoch(ts) >= {WM_S}
    GROUP BY 1
    """,
    defer=True,
)
def b86_scroll_source_scan(spark, sf_dir):
    """A1/A2/A4 through a REAL connector: the scroll-page data source
    (sources/scroll.py, Python Data Source API) scans the staged hit
    pages with the watermark range predicate pushed INTO the source --
    pages whose manifest max precedes the watermark are never opened
    (the reference's source-side range query, elastic.go:52-53) --
    then the engine's A4 from_json decode and one hash agg. One
    InputPartition per page = the scroll's pagination becoming plain
    scan parallelism."""
    from ..sources.scroll import register_scroll_source, stage_scroll_pages

    src_dir = stage_scroll_pages(spark, sf_dir)
    register_scroll_source(spark)
    hits = (
        spark.read.format("scroll_hits").option("path", src_dir).load()
    )
    decoded = hits.filter(
        F.col("last_update_us") >= WM_S * 1_000_000
    ).select(
        F.col("last_update_us"),
        F.from_json(
            "_source",
            "last_update BIGINT, from_person_id STRING, "
            "to_person_id STRING, "
            "stats STRUCT<raw_score_in: INT, raw_score_out: INT>",
        ).alias("r"),
    )
    return decoded.groupBy(
        F.col("r.from_person_id").alias("from_person_id")
    ).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(F.col("r.stats.raw_score_in"))
        .cast("bigint")
        .alias("sum_raw_in"),
        F.max("last_update_us").alias("max_lu_us"),
    )


@register(
    "a27_rdf_roundtrip",
    V("SELECT src, dst, score FROM edges"),
    defer=True,
)
def a27_rdf_roundtrip(spark, sf_dir):
    """EP2 closed end-to-end: the edge triples are WRITTEN as N-Quads
    text (A18's actual sink, reference cmd/bulk/main.go's bulk-export
    contract), read back through Spark's text source, and PARSED back
    into (src, dst, score) -- which must equal the edges view exactly.
    This certifies what a18's in-memory triple set cannot: that the
    serialized file format itself round-trips losslessly (the property
    the reference's downstream bulk loader depends on). Regex parsing
    is JVM codegen (regexp_extract), the text scan splits by file like
    any 100 TB export; scores are integral by construction (MAX over
    int-cast raw scores) so the bigint facet rebuilds the double
    exactly."""
    from ..staging import stage

    register_views(spark, sf_dir)
    triples = R.edge_triples(spark.table("edges"))
    # write_rdf writes into its path directly: staged, a crashed export
    # can never be served as a PARTIAL triple file
    path = stage(
        "rdfrt", sf_dir, ("events",), lambda p: R.write_rdf(triples, p)
    )
    lines = spark.read.text(path)
    pat = r"^_:(\S+) <has_connection> _:(\S+) \(score=(-?\d+)\) \.$"
    return lines.select(
        F.regexp_extract("value", pat, 1).alias("src"),
        F.regexp_extract("value", pat, 2).alias("dst"),
        F.regexp_extract("value", pat, 3)
        .cast("bigint")
        .cast("double")
        .alias("score"),
    )


@register("a28_bulk_pipeline_e2e", _A18_TRIPLES_ORACLE)
def a28_bulk_pipeline_e2e(spark, sf_dir):
    """The whole offline (EP2) binary as ONE Spark DAG, end to end
    (reference cmd/bulk/main.go:80-134): scroll-source scan with the
    watermark range pushed INTO the connector (elastic.go:44-102) ->
    A4 JSON decode -> A22 id validation (the digits-regex screen the
    reference's big.Int/Atoi parse implies; the quarantine-stream form
    of the same split is a26. This feed parses clean, so the ok
    stream is total and the oracle needn't model the split) -> the
    persons branch (A11 distinct + A6 trove flag) and the edges branch
    (A9/A10 explode + A12 max-per-pair) -> the full A18/A21 triple set
    -> WRITTEN as N-Quads text (the binary's actual sink) -> read back
    through the text source. The returned lines must equal a18's
    in-memory triple set exactly, which certifies the composed DAG AND
    the serialized format in one driver row. The write re-runs per
    invocation (the sink is part of the operator under test; bounded
    scratch, same discipline as a17).

    Scale shape: the only shuffles are A11's distinct, A12's
    partial-agg max, and none in the triple union (narrow maps);
    the trove flag joins a dimension-sized table. The scroll page
    manifest prunes nothing here (watermark 0 = full history), but the
    pushed-predicate arm still executes, so the composite exercises
    the same source path the incremental runs use."""
    from ..sources.scroll import register_scroll_source, stage_scroll_pages

    register_views(spark, sf_dir)  # stage_scroll_pages skips it on cache hit
    src_dir = stage_scroll_pages(spark, sf_dir)
    register_scroll_source(spark)
    hits = spark.read.format("scroll_hits").option("path", src_dir).load()
    decoded = (
        hits.filter(F.col("last_update_us") >= 0)
        .select(
            F.from_json(
                "_source",
                "last_update BIGINT, from_person_id STRING, "
                "to_person_id STRING, "
                "stats STRUCT<raw_score_in: INT, raw_score_out: INT>",
            ).alias("r")
        )
        .select(
            F.col("r.from_person_id").alias("from_person_id"),
            F.col("r.to_person_id").alias("to_person_id"),
            F.col("r.stats.raw_score_in").alias("raw_score_in"),
            F.col("r.stats.raw_score_out").alias("raw_score_out"),
        )
    )
    # the same digits-regex validation the reference's big.Int parse
    # implies (persons.validate_decimal_ids): a bare TRY_CAST would
    # accept-and-rewrite '1.5'/'1e3'/'-5', ids the binary skips
    ur = P.validate_decimal_ids(
        P.validate_decimal_ids(decoded, "from_person_id"), "to_person_id"
    ).drop("from_person_id_num", "to_person_id_num")
    flagged = P.enrich_is_trove(
        P.distinct_person_ids(ur), spark.table("trove_user")
    )
    edges = E.max_score_per_edge(E.explode_bidirectional(ur))
    triples = R.all_triples(spark.table("team_member"), flagged, edges)
    out = _fresh_scratch("a28_bulk_")
    R.write_rdf(triples, out)
    return spark.read.text(out)
