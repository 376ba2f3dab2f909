"""Fixture drift guard.

The driver regenerates /root/testdata between rounds and the physical
parquet encodings have shifted before (TIMESTAMP(NANOS)-as-int64 one
round, naive TIMESTAMP_NTZ micros the next). Three round-1 correctness
errors traced back to exactly this class of silent drift. This module
makes an UNHANDLED encoding fail loudly at test time instead of
surfacing as a mystery value mismatch deep in a query:

- every table must expose the canonical logical column set;
- every temporal column's physical form must be one the catalog's
  normalize_timestamps/ts_bigint_unit path explicitly handles;
- the NORMALIZED instants must land in the plausible fixture epoch
  window -- a 1000x unit misscale lands centuries away and fails here.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dgraph_etl_spark.catalog import (
    BASE_TABLES,
    load_table,
    table_path,
    ts_bigint_unit,
)

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]

# logical (post-normalization) column contract per table
EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey"},
    "part": {"p_partkey", "p_name", "p_brand", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}

TEMPORAL = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

# fixture event times are synthetic recent history; anything outside
# this window means a unit misscale (seconds read as micros -> 1970,
# micros read as nanos -> 1970, nanos read as micros -> year 52000+)
EPOCH_LO_US = 631_152_000 * 1_000_000  # 1990-01-01 (TPC-H dates start 1992)
EPOCH_HI_US = 3_000_000_000 * 1_000_000  # 2065-01-24


def _physical_form_ok(field: pa.Field) -> bool:
    t = field.type
    if pa.types.is_timestamp(t):
        return t.unit in ("s", "ms", "us", "ns")
    if pa.types.is_date(t):
        return True
    # bare-integer encodings are handled ONLY for the events 'ts'
    # column (catalog.normalize_timestamps / ts_bigint_unit key on
    # that name): accepting an integer o_orderdate/l_shipdate here
    # would pass this guard and then surface as a mystery
    # DATATYPE_MISMATCH three suites later -- the exact failure mode
    # this loud contract exists to preempt
    return field.name == "ts" and pa.types.is_integer(t)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", BASE_TABLES)
def test_logical_columns_present(sf_dir, table):
    sch = pq.ParquetFile(table_path(sf_dir, table)).schema_arrow
    missing = EXPECTED_COLUMNS[table] - set(sch.names)
    assert not missing, f"{sf_dir}/{table}: missing columns {sorted(missing)}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(TEMPORAL))
def test_temporal_physical_forms_are_handled(sf_dir, table):
    """Every temporal column must be a form the catalog normalizes; a
    new generator encoding fails HERE with the actual type in the
    message, not as a value mismatch three suites later."""
    pf = pq.ParquetFile(table_path(sf_dir, table))
    for col in TEMPORAL[table]:
        field = pf.schema_arrow.field(col)
        assert _physical_form_ok(field), (
            f"{sf_dir}/{table}.{col}: unhandled physical type {field.type} "
            "-- extend catalog.normalize_timestamps before using this fixture"
        )
        if col == "ts" and pa.types.is_integer(field.type):
            # must classify into a unit band, not fall through
            ts_bigint_unit(table_path(sf_dir, table))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_normalized_instants_in_plausible_window(spark, sf_dir):
    """End-to-end misscale guard: normalized event times must land in
    the synthetic-history window regardless of the round's encoding."""
    from pyspark.sql import functions as F

    for table, cols in TEMPORAL.items():
        df = load_table(spark, sf_dir, table)
        aggs = []
        for c in cols:
            aggs += [
                F.min(F.unix_micros(F.col(c))).alias(f"min_{c}"),
                F.max(F.unix_micros(F.col(c))).alias(f"max_{c}"),
            ]
        row = df.agg(*aggs).first()
        for c in cols:
            lo, hi = row[f"min_{c}"], row[f"max_{c}"]
            assert EPOCH_LO_US <= lo <= hi <= EPOCH_HI_US, (
                f"{sf_dir}/{table}.{c}: normalized range "
                f"[{lo}, {hi}] us is outside the plausible fixture window "
                "-- likely a timestamp unit misscale from fixture drift"
            )


# NOT NULL columns a query's rewrite relies on: (table, column, the
# query and why). Each query's docstring names its entry here.
NOT_NULL_CONTRACTS = {
    "events.ts": (
        "b73's single-pass retention form (collect_set of week) matches "
        "the oracle's join ONLY when ts is never NULL: collect_set drops "
        "a NULL week the join would keep (and the dedup lanes rely on "
        "it too); restore the generator or revert b73 to the join form"
    ),
    "lineitem.l_orderkey": (
        "b13_self_join groups line numbers per l_orderkey and explodes "
        "the pairs in-row: a NULL key would form a group and emit pairs "
        "the oracle's equi-self-join drops"
    ),
    "orders.o_orderstatus": (
        "b15_approx_error_bound joins its exact and HLL arms on "
        "o_orderstatus: the inner join drops a NULL group that the "
        "oracle's GROUP BY keeps"
    ),
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("contract", sorted(NOT_NULL_CONTRACTS))
def test_not_null_contract(spark, sf_dir, contract):
    """A fixture regenerated WITH NULLs in a column some query's
    rewrite assumes NOT NULL must fail loudly here, naming the query,
    instead of silently shifting that query's result."""
    from pyspark.sql import functions as F

    table, column = contract.split(".")
    df = load_table(spark, sf_dir, table)
    n_null = df.filter(F.col(column).isNull()).count()
    assert n_null == 0, (
        f"{sf_dir}/{table}: {n_null} NULL {column} rows -- "
        + NOT_NULL_CONTRACTS[contract]
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_seed_frontier_bound(spark, sf_dir):
    """g21_path_multiplicity force-broadcasts the seed-adjacent edge
    set (team_seed(TEAM) joined to edges on src). A fixture whose seed
    team gains a hub must fail HERE, naming g21, before that broadcast
    outgrows the per-round ceiling."""
    from dgraph_etl_spark.graph.traverse import team_seed
    from dgraph_etl_spark.session import PER_ROUND_BCAST_CEILING_ROWS
    from dgraph_etl_spark.suites.graph_traversal import (
        TEAM,
        _register_graph_views,
    )

    # the edges VIEW g21 reads (uncached: no bucketed copy per sf)
    _register_graph_views(spark, sf_dir)
    edges = spark.table("edges")
    seeds = team_seed(spark.table("team_member"), TEAM)
    n = seeds.join(edges, seeds["id"] == edges["src"]).count()
    assert n <= PER_ROUND_BCAST_CEILING_ROWS, (
        f"{sf_dir}: the seed team's out-edges are {n} rows, over "
        f"PER_ROUND_BCAST_CEILING_ROWS={PER_ROUND_BCAST_CEILING_ROWS} -- "
        "g21_path_multiplicity force-broadcasts this frontier; drop its "
        "broadcast hint or pick a seed team without a hub"
    )


def test_encoding_consistent_across_sfs():
    """All three scale factors should ship the same physical encodings;
    a mixed round would make sf0.001-green/sf0.01-red bugs look like
    scale sensitivity."""
    for table in BASE_TABLES:
        forms = set()
        for sf_dir in SF_DIRS:
            if not os.path.exists(table_path(sf_dir, table)):
                continue
            sch = pq.ParquetFile(table_path(sf_dir, table)).schema_arrow
            forms.add(tuple(str(sch.field(n).type) for n in sorted(sch.names)))
        assert len(forms) == 1, f"{table}: encodings differ across sfs: {forms}"


def test_register_views_detects_in_place_fixture_regen(spark, tmp_path):
    """A fixture regenerated IN PLACE mid-session must re-register:
    the idempotence cache previously keyed only (session, sf_dir), so
    views kept serving the previous round's compacted copies."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dgraph_etl_spark.catalog import BASE_TABLES, register_views, table_path

    sf = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", sf)
    register_views(spark, sf)
    n_before = spark.table("documents").count()

    # regenerate documents in place with one fewer row
    doc_path = table_path(sf, "documents")
    t = pq.read_table(doc_path)
    pq.write_table(t.slice(0, t.num_rows - 1), doc_path)

    register_views(spark, sf)  # same (session, sf_dir): must NOT no-op
    assert spark.table("documents").count() == n_before - 1
    # restore registration for any later test in this session
    register_views(spark, "/root/testdata/sf0.001", force=True)
    assert isinstance(BASE_TABLES, list)


def test_ts_bigint_unit_names_path_on_empty_file(tmp_path):
    """A zero-row fixture has no row groups and no stats: the unit is
    undecidable and the error must say so WITH the path, like every
    other undecidable branch (not a bare IndexError from row_group(0))."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from dgraph_etl_spark.catalog import ts_bigint_unit

    p = str(tmp_path / "empty_events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([], type=pa.int64())}), p
    )
    with pytest.raises(ValueError, match="empty_events.parquet"):
        ts_bigint_unit(p)


def test_compacted_layout_evicts_stale_generations(spark, tmp_path):
    """Regenerating a fixture must not strand the previous
    generation's full-size layout copy in /tmp forever: loading the
    table deletes same-(fixture, table) siblings whose embedded source
    identity no longer matches -- under the round-10 contract: the
    sibling must carry the PATH-HASHED tag (eviction scope == cache
    scope; a same-basename sibling from a different parent is NOT
    touched) and must be OLDER than the grace window (a fresh sibling
    may still be mid-scan in a concurrent process)."""
    import shutil
    import time

    from dgraph_etl_spark.catalog import _compacted_source
    from dgraph_etl_spark.staging import _EVICT_GRACE_SECONDS, source_tag
    from dgraph_etl_spark.staging import root as _root

    sf = str(tmp_path / "sf_evict")
    os.makedirs(sf)
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        os.path.join(sf, "documents.parquet"),
    )
    _LAYOUT_ROOT = _root()
    tag = source_tag(sf)
    stale = os.path.join(
        _LAYOUT_ROOT, f"dgraph_etl_layout_{tag}_documents_8_1_1"
    )
    young = os.path.join(
        _LAYOUT_ROOT, f"dgraph_etl_layout_{tag}_documents_8_2_2"
    )
    foreign = os.path.join(
        _LAYOUT_ROOT, "dgraph_etl_layout_sf_evict_otherhash_documents_8_1_1"
    )
    for d in (stale, young, foreign):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    old = time.time() - _EVICT_GRACE_SECONDS - 60
    os.utime(stale, (old, old))

    dest = _compacted_source(spark, sf, "documents")
    assert dest is not None and os.path.exists(
        os.path.join(dest, "_SUCCESS")
    ), "documents at 500 rows in one row group must compact"
    assert not os.path.exists(stale), (
        "the aged-out stale generation must be evicted on load"
    )
    assert os.path.exists(young), (
        "a generation inside the grace window must survive (a "
        "concurrent reader may be mid-scan)"
    )
    assert os.path.exists(foreign), "eviction crossed its tag scope"
    for d in (dest, young, foreign):
        shutil.rmtree(d, ignore_errors=True)


def test_load_suites_rolls_back_on_partial_import_failure(tmp_path):
    """A suite that raises partway through import must not leave the
    registry in a state where the retry dies on 'duplicate query name'
    instead of the original error (subprocess: the suites must not be
    already-imported)."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import sys

        class Bomb:
            # meta-path hook: graph_traversal (imported AFTER two
            # suites have already registered queries) raises
            def find_module(self, name, path=None):
                return self if name.endswith("suites.graph_traversal") else None

            def load_module(self, name):
                raise ImportError("injected suite failure")

        sys.meta_path.insert(0, Bomb())
        from dgraph_etl_spark import registry

        for attempt in (1, 2):
            try:
                registry._load_suites()
                raise SystemExit(f"attempt {attempt}: expected ImportError")
            except ImportError as e:
                assert "injected suite failure" in str(e), e
        print("ROLLBACK_OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert "ROLLBACK_OK" in out.stdout, (out.stdout, out.stderr)


def test_spark_view_overrides_match_dialect_neutral_text(spark):
    """views.SPARK_VIEW_SQL parity guard: for every Spark-dialect view
    override, the override and the dialect-neutral VIEW_SQL text (the
    one every DuckDB oracle executes) must produce the identical row
    multiset on Spark. This is the load-bearing link in the module's
    bit-identical-views guarantee once the two dialects stop sharing
    one text: VIEW_SQL == oracle side by construction, override ==
    VIEW_SQL by THIS test, therefore override == oracle side."""
    from dgraph_etl_spark.catalog import register_views
    from dgraph_etl_spark.views import SPARK_VIEW_SQL, VIEW_SQL

    assert set(SPARK_VIEW_SQL) <= set(VIEW_SQL)
    # register the real (override-backed) views first so the neutral
    # text's view references (e.g. user_relationship) resolve
    register_views(spark, "/root/testdata/sf0.001", force=True)
    for name, override_sql in SPARK_VIEW_SQL.items():
        neutral = spark.sql(VIEW_SQL[name])
        override = spark.sql(override_sql)
        assert neutral.schema == override.schema, name
        missing = neutral.exceptAll(override).count()
        extra = override.exceptAll(neutral).count()
        assert missing == 0 and extra == 0, (name, missing, extra)
