"""JDBC source wrapper (SURVEY.md B3; reference mysql.go:17-82 +
shard routing cmd/bulk/main.go:222-269).

The reference hand-routes point lookups to one of two MySQL servers by
comparing a big.Int key against [Low, High] shard bounds, with
hand-tuned connection pools (250 conns/shard, 10s lifetime,
bulk/main.go:228-244). In Spark the same table is ONE logical source;
parallelism comes from partition predicates — ``predicates=[...]``
gives one JDBC connection per partition, each shipping its own WHERE
clause, so the scan is distributed without any router code.

``read_jdbc`` is exercised END-TO-END against Apache Derby (the
embedded database bundled with Spark): tests write a table over JDBC,
read it back through ``range_predicates`` partitions, and assert exact
row recovery + one connection-partition per predicate
(tests/test_sources_and_metrics.py). ``range_predicates`` (the part
that replaces the reference's shard router) is additionally
unit-tested pure, including the uint64 key space (2^63 splits exactly
like bulk/main.go:234-249).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def range_predicates(col: str, lo: int, hi: int, n: int) -> list[str]:
    """n non-overlapping WHERE fragments covering [lo, hi] exactly —
    the generalization of the reference's two hard-coded shard ranges.
    Plain Python ints: the uint64 key space (hi = 2^64-1) must not
    overflow, which is why the reference needed math/big.

    The FIRST fragment additionally carries an ``OR col IS NULL`` arm
    (Spark's own ``partitionColumn`` convention): NULL keys satisfy no
    range comparison, so without the arm every NULL-keyed row would
    silently vanish from the partitioned scan while an unpartitioned
    read of the same table returns it."""
    if n <= 0 or hi < lo:
        raise ValueError("need n >= 1 and hi >= lo")
    span = hi - lo + 1
    step, rem = divmod(span, n)
    preds, start = [], lo
    for i in range(n):
        width = step + (1 if i < rem else 0)
        if width == 0:
            break
        end = start + width - 1
        preds.append(f"{col} >= {start} AND {col} <= {end}")
        start = end + 1
    preds[0] = f"({preds[0]}) OR {col} IS NULL"
    return preds


def stage_derby_table(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Stage ``<sf_dir>/<table>.parquet`` into an embedded Derby
    database (the JDBC engine bundled with Spark) and return the
    database's JDBC url — the fixture side of the b03 driver row, so
    the B3 scan is certified against a REAL database rather than a
    mocked reader.

    Staging runs under the repo's one stager (staging.stage): keyed by
    the source parquet's identity, built in a tmp sibling, marker
    written last, renamed into place -- and because a rename must move
    a CLOSED database, the staging copy is explicitly de-booted via
    Derby's ``;shutdown=true`` URL before the stager publishes. The
    flock means a concurrent cold-start WAITS for the winner instead of
    bulk-inserting the whole table row-by-row over JDBC a second time
    (the single most expensive staging step in the repo). Embedded
    Derby is single-JVM: the staged database serves one process at a
    time, which matches the per-process driver/precert runs it backs
    (a multi-writer deployment would point ``read_jdbc`` at a
    server-mode database instead)."""
    import os

    from ..catalog import table_path
    from ..staging import stage

    def _build(tmp: str) -> None:
        # Derby creates the db dir itself, so it nests INSIDE the
        # stager's tmp dir (create=true refuses a pre-existing dir)
        db = os.path.join(tmp, "db")
        spark.read.parquet(table_path(sf_dir, table)).write.jdbc(
            f"jdbc:derby:{db};create=true",
            table,
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
        try:
            spark._jvm.java.sql.DriverManager.getConnection(  # type: ignore[union-attr]
                f"jdbc:derby:{db};shutdown=true"
            )
        except Exception as ex:
            # single-database shutdown SUCCEEDS by raising SQLState 08006
            if "08006" not in str(ex):
                raise

    d = stage("derby", sf_dir, (table,), _build, suffix=f"_{table}")
    return f"jdbc:derby:{os.path.join(d, 'db')}"


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """B3: parallel JDBC scan. One partition (and connection) per
    predicate; Catalyst still pushes row filters/projections into each
    partition's query (spark.sql.jdbc pushdown)."""
    props = {"fetchsize": "5000", **(properties or {})}
    if predicates:
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    return spark.read.jdbc(url, table, properties=props)
