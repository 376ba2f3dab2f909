"""Scroll-page source: the reference's Elasticsearch extract as a real
Spark connector (Python Data Source API, Spark 4).

The reference scans index ``user_relationship`` through the ES scroll
API -- 5,000-hit pages, sorted ascending by ``last_update``, with the
``last_update >= watermark`` range predicate evaluated INSIDE the
source (reference: elastic.go:44-102 scan+channel, :52-53 range query,
:55-58 sort, :60 page size; cmd/etl/etl.go:19 watermark flag). The
Spark-native twin here keeps all three source-side behaviors, but as
engine machinery instead of a hand-rolled client loop:

- a "scroll page" is a JSONL file of hit envelopes
  ``{"_id": ..., "_source": {...}}`` plus one manifest carrying
  per-page (min, max) of the sort key -- exactly the page/cursor state
  the ES client hides;
- the batch reader maps one InputPartition per page (pages scan in
  parallel -- the channel+goroutine pipeline disappears into the
  scheduler) and PUSHES the watermark range predicate down: pages
  whose max last_update precedes the watermark are never opened
  (pushFilters + manifest pruning = A2's "filter runs inside the
  source");
- the stream reader exposes the page cursor AS the streaming offset:
  resume-from-checkpoint replays from the exact page the last commit
  ended on, which is the reference's manual watermark bookkeeping
  (elastic.go:87-96 progress prints) made transactional.

Rows come out as the raw hit envelope (``last_update_us`` surfaced for
pushdown + ``_source`` as a JSON string) so the engine's A4 decode path
(``from_json`` + permissive skip) stays in the query, same as the
reference's per-hit ``json.Unmarshal`` (elastic.go:80-85).

Scale note: a Python data source pays one Python worker hop per
partition -- fine for modest feeds and for CONTRACT parity (this module
exists to own the source semantics end to end); a 100 TB ingest would
front the same page/manifest layout with the JVM JSON reader
(``spark.read.json`` + a pushed range filter gives identical pruning on
a date-partitioned layout).
"""

from __future__ import annotations

import json
import os

SCROLL_SCHEMA = "last_update_us BIGINT, _id STRING, _source STRING"
PAGE_SIZE = 5_000  # the reference's scroll size (elastic.go:60)


def stage_scroll_pages(
    spark, sf_dir: str, page_size: int = PAGE_SIZE
) -> str:
    """Materialize the events fixture as scroll pages: JSONL hit files
    of ``page_size`` rows sorted ascending by last_update (the
    reference's scroll order), plus ``manifest.json`` with per-page
    (min, max, n) of the sort key. Idempotent per source identity
    (staging.stage)."""
    import glob
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..catalog import register_views
    from ..staging import stage

    def _build(d_tmp: str) -> None:
        # the WHOLE expensive build (view registration, checkpoint,
        # counts collect, page write, manifest) runs inside the flock'd
        # stager: a concurrent cold-start WAITS for the winner's pages
        # instead of running a duplicate multi-action staging job
        register_views(spark, sf_dir)
        # a null ts must die LOUDLY at stage time: F.to_json drops null
        # struct fields (spark.sql.jsonGenerator.ignoreNullFields default),
        # so a null lu would stage a page line with no "_lu" key -- a
        # poisoned page that KeyErrors on every later scan and is invisible
        # to the manifest's min/max pruning bounds. Per-row raise_error
        # keeps the check distributed and free when no nulls exist.
        _lu = F.unix_micros("ts")
        hits = spark.table("events").select(
            F.when(
                _lu.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("scroll stager: null ts for event_id="),
                        F.col("event_id").cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(_lu)
            .alias("lu"),
            # same poisoned-page hazard as lu: a null _id would be dropped
            # from the staged json line and KeyError every later scan
            F.when(
                F.col("event_id").isNull(),
                F.raise_error(F.lit("scroll stager: null event_id")).cast(
                    "string"
                ),
            )
            .otherwise(F.col("event_id").cast("string"))
            .alias("_id"),
            F.to_json(
                F.struct(
                    F.unix_micros("ts").alias("last_update"),
                    F.col("user_id").cast("string").alias("from_person_id"),
                    (F.col("event_id") % 50)
                    .cast("string")
                    .alias("to_person_id"),
                    F.struct(
                        # ROUND before the int cast: Spark truncates
                        # double->int while DuckDB rounds (see views.py)
                        F.round(F.col("value") * 100, 0)
                        .cast("int")
                        .alias("raw_score_in"),
                        F.round(F.col("value") * 37, 0)
                        .cast("int")
                        .alias("raw_score_out"),
                    ).alias("stats"),
                )
            ).alias("src"),
        )
        # DISTRIBUTED page assignment: global position in (lu, _id) order
        # comes from a range-repartition + per-partition row numbers + a
        # broadcast of per-partition COUNTS (one int per partition reaches
        # the driver -- never the rows; the old toPandas() stager shipped
        # the whole relation through the driver). page = position div
        # page_size, and each page is then written by exactly one task.
        # localCheckpoint pins ONE materialization of srt: the counts
        # action and paged's build both consume it, and repartitionByRange
        # re-SAMPLES its bounds per execution -- without the pin the two
        # could disagree on which partition a row landed in, silently
        # mis-sizing pages against the offsets computed from the counts
        srt = (
            hits.repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 1), "lu", "_id"
            )
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint()
        )
        counts = {
            r["_pid"]: r["cnt"]
            for r in srt.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_df = spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
            "_pid INT, _off LONG",
        )
        wrn = F.row_number().over(
            Window.partitionBy("_pid").orderBy("lu", "_id")
        )
        paged = (
            srt.withColumn("_wrn", wrn)
            .join(F.broadcast(off_df), "_pid")
            .select(
                "lu",
                "_id",
                "src",
                F.expr(
                    f"(_off + _wrn - 1) DIV {int(page_size)}"
                ).alias("page"),
            )
            # pinned: TWO actions consume paged (the page write and the
            # manifest stats agg) -- without this the join + window
            # subtree executed twice per staging
            .localCheckpoint()
        )
        spark_out = os.path.join(d_tmp, "_spark_pages")
        n_pages = max((acc + page_size - 1) // page_size, 1)
        (
            paged.repartition(n_pages, "page")
            .sortWithinPartitions("page", "lu", "_id")
            .select(
                "page",
                F.to_json(
                    F.struct(
                        F.col("_id"),
                        F.col("lu").alias("_lu"),
                        F.col("src").alias("_source"),
                    )
                ).alias("value"),
            )
            .write.mode("overwrite")
            .partitionBy("page")
            .text(spark_out)
        )
        # per-page stats for the manifest: one row PER PAGE, not per hit
        stats = {
            r["page"]: r
            for r in paged.groupBy("page")
            .agg(
                F.min("lu").alias("min_lu"),
                F.max("lu").alias("max_lu"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        }
        manifest = []
        for p in range(n_pages):
            fname = f"page{p:05d}.jsonl"
            parts = sorted(
                glob.glob(os.path.join(spark_out, f"page={p}", "part-*"))
            )
            if len(parts) == 1:
                # the normal case (one task per page): O(1) rename, not a
                # second driver-side byte-copy of the whole staged dataset
                os.rename(parts[0], os.path.join(d_tmp, fname))
            else:
                with open(os.path.join(d_tmp, fname), "w") as out:
                    for part in parts:  # empty page or >1 part; keep order
                        with open(part) as f:
                            shutil.copyfileobj(f, out)
            s = stats.get(p)
            manifest.append(
                {
                    "file": fname,
                    # an empty source still emits one (empty) page so the
                    # scan has a partition to plan; its bounds are the
                    # empty range [0, -1] (min > max), which every range
                    # predicate correctly prunes
                    "min_lu": int(s["min_lu"]) if s else 0,
                    "max_lu": int(s["max_lu"]) if s else -1,
                    "n": int(s["n"]) if s else 0,
                }
            )
        shutil.rmtree(spark_out, ignore_errors=True)
        with open(os.path.join(d_tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    return stage("scroll", sf_dir, ("events",), _build, suffix=f"_{page_size}")


def _load_manifest(path: str):
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def _read_page(path: str, fname: str, min_lu: int | None):
    """Yield hit tuples from one page file, applying the pushed lower
    bound row-side. The source owns the predicate ENTIRELY: pushFilters
    consumed it (did not yield it back), so Catalyst drops the Filter
    node and there is NO engine-side safety net -- removing this
    row-side check would silently return unfiltered rows from
    partially-pruned pages."""
    with open(os.path.join(path, fname)) as f:
        for line in f:
            hit = json.loads(line)
            if min_lu is not None and hit["_lu"] < min_lu:
                continue
            yield (hit["_lu"], hit["_id"], hit["_source"])


def register_scroll_source(spark) -> None:
    """Register the connector under format name ``scroll_hits`` (batch
    + streaming). Safe to call repeatedly."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    class _PagePartition(InputPartition):
        def __init__(self, fname: str, min_lu):
            self.fname = fname
            self.min_lu = min_lu

    class _ScrollReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]
            self.watermark = None  # pushed lower bound on last_update_us

        def pushFilters(self, filters):
            for flt in filters:
                if isinstance(
                    flt, (GreaterThan, GreaterThanOrEqual)
                ) and flt.attribute == ("last_update_us",):
                    bound = int(flt.value)
                    if isinstance(flt, GreaterThan):
                        bound += 1
                    if self.watermark is None or bound > self.watermark:
                        self.watermark = bound
                    # fully handled here (page pruning + row filter):
                    # do not hand it back to Spark
                    continue
                yield flt

        def partitions(self):
            pages = _load_manifest(self.path)
            if self.watermark is not None:
                pages = [p for p in pages if p["max_lu"] >= self.watermark]
            return [_PagePartition(p["file"], self.watermark) for p in pages]

        def read(self, partition):
            # when the pushed watermark prunes EVERY page, partitions()
            # returns [] and pyspark plans a single None partition
            # (plan_data_source_read.py) -- the no-new-data resume case
            # must yield 0 rows, not crash on partition.fname
            if partition is None:
                return iter(())
            return _read_page(self.path, partition.fname, partition.min_lu)

    class _ScrollStreamReader(SimpleDataSourceStreamReader):
        """The scroll cursor as a streaming offset: each micro-batch is
        one page; a restart resumes from the committed page index --
        the reference's manual watermark checkpointing, owned by the
        engine's offset log instead of operator discipline."""

        def __init__(self, options):
            self.path = options["path"]
            self.pages = _load_manifest(self.path)

        def initialOffset(self):
            return {"page": 0}

        def read(self, start):
            # rows must be a PICKLABLE sequence (the engine prefetches
            # and caches them with the offset), not a generator
            i = start["page"]
            if i >= len(self.pages):
                return iter([]), {"page": i}
            return (
                iter(list(_read_page(self.path, self.pages[i]["file"], None))),
                {"page": i + 1},
            )

        def readBetweenOffsets(self, start, end):
            out = []
            for i in range(start["page"], end["page"]):
                out.extend(_read_page(self.path, self.pages[i]["file"], None))
            return iter(out)

    class ScrollDataSource(DataSource):
        @classmethod
        def name(cls):
            return "scroll_hits"

        def schema(self):
            return SCROLL_SCHEMA

        def reader(self, schema):
            return _ScrollReader(self.options)

        def simpleStreamReader(self, schema):
            return _ScrollStreamReader(self.options)

    # self-pin: the external driver hands us a vanilla session, and
    # Python-source filter pushdown defaults off (runtime-settable SQL conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(ScrollDataSource)
    except Exception as ex:
        # tolerate ONLY duplicate registration; a real failure
        # (unsupported session type, pickling error) must not be
        # swallowed into a later misleading "data source not found"
        if "already" not in str(ex).lower() and "exists" not in str(ex).lower():
            raise
