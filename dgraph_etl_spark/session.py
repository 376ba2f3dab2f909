"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, and plan re-opt
  replace the reference's hand-tuned goroutine counts
  (cmd/etl/etl.go:20, cmd/bulk/main.go:26 in the reference).
- ``spark.sql.shuffle.partitions`` is a *local* default; on a real
  cluster AQE's coalescePartitions makes the initial number mostly
  irrelevant as long as it is high enough (set ~2-3x total cores).
- Session timezone is pinned to UTC so event-time semantics are
  deterministic and identical to the DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Serializes the AQE-off pinning window (see _aqe_off for the restore
# race two concurrent callers would hit).
_PIN_GUARD = threading.Lock()


def get_spark(
    app_name: str = "dgraph_etl_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Settings chosen for the local[N] test harness; every one of them is
    either neutral or beneficial on a 1000-executor cluster.
    """
    n = str(cpus if cpus is not None else DEFAULT_CPUS)
    # '*' is the only non-numeric local-master spec we accept (all
    # cores; the shuffle default derives from the machine for it).
    # Anything else must parse as a positive int HERE -- a '-4' or
    # '4x' must raise this ValueError, not fall through to a cryptic
    # "Could not parse Master URL" from Spark after shuffle
    # partitions were silently sized off the machine's core count
    if n == "*":
        n_int = os.cpu_count() or 8
    else:
        try:
            n_int = int(n)
        except ValueError:
            raise ValueError(f"cpus must be >= 1 or '*', got {cpus!r}")
    if n_int < 1:
        raise ValueError(f"cpus must be >= 1 or '*', got {cpus!r}")
    sp = shuffle_partitions if shuffle_partitions is not None else max(n_int, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # localCheckpoint blocks (RoundLane's per-round states, the
        # multi-consumer lazy checkpoints) are freed by the
        # ContextCleaner only after a JVM GC observes the dropped
        # reference -- unpersist() does not reach them; the driver
        # certifies 270+ queries in one session, and without a
        # periodic GC the dereferenced blocks accumulate until the
        # next incidental full GC. 5min bounds the float at any scale; soaks
        # that need tighter reclamation override via
        # SPARK_GRAFT_EXTRA_CONF (tools/graph_soak.py sets 1min).
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    # harness-level conf overrides without code edits: the soak tools
    # run bench.py as a subprocess at synthetic scales where e.g.
    # spark.cleaner.periodicGC.interval decides whether dereferenced
    # shuffle files (tens of GB per full-fact exchange at 1000x) are
    # reclaimed mid-run or linger until disk exhaustion. Format:
    # SPARK_GRAFT_EXTRA_CONF="key=value;key=value". Applied before
    # extra_conf so CODE always outranks environment.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {pair!r} is not key=value"
            )
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def _aqe_off(spark):
    """Plan and materialize with AQE off, so a pinned frame captures the
    physical plan's concrete HashPartitioning + ordering (an adaptive
    plan reports UnknownPartitioning to downstream planning).

    The flip is session-global for the window, and the window is
    serialized under ``_PIN_GUARD``: two CONCURRENT windows would
    otherwise race the read-modify-write of the conf -- the second
    reader can observe the first's "false" as the value to restore,
    leaving the session permanently non-adaptive after both return
    (and an interleaved restore could pin the second frame with AQE
    back ON, silently losing its partitioning). A plan an UNRELATED
    thread compiles during a held window still merely plans
    non-adaptively (same results; only bench warm-up compiles
    concurrently, untimed) -- which is why the flip lives in this ONE
    locked helper instead of scattered per-suite."""
    with _PIN_GUARD:
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


def pinned_partition_cache(df, *keys: str):
    """Materialize ``df`` hash-partitioned by ``keys`` such that every
    DOWNSTREAM plan in the session SEES the partitioning and skips its
    own exchange on this side -- the building block for iterative
    operators (pagerank rounds, hash-to-min label propagation) whose
    per-round join against a static big table must not re-shuffle that
    table every round.

    Why not ``repartition(keys).localCheckpoint()``: under AQE (the
    session default) the checkpoint's LogicalRDD reports
    UnknownPartitioning, and a cached plan REGISTERED adaptively
    reports UnknownPartitioning at downstream planning time too --
    both verified on 4.1.2 (LogicalRDD.outputPartitioning and
    InMemoryTableScan over an adaptive cached plan), so a
    checkpoint-based loop still exchanges the big side every round.
    Registering the cache with AQE OFF (:func:`_aqe_off`) pins
    HashPartitioning(keys, N) into the InMemoryRelation; adaptive
    downstream plans trust a cached scan's partitioning, so the
    per-round join plans with no Exchange on this side.

    The cache is ALSO sorted within partitions by ``keys``: pinning
    partitioning alone steers the planner into a sort-merge join
    (the exchange looks free) whose per-round SORT of the big side
    costs more than the shuffle it replaced -- measured as a
    17.5 -> 22.5 s pagerank regression at 100x before this (the
    pre-pin plan's AQE runtime broadcast avoided both). With the
    order pinned too, the join plans as SMJ over a bare
    InMemoryTableScan: the big side is streamed merge-ready, and the
    only per-round work on it is the scan itself.

    The caller owns ``out.unpersist()``; in the iterative loops that
    is :class:`RoundLane`'s exit."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _aqe_off(spark):
        out = df.repartition(n, *keys).sortWithinPartitions(*keys).persist()
        out.count()
    return out


# Node count at which an iterative loop stops broadcasting its
# per-node sides (:class:`RoundLane`'s lane boundary). A broadcast
# built fresh each round is a driver-side collect + serialize + ship,
# and paying it every round is only a win while the table is small.
# Measured on the 100x/1000x graph soaks (round 11): at 150k nodes the
# broadcast rebuild beats the node-table SMJ (part of pagerank's -31%
# at 100x); at 1.5M nodes ten 1.5M-row broadcast builds regressed
# pagerank 193 -> 291 s at 1000x. The boundary sits between the two
# measured scales; past it the round joins as a shuffle of two
# O(nodes) sides, which grows linearly instead.
PER_ROUND_BCAST_CEILING_ROWS = 500_000


def pinned_state_cache(df, *keys: str):
    """The PER-ROUND complement to :func:`pinned_partition_cache` for
    iterative loops whose round output is ALREADY hash-partitioned by
    ``keys`` by construction: an EAGER ``localCheckpoint`` taken with
    AQE off, which (unlike an adaptive checkpoint) captures the
    physical plan's concrete HashPartitioning + in-partition order
    into the LogicalRDD -- the next round's joins see hash(keys, N) +
    ordering and plan zero-exchange zero-sort, AND the round's lineage
    is truncated.

    Why it exists (round-12 rebuild-lane fix, VERDICT r11 #6): past
    ``PER_ROUND_BCAST_CEILING_ROWS`` the pagerank/hash-to-min rebuild
    join was a per-round shuffle of two O(nodes) sides, because the
    per-round ADAPTIVE ``localCheckpoint`` erased the state's
    partitioning (UnknownPartitioning) even though the round plan's
    output IS hash(key, N)-partitioned.

    Why localCheckpoint and NOT ``persist()`` (the 1000x re-soak
    find): a persist pins partitioning but does NOT truncate the
    logical plan, and an iterative round references its state THREE
    ways (share, dangling mass, rebuild), so the un-truncated plan
    tree grows ~3^k with round count -- cache registration
    canonicalizes that tree and the 1000x pagerank soak OOM'd the 16g
    DRIVER heap inside plan canonicalization around round 7 (java
    heap space in QueryPlan.doCanonicalize under ``persist``). The
    AQE-off checkpoint keeps the partitioning contract (verified: two
    such frames SMJ with 0 exchanges 0 sorts; a groupBy over one plans
    0 exchanges; an AQE-ON checkpoint of the same plan needs 1) while
    cutting the plan back to O(1) per round.

    The ``sortWithinPartitions`` is a guarantee, not always a cost:
    where the round plan already reports the order Spark's
    RemoveRedundantSorts elides it; where a BroadcastNestedLoopJoin
    dropped the ordering REPORT the data is still physically
    near-sorted and the sort is an in-partition pass, never an
    exchange. The AQE-off window (:func:`_aqe_off`) must cover the
    checkpoint's plan compilation, which is where the partitioning is
    captured.

    Lifecycle: nothing is registered with the cache manager, so there
    is nothing to unpersist; checkpoint blocks are freed by the
    ContextCleaner once the round's reference is dropped and the JVM
    GCs -- the session default sets
    ``spark.cleaner.periodicGC.interval=5min`` so long multi-operator
    sessions reclaim them without per-caller config;
    tools/graph_soak.py tightens it further for the 1000x soaks.

    Fault tolerance: localCheckpoint stores NON-replicated
    executor-local blocks, so losing an executor mid-iteration makes
    the loop unrecoverable (the pre-r12 persist() could recompute from
    lineage). That is the documented trade for the O(1)-per-round plan
    (the 3^k lineage OOM'd the driver first); a deployment that needs
    executor-loss recovery for multi-hour loops should switch
    :meth:`RoundLane.step` to reliable ``checkpoint()`` (HDFS-backed)
    instead -- same partitioning contract, one extra write."""
    with _aqe_off(df.sparkSession):
        return df.sortWithinPartitions(*keys).localCheckpoint()


class RoundLane:
    """The one materialization policy of the distributed iterative
    loops (``traverse._pagerank_rounds`` for the PageRank family,
    ``traverse.hits``, ``dedup._hash_to_min_rounds`` for WCC and the
    near-dup clusterers). The lane is picked ONCE, from the loop's
    node count against ``PER_ROUND_BCAST_CEILING_ROWS``, and every
    frame the loop keeps goes through one of its methods::

        with RoundLane(n_nodes) as lane:
            (e,) = lane.static(edges, "src")
            cur = lane.start(state0, "node")
            for _ in range(n_iter):
                contribs = e.join(lane.small(share(cur)), "src")...
                cur = lane.step(rebuild(cur, contribs), "node")
            return lane.detach(cur)

    Under the ceiling the per-node sides broadcast explicitly
    (:meth:`small`; checkpointed frames' LogicalRDDs carry no size
    stats, so the static planner never broadcasts them unaided, and
    AQE's runtime conversion still writes the other side's map-side
    shuffle files first). The static side is then one cheap
    serialized ``localCheckpoint`` shared by every join key (a pinned
    cache's columnar encode + sort measured 1.2-1.7x fixed overhead at
    sf0.1 in the round-10 A/B, buying nothing while the other side
    broadcasts), and every state is an eager ``localCheckpoint``.

    At or past it, per-round broadcast builds are the measured
    regression (the ceiling's note), so the whole round rides
    co-partitioning instead -- the partitioning contract: the static
    side is partition+order pinned ONCE per join key
    (:func:`pinned_partition_cache`), the first state is pinned
    hash(key, N) by :meth:`start`, and each later state is re-pinned
    by :meth:`step` (:func:`pinned_state_cache`: no repartition, the
    round plan's output is already hash(key, N)). A pagerank round
    then plans state -> share riding hash(node) = hash(src) into a
    zero-exchange zero-sort SMJ with the pinned edges, one O(nodes)
    exchange for groupBy(dst), and a zero-exchange rebuild left-join
    -- before the pins every round re-shuffled the EDGE table, which
    at 100 TB is the whole job, and the share, state and contribs
    sides on top of it.

    Lifecycle: ``start``'s cache is dropped once round 1 has
    materialized; :meth:`detach` copies the returned frame off every
    cache; leaving the ``with`` unpersists every cache the lane made
    (the driver certifies 270+ queries in one session, so no pinned
    cache may outlive its loop). Checkpoint blocks are not caches:
    the ContextCleaner frees them after a JVM GC (get_spark's
    periodicGC interval)."""

    def __init__(self, n_nodes: int):
        self._pinned = n_nodes >= PER_ROUND_BCAST_CEILING_ROWS
        self._static: list = []
        self._first = None

    def __enter__(self) -> "RoundLane":
        return self

    def __exit__(self, *exc) -> None:
        for df in [*self._static, self._first]:
            if df is not None:
                df.unpersist()

    def static(self, df, *keys: str) -> tuple:
        """``df`` materialized once per join key, in ``keys`` order."""
        if not self._pinned:
            # no repartition: under AQE the partitioning would not
            # survive the checkpoint anyway (UnknownPartitioning)
            return (df.localCheckpoint(),) * len(keys)
        self._static += [pinned_partition_cache(df, k) for k in keys]
        return tuple(self._static[-len(keys):])

    def small(self, df):
        """The join hint for a per-node side of a round join."""
        return df if self._pinned else F.broadcast(df)

    def start(self, df, key: str):
        """The loop's first state, materialized."""
        if not self._pinned:
            return df.localCheckpoint()
        self._first = pinned_partition_cache(df, key)
        return self._first

    def step(self, df, key: str):
        """A round's new state, materialized (its lineage cut)."""
        if not self._pinned:
            return df.localCheckpoint()
        out = pinned_state_cache(df, key)
        if self._first is not None:
            # round 1 is materialized: nothing reads the first state
            self._first.unpersist()
            self._first = None
        return out

    def detach(self, df):
        """``df`` made independent of every cache the exit drops."""
        return df.localCheckpoint() if self._pinned else df


def session_stopped(df) -> bool:
    """True once the SparkSession behind ``df`` has been stopped: the
    lazy-eviction test for module caches of DataFrames (graph edges,
    open ANN indexes), which would otherwise pin dead sessions."""
    sc = getattr(df.sparkSession, "_sc", None)
    return sc is None or getattr(sc, "_jsc", None) is None


class SessionKeyedMap:
    """Registry keyed by a LIVE SparkSession (plus an optional subkey),
    carrying the three safety properties every per-session cache in
    this repo needs in ONE place -- previously hand-rolled three times
    (catalog._REGISTERED, sources/bucketed._CREATE_LOCKS,
    streaming/core._MEM_SINKS), each re-reasoning the same subtleties:

    - weakref pin: ``id(session)`` alone is recyclable after a session
      is garbage-collected, so a new session allocated at the recycled
      address must never inherit the dead session's entry;
    - lazy sweep: entries whose session is gone are evicted at the
      next access, so a long-lived driver cycling sessions does not
      grow the map forever;
    - guarded mutation: concurrent threads in one session (the soak
      pools, multi-threaded drivers) race get-or-create; without the
      guard, two callers both see a miss and the second insert orphans
      the first caller's value (observed risk for the memory-sink name
      list: the orphaned list's sink is never dropped).
    """

    def __init__(self) -> None:
        import threading

        self._entries: dict[tuple, tuple] = {}
        self._guard = threading.Lock()

    def _sweep_locked(self) -> None:
        for k in [k for k, (ref, _) in self._entries.items() if ref() is None]:
            del self._entries[k]

    def get_or_create(self, spark: SparkSession, factory, key=None):
        """Return the live entry's value, creating it via ``factory()``
        (called under the guard -- keep factories cheap) on a miss or
        a recycled-id collision."""
        import weakref

        with self._guard:
            self._sweep_locked()
            k = (id(spark), key)
            entry = self._entries.get(k)
            if entry is None or entry[0]() is not spark:
                entry = (weakref.ref(spark), factory())
                self._entries[k] = entry
            return entry[1]

    def peek(self, spark: SparkSession, key=None):
        """The live entry's value, or None (missing, or a dead/recycled
        pin -- never another session's state)."""
        with self._guard:
            self._sweep_locked()
            entry = self._entries.get((id(spark), key))
            return entry[1] if entry is not None and entry[0]() is spark else None

    def put(self, spark: SparkSession, value, key=None) -> None:
        import weakref

        with self._guard:
            self._sweep_locked()
            self._entries[(id(spark), key)] = (weakref.ref(spark), value)

    def pop(self, spark: SparkSession, key=None):
        """Remove and return the live entry's value (None if absent or
        pinned to a dead/recycled session -- the stale entry is still
        removed so the address can be safely re-keyed)."""
        with self._guard:
            self._sweep_locked()
            entry = self._entries.pop((id(spark), key), None)
            return entry[1] if entry is not None and entry[0]() is spark else None
