"""k-hop BFS with visited-set exclusion (SURVEY.md G1-G5).

The reference's one real query (cmd/query/main.go:29-43) is a 2-hop
friend-of-friend traversal in DGraphQL:

    var(func: eq(team_id, $x))        { src as has_member }      # G1
    var(func: uid(src))   { hop1 as has_connection @filter(NOT uid(src)) }
    var(func: uid(hop1))  { hop2 as has_connection
                            @filter(NOT uid(hop1) AND NOT uid(src)) }
    hop2_count(func: uid(hop2)) { person_id }                    # G4

Re-expressed relationally: each hop is frontier JOIN edges, each
@filter(NOT uid(set)) is a left-anti join against the accumulated
visited set, and var blocks (G5) are intermediate DataFrames.

The hop itself lives once, in :func:`out_pairs`; :func:`neighbors`
and :func:`expand` build the set forms on it, and every traversal --
k_hop, the DQL uid steps, @recurse, @normalize and count(pred) in
graph/dql.py, g21's path count -- calls these instead of joining the
edge table by hand.

Scale notes (power-law graphs, 100 TB):
- the frontier is usually tiny vs. the edge table -> broadcast it
  (frontier side) so each hop is a broadcast hash join with NO shuffle
  of the edges. The hint is forced; the seeded frontiers stay under
  tests/test_fixture_contract.py::test_seed_frontier_bound's ceiling.
  A frontier above it is ROADMAP item 1's next step.
- per-hop .distinct() keeps the frontier a set (otherwise hub fan-in
  multiplies rows hop over hop).
- lineage grows per hop; k_hop localCheckpoints every third frontier
  to truncate the plan.
- visited set is maintained as a growing DataFrame; anti-joins against
  it implement the @filter(NOT uid(...)) exclusions exactly.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import jaccard, set_overlap
from ..session import RoundLane


def team_seed(team_member: DataFrame, team_id: str) -> DataFrame:
    """G1: seed uid set = members of one team. Returns column `id`."""
    return (
        team_member.filter(F.col("team_id") == team_id)
        .select(F.col("person_id").alias("id"))
        .dropDuplicates(["id"])
    )


def out_pairs(frontier: DataFrame, edges: DataFrame) -> DataFrame:
    """The frontier hop: one (id, dst) row per edge leaving the
    frontier's ``id`` column. The frontier is the broadcast side, so the
    edge table never moves.

    Rows are not deduplicated: a frontier that repeats an id (a multiset
    of path ends, g21) gives one row per path. NULL dst is dropped: the
    reference's NOT-uid / SQL NOT IN exclusion drops NULLs, while a
    left_anti on id would keep a NULL id forever (it never matches
    visited) -- a phantom node in every hop count. The edge source is
    renamed to ``id`` and joined USING it, so consecutive hops over one
    edge DataFrame need no per-hop alias to stay unambiguous."""
    return (
        F.broadcast(frontier.select("id"))
        .join(edges.select(F.col("src").alias("id"), "dst"), "id")
        .filter(F.col("dst").isNotNull())
    )


def neighbors(frontier: DataFrame, edges: DataFrame) -> DataFrame:
    """The distinct ``id`` set one hop out of the frontier."""
    return (
        out_pairs(frontier, edges)
        .select(F.col("dst").alias("id"))
        .dropDuplicates(["id"])
    )


def expand(
    frontier: DataFrame, edges: DataFrame, visited: DataFrame
) -> DataFrame:
    """G2/G3: one hop -- follow edges out of the frontier, excluding
    anything already visited. frontier/visited have column `id`."""
    return neighbors(frontier, edges).join(visited, "id", "left_anti")


# Frontier caches from recent k_hop calls, evicted generationally: a
# call's hop DataFrames are consumed within its own query, but
# OVERLAPPING traversals legitimately share cached frontiers through
# Spark's plan-matching cache manager (g03's hop1 IS g02's result; a
# re-run of the same traversal matches everything), so the last few
# generations stay warm and anything older is unpersisted. This bounds
# executor storage over a 200-query session (the leak class fixed for
# the ANN panel in cb5b136) without giving up locality reuse.
_KEEP_GENERATIONS = 3
_CACHE_GENERATIONS: list[list[DataFrame]] = []


def evict_frontier_caches(keep: int = 0) -> None:
    """Unpersist k_hop's cached frontiers, oldest generation first,
    until at most ``keep`` generations remain. With ``keep=0`` the next
    traversal plans against no earlier call's frontiers: a frontier an
    earlier call cached (and perhaps already materialized) replaces the
    matching subtree, so the same query's plan otherwise depends on
    what ran before it (tools/plan_audit.py and the plan-lock test
    plan each query from this clean state)."""
    while len(_CACHE_GENERATIONS) > keep:
        for df in _CACHE_GENERATIONS.pop(0):
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session died between queries; nothing to free


def k_hop(edges: DataFrame, seeds: DataFrame, k: int) -> list[DataFrame]:
    """G2/G3 generalized: k-hop BFS. Returns [hop1, hop2, ... hopk]
    frontier DataFrames (each exclusive of all earlier hops and the
    seeds, matching the reference's NOT uid(...) filters)."""
    evict_frontier_caches(keep=_KEEP_GENERATIONS - 1)
    generation: list[DataFrame] = []
    _CACHE_GENERATIONS.append(generation)
    # every hop joins against edges: materialize it once instead of
    # recomputing the (scan -> explode -> max-agg) subtree per hop.
    # At cluster scale this is the persisted/bucketed edge table --
    # and a caller that already owns a cached edge table (the graph
    # suite shares one per session+sf, suites/graph_traversal.py)
    # keeps ownership: we neither re-cache nor evict it here.
    if not edges.is_cached:
        edges = edges.cache()
        generation.append(edges)
    # the seed set feeds every hop's plan THREE ways (hop-1 broadcast
    # build, the visited anti-join, and later hops' visited unions);
    # uncached, Catalyst re-plans the seed subtree (scan + filter +
    # distinct exchange) per consumer -- g03's before-plan carried it
    # three times. The set is tiny (a team's members), so cache it
    # once per call (round 12), evicted generationally like frontiers.
    visited = seeds.select("id").cache()
    generation.append(visited)
    frontier = visited
    hops: list[DataFrame] = []
    for i in range(k):
        frontier = expand(frontier, edges, visited)
        if (i + 1) % 3 == 0:
            # every third hop cuts the lineage. A localCheckpoint
            # already stores the RDD blocks; adding .cache() on top
            # would hold a SECOND copy of the same frontier for up to
            # _KEEP_GENERATIONS generations
            frontier = frontier.localCheckpoint(eager=False)
        else:
            frontier = frontier.cache()  # next hop's join + anti-join
        generation.append(frontier)
        hops.append(frontier)
        visited = visited.unionByName(frontier)
    return hops


def friend_of_friend(
    edges: DataFrame,
    team_member: DataFrame,
    persons: DataFrame,
    team_id: str,
) -> DataFrame:
    """The reference query end-to-end (G1/G2/G5): persons exactly 2
    hops from the given team, materialized back to person rows
    (person_id, name) -- the single library copy of the traversal the
    g05 suite query registers and the oracle certifies."""
    seeds = team_seed(team_member, team_id)
    _hop1, hop2 = k_hop(edges, seeds, k=2)
    return (
        hop2.join(persons, hop2["id"] == persons["person_id"], "inner")
        .select("person_id", "name")
    )


def relaxation_rounds(
    seeds: DataFrame,
    edges: DataFrame,
    agg_fn,
    combine,
    rounds: int = 3,
) -> DataFrame:
    """Bounded semiring path relaxation (distributed Bellman-Ford /
    pregel supersteps): from the seed set, the best achievable path
    value within ``rounds`` hops, where ``combine(val, score)`` extends
    a path by one edge and ``agg_fn`` picks the better of two paths
    (must be idempotent/commutative: MAX for the max-min widest-path
    semiring, MIN for min-plus shortest path). Returns (nid, val) for
    every reached NON-seed vertex.

    The ONE copy of the loop g24 (agg=max, combine=least) and g27
    (agg=min, combine=+) previously hand-kept in parallel -- the
    _pagerank_rounds consolidation rationale (hand-kept copies drift).
    g28's temporal variant stays separate: its extension join carries
    a time-ordering residual predicate and aggregates arrival times,
    not path values. Shape per round: one frontier-to-edges join + one
    hash agg, first hop broadcast-seeded, lineage cut per round."""
    if rounds < 1:
        raise ValueError(f"relaxation_rounds: rounds must be >= 1, got {rounds}")
    # a NULL dst would survive the final left_anti as a phantom NULL
    # vertex (out_pairs' note); the oracles' NOT IN drops it
    edges = edges.filter(F.col("dst").isNotNull())
    best = (
        F.broadcast(seeds)
        .join(edges, F.col("id") == edges["src"])
        .groupBy(F.col("dst").alias("nid"))
        .agg(agg_fn(F.col("score")).alias("val"))
    )
    for _ in range(rounds - 1):
        ext = best.join(edges, best["nid"] == edges["src"]).select(
            F.col("dst").alias("nid"),
            combine(F.col("val"), F.col("score")).alias("val"),
        )
        best = (
            best.unionByName(ext)
            .groupBy("nid")
            .agg(agg_fn(F.col("val")).alias("val"))
            .localCheckpoint(eager=False)
        )
    return best.join(seeds, best["nid"] == seeds["id"], "left_anti")


def degree_stats(edges: DataFrame) -> DataFrame:
    """Graph analytics over the edge table: per-node in/out degree and
    weighted degree. Two hash aggs + one full outer join keyed on the
    node id -- both aggs shuffle on the same key, so at scale the join
    reuses the agg's partitioning (no extra exchange). Score sums go
    through exact decimals per the registry determinism convention."""
    out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.sum(F.col("score").cast("decimal(18,6)"))
        .cast("double")
        .alias("out_score"),
    )
    inn = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg"),
        F.sum(F.col("score").cast("decimal(18,6)"))
        .cast("double")
        .alias("in_score"),
    )
    return out.join(inn, "node", "outer").select(
        "node",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        F.coalesce("out_score", F.lit(0.0)).alias("out_score"),
        F.coalesce("in_score", F.lit(0.0)).alias("in_score"),
    )


def _symmetric_adjacency(und, src: str = "u", dst: str = "v"):
    """One (vertex, neighbor) row per direction of the canonical
    undirected edge set -- the ONE definition of the adjacency k_core,
    link prediction, and neighbor-degree all build (three hand-kept
    copies had to stay in sync before)."""
    return und.select(
        F.col("a").alias(src), F.col("b").alias(dst)
    ).unionByName(und.select(F.col("b").alias(src), F.col("a").alias(dst)))


def _degrees(sym, src: str = "u"):
    return sym.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, loops dropped,
    directions merged. One distinct (= one shuffle on the pair)."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangle count on the undirected graph: with every edge oriented
    low->high, each triangle a<b<c is found exactly once as
    (a,b)⋈(b,c) checked against (a,c). Two equi-joins, no candidate
    counted twice. At 100 TB: orient by degree (low-degree endpoint
    first) instead of lexicographically to bound the wedge fan-out on
    hub vertices, and salt the residual hot keys -- the lexicographic
    orientation here keeps the oracle SQL identical.

    ``und`` feeds all three self-join sides; the lazy localCheckpoint
    (round 12) materializes the canonical pair set once -- without it
    Catalyst plans the scan+dedup subtree per side (3 edge-table
    passes + 3 dedup exchanges for one triangle pass)."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a"))
    closed = wedges.join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected graph exactly once, as
    (x, y, z) node columns, enumerated with DEGREE-based edge
    orientation -- the 100 TB-safe wedge close. Every undirected edge
    is oriented from its lower-(degree, id) endpoint to its higher one,
    which bounds each vertex's oriented out-degree by O(sqrt(m)) on any
    graph: wedge fan-out on power-law hubs collapses from deg(hub)^2 to
    ~m, while the triangle SET is provably identical to the
    lexicographic orientation (asserted in tests/test_properties.py).
    Orientation keys are (degree, id) structs compared natively by
    Catalyst; ties are impossible because ids are distinct. The
    oriented table feeds all three sides of the self-join, so it is
    materialized once (localCheckpoint)."""
    und = undirected_edges(edges)
    # the shared adjacency/degree definitions, not a fourth hand copy
    deg = _degrees(_symmetric_adjacency(und)).select(
        F.col("node").alias("v"), "deg"
    )
    g = und.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b")
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("v"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("v"))
    a_first = ka < kb
    oriented = g.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, kb).otherwise(ka).alias("hi_key"),
    ).localCheckpoint()
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (F.col("e1.hi_key") < F.col("e2.hi_key")),
    )
    closed = wedges.join(
        e3,
        (F.col("e3.lo") == F.col("e1.hi")) & (F.col("e3.hi") == F.col("e2.hi")),
        "left_semi",
    )
    return closed.select(
        F.col("e1.lo").alias("x"),
        F.col("e1.hi").alias("y"),
        F.col("e2.hi").alias("z"),
    )


def triangle_count_degree_oriented(edges: DataFrame) -> DataFrame:
    """Triangle count with degree-based orientation -- COUNT(*) over
    :func:`oriented_triangles` (see there for the O(sqrt(m)) fan-out
    bound and the equal-count-to-lexicographic property)."""
    return oriented_triangles(edges).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def weakly_connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Weakly-connected components over the directed edge table:
    component(v) = MIN node id reachable ignoring direction. Reuses the
    dedup module's iterative hash-to-min label propagation (the two
    problems are identical once near-dup pairs are read as edges):
    O(diameter) rounds, one join + one min-agg per round, lineage
    truncated per round. Raises if max_iter rounds don't converge."""
    from ..functions.dedup import neardup_components

    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .dropDuplicates(["doc_id"])
        # materialized once: the clusterer's lane-selection count and
        # its round-1 label build both read these blocks instead of
        # re-running the union+distinct
        .localCheckpoint()
    )
    pairs = undirected_edges(edges).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    labels = neardup_components(nodes, pairs, max_iter=max_iter)
    return labels.select(
        F.col("doc_id").alias("node"), F.col("component")
    )


def hop_counts(edges: DataFrame, seeds: DataFrame, k: int = 2) -> DataFrame:
    """G4: |hop_i| for i in 1..k as one small result row."""
    if k < 1:
        raise ValueError(
            f"hop_counts: k must be >= 1, got {k} (a zero-hop count "
            "row has no columns)"
        )
    hops = k_hop(edges, seeds, k)
    row = None
    for i, h in enumerate(hops, start=1):
        c = h.agg(F.count(F.lit(1)).alias(f"hop{i}_count"))
        row = c if row is None else row.crossJoin(c)
    return row.select(*[f"hop{i}_count" for i in range(1, k + 1)])


def _node_universe(edges: DataFrame, op: str) -> tuple[DataFrame, int]:
    """The ranking family's node set -- every src and dst, once --
    materialized, and its size. An empty edge table raises a named
    ``ValueError`` (``op`` names the operator) instead of a bare
    ZeroDivisionError from ``1.0 / n`` before any Spark job runs."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .dropDuplicates(["node"])
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError(f"{op}: empty edge table (no nodes)")
    return nodes, n


def _pagerank_rounds(
    base: DataFrame,
    ranks: DataFrame,
    out_mass: DataFrame,
    e: DataFrame,
    n_iter: int,
    in_share_val,
    update_expr,
    n_nodes: int | None = None,
) -> DataFrame:
    """The ONE power-iteration round shared by the PageRank family
    (pagerank / personalized_pagerank / weighted_pagerank) -- three
    hand-kept copies of this loop previously had to stay in sync (and
    had already drifted in defaults), the same failure mode
    _symmetric_adjacency's docstring records for the adjacency copies.

    The rank state folds ``om`` (NULL = dangling) and ``base``'s
    extra columns in ONCE (out_mass is static -- re-joining it per
    round was a node-table SMJ every iteration). Per round: the
    dangling mass folds to a 1-row broadcast (a plain filter+agg on
    the state; in-plan, no per-round collect) -> per-source share
    rank/om joins onto the edges and aggregates
    ``in_share_val(share_col)`` by dst -> ``update_expr()`` (reads
    columns mass / in_share plus whatever ``base`` carries) rebuilds
    the state, which the next round reads three times.

    How the edges and the state are materialized, and which side
    broadcasts, is session.RoundLane's policy, picked from the node
    count: the edge table is materialized ONCE (keyed src), so the
    per-round join never touches it beyond a scan."""
    # node-universe size decides the lane (callers that already counted
    # pass it; base is one row per node, so the fallback count is exact)
    if n_nodes is None:
        n_nodes = base.count()
    # The rank STATE carries om (and base's extra columns) through
    # every round: out_mass is static, so joining it per round
    # (the first cut's `ranks.join(out_mass)`) paid a node-table
    # sort-merge join -- two exchanges + two sorts -- every iteration
    # for columns that never change. One upfront join folds them in;
    # per round the state is only SCANNED (share + dangling are plain
    # filters on it). base's own columns (e.g. the personalization
    # teleport vector) ride along the same way for update_expr.
    extra = [c for c in base.columns if c != "node"]
    state_cols = ["node", *extra, "om"]
    state0 = (
        base.join(out_mass, "node", "left")
        .join(ranks, "node")
        .select(*state_cols, "rank")
    )
    with RoundLane(n_nodes) as lane:
        (e,) = lane.static(e, "src")
        cur = lane.start(state0, "node")
        for _ in range(n_iter):
            dangling = cur.filter(F.col("om").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass")
            )
            share = cur.filter(F.col("om").isNotNull()).select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("om")).alias("share"),
            )
            contribs = (
                e.join(lane.small(share), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(in_share_val(F.col("share"))).alias("in_share"))
            )
            # rebuild from the state frame; contribs is O(active dst
            # nodes) <= n_nodes
            nxt = (
                cur.drop("rank")
                .join(lane.small(contribs), "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(*state_cols, update_expr().alias("rank"))
            )
            cur = lane.step(nxt, "node")
        return lane.detach(cur.select("node", "rank"))


def pagerank(
    edges: DataFrame, n_iter: int = 10, damping: float = 0.85, round_dp: int = 6
) -> DataFrame:
    # round_dp default 6 matches personalized_pagerank/weighted_pagerank
    # (and g10's oracle): a default drifting inside the family was the
    # failure mode the _pagerank_rounds consolidation exists to prevent
    """PageRank over the directed edge table, classic power iteration:
    rank_{t+1}(v) = (1-d)/N + d * sum(rank_t(u)/out_deg(u) for u->v);
    dangling mass (nodes with no out-edges) is redistributed uniformly
    so total rank stays N * 1/N = 1 per convention (ranks sum to 1).

    Shape per iteration: one join (ranks onto edges, co-partitioned by
    src) + one groupBy(dst) agg + a left join back onto the node set --
    the same two-shuffle round as every vertex-centric engine.
    ``localCheckpoint`` per iteration truncates lineage; at 100 TB the
    edge table is the reused, cache-worthy side and ranks are 2 columns
    per node. Fixed iteration count (deterministic plan); rows-only
    check (float accumulation order is engine-specific)."""
    nodes, n = _node_universe(edges, "pagerank")
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("om")
    )
    ranks = _pagerank_rounds(
        base=nodes,
        ranks=nodes.select("node", F.lit(1.0 / n).alias("rank")),
        out_mass=out_deg,
        # raw projection: _pagerank_rounds' lane materializes the
        # edge side once
        e=edges.select("src", "dst"),
        n_iter=n_iter,
        n_nodes=n,
        in_share_val=lambda share: share,
        update_expr=lambda: (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("mass") / F.lit(float(n))
            + F.lit(damping) * F.coalesce(F.col("in_share"), F.lit(0.0))
        ),
    )
    return ranks.select("node", F.round("rank", round_dp).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_dp: int = 6,
) -> DataFrame:
    """Personalized PageRank: power iteration where ALL teleport mass
    (the (1-d) restart and the dangling redistribution) returns to the
    seed set instead of spreading uniformly -- ranks measure proximity
    to the seeds, the standard graph-retrieval / recommendation score
    (seed-team expansion ranked by random-walk affinity, vs the global
    importance g10 computes).

    Same per-iteration shape as ``pagerank`` (one ranks-onto-edges
    join + one groupBy(dst) + a join back onto the teleport vector,
    dangling mass in-plan via a 1-row broadcast); the teleport vector
    replaces the uniform 1/N constant and is checkpointed once. Seeds
    need not touch any edge -- they still hold restart mass. Fixed
    iteration count; final ranks rounded so cross-engine SUM
    accumulation ulps are absorbed."""
    seed_nodes = seeds.select(F.col("id").alias("node")).dropDuplicates(
        ["node"]
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .union(seed_nodes)
        .dropDuplicates(["node"])
    )
    s_cnt = seed_nodes.count()  # index metadata, like pagerank's n
    if s_cnt == 0:
        raise ValueError(
            "personalized_pagerank: empty seed set (no restart "
            "distribution to teleport to)"
        )
    tele = (
        nodes.join(
            F.broadcast(seed_nodes.withColumn("is_seed", F.lit(True))),
            "node",
            "left",
        )
        .select(
            "node",
            F.when(F.col("is_seed"), F.lit(1.0 / s_cnt))
            .otherwise(F.lit(0.0))
            .alias("tele"),
        )
        .localCheckpoint()
    )
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("om")
    )
    ranks = _pagerank_rounds(
        base=tele,
        ranks=tele.select("node", F.col("tele").alias("rank")),
        out_mass=out_deg,
        e=edges.select("src", "dst"),
        n_iter=n_iter,
        in_share_val=lambda share: share,
        update_expr=lambda: (
            F.lit(1.0 - damping) * F.col("tele")
            + F.lit(damping) * F.col("mass") * F.col("tele")
            + F.lit(damping) * F.coalesce(F.col("in_share"), F.lit(0.0))
        ),
    )
    return ranks.select("node", F.round("rank", round_dp).alias("rank"))


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Single-source(-set) shortest-path hop distances, bounded at
    ``max_hops``: (id, hop) where hop is the MINIMUM number of edges
    from any seed. Because each k_hop frontier already excludes every
    earlier frontier and the seeds (the reference's NOT uid(...)
    filters), tagging frontier i with hop i+1 and unioning IS the
    min-distance relation -- no per-vertex min-aggregation pass is
    needed. Same scale shape as k_hop: per-hop broadcast frontier
    joins against the cached edge table."""
    dist = seeds.select("id").withColumn("hop", F.lit(0))
    for i, frontier in enumerate(k_hop(edges, seeds, k=max_hops)):
        dist = dist.unionByName(
            frontier.select("id").withColumn("hop", F.lit(i + 1))
        )
    return dist


def k_core(edges: DataFrame, k: int = 3, n_rounds: int = 10) -> DataFrame:
    """Fixed-round k-core peel: symmetrize the undirected edge set,
    then ``n_rounds`` times drop every vertex with degree < k (and the
    edges touching it). Returns (id, core_degree) over the surviving
    subgraph -- the k-core when the peel has converged (extra rounds
    are no-ops, so FIXED rounds keep the operator deterministic and
    lets the oracle unroll the identical iterations as chained CTEs,
    same device as the pagerank oracle).

    Scale shape per round: one degree hash agg + two semi-joins keyed
    by vertex; lineage cut every round (localCheckpoint) so the plan
    doesn't deepen 3 ops * n_rounds. 100 TB note: real deployments
    peel until a round removes nothing (driver checks a count per
    round); the per-round work is identical."""
    und = undirected_edges(edges)
    sym = _symmetric_adjacency(und, "src", "dst")
    alive = sym.localCheckpoint(eager=False)
    for _ in range(n_rounds):
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        alive = (
            alive.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
    return alive.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def jaccard_link_prediction(
    edges: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Neighbor-overlap link prediction: for every non-adjacent vertex
    pair sharing at least one neighbor, the Jaccard similarity of
    their (undirected) neighbor sets; pairs scoring >= threshold are
    the predicted links. The classic common-neighbors recommender,
    exactly (set sizes are ints, one IEEE division -- fully
    oracle-checkable).

    Scale shape: the sets are neighbour sets, so candidate pairs come
    from wedges -- a ``set_overlap`` self-join of the symmetric
    adjacency through the shared neighbor ``u``, the only quadratic
    step, per-neighbor-degree like triangle counting (at 100 TB the
    hub mitigation is the degree-oriented variant / salting, as in
    triangle_count_degree_oriented). Degrees join onto the adjacency
    by ``v`` BEFORE the wedge and ride in-row as the set sizes, so
    the threshold filter plans below the one anti-join that removes
    existing edges on the canonical pair.

    ``und`` feeds the adjacency (both wedge sides and the degree agg)
    and the anti-join; the lazy localCheckpoint (round 12)
    materializes the canonical pair set once instead of re-planning
    scan+dedup per consumer."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    sym = _symmetric_adjacency(und)
    sets = sym.join(
        _degrees(sym).select(F.col("node").alias("v"), F.col("deg").alias("sz")),
        "v",
    ).select(F.col("v").alias("id"), "sz", "u")
    scored = (
        set_overlap(sets, sets, ["u"], operator.lt)
        .select(
            F.col("id_a").alias("x"),
            F.col("id_b").alias("y"),
            "n_common",
            jaccard(6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.join(
        und,
        (scored["x"] == und["a"]) & (scored["y"] == und["b"]),
        "left_anti",
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """Per-vertex mean degree of its (undirected) neighbors -- the
    local assortativity signal (hubs-connected-to-hubs vs
    hubs-to-leaves). Degree table joins back onto the symmetric
    adjacency keyed by the neighbor, then one sum/count per vertex:
    two hash aggs + one equi-join, exact integer sums with a single
    IEEE division at the end.

    ``und`` reaches the plan twice (the adjacency join side and the
    degree agg, both through the symmetric adjacency); the lazy
    localCheckpoint (round 12) materializes it once."""
    und = undirected_edges(edges).localCheckpoint(eager=False)
    sym = _symmetric_adjacency(und)
    deg = _degrees(sym)
    ndeg = sym.join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("v_deg")),
        "v",
    )
    return (
        ndeg.groupBy(F.col("u").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("v_deg").alias("sum_neighbor_deg"),
        )
        .select(
            "id",
            "degree",
            "sum_neighbor_deg",
            F.round(
                F.col("sum_neighbor_deg") / F.col("degree"), 6
            ).alias("avg_neighbor_degree"),
        )
    )


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities: the mutual-reinforcement ranking
    family next to the PageRank power iterations (g10/g25/g26). Each
    round, a node's AUTHORITY is the sum of the hub scores pointing at
    it and its HUB score is the sum of the authority scores it points
    at, each vector L1-normalized after its update (positive scores,
    so the L1 norm is one SUM -- a 1-row broadcast, the same device as
    the dangling-mass scalar in ``pagerank``).

    Scale shape per round: two edge-keyed hash aggs (in-sum, out-sum)
    + two 1-row broadcast normalizations; lineage cut per round. How
    the edges and the vectors are materialized, and whether the
    vectors broadcast, is session.RoundLane's policy.
    Fixed ``n_iter`` keeps the operator deterministic so the oracle
    can unroll the identical rounds as chained CTEs, 6-dp rounded --
    the same discipline as the PageRank oracles. Sequential
    dependence note: auth updates from h_{i-1}, hub from the FRESH
    auth (classic Kleinberg ordering), mirrored term-for-term in the
    oracle."""
    nodes, n = _node_universe(edges, "hits")
    # n_iter=0 degrades to the initial vectors, like pagerank
    auth = nodes.select("node", F.lit(1.0).alias("auth"))
    with RoundLane(n) as lane:

        def half_round(e, vec, by, to, name):
            # every node's ``name`` score: the sum of ``vec``'s (node,
            # score) over its edges (joined on ``by``, summed per
            # ``to``), L1-normalized; ``vec`` holds every node, so it
            # also carries the node set for the left join
            sums = (
                e.join(lane.small(vec.toDF(by, "v")), by)
                .groupBy(F.col(to).alias("node"))
                .agg(F.sum("v").alias("v"))
            )
            raw = vec.select("node").join(sums, "node", "left").select(
                "node", F.coalesce(F.col("v"), F.lit(0.0)).alias(name)
            )
            tot = raw.agg(F.sum(name).alias("tot"))
            nxt = raw.crossJoin(F.broadcast(tot)).select(
                "node", (F.col(name) / F.col("tot")).alias(name)
            )
            return lane.step(nxt, "node")

        # the rounds join the edge table on BOTH orientations, so the
        # lane materializes it once per key
        e_src, e_dst = lane.static(edges.select("src", "dst"), "src", "dst")
        hub = lane.start(nodes.select("node", F.lit(1.0).alias("hub")), "node")
        for _ in range(n_iter):
            auth = half_round(e_src, hub, "src", "dst", "auth")
            hub = half_round(e_dst, auth, "dst", "src", "hub")
        # one eager copy of the joined vectors: off every cache the
        # lane drops, and no action on the result re-runs the join
        result = hub.join(auth, "node").localCheckpoint()
    return result.select(
        "node",
        F.round("hub", round_dp).alias("hub"),
        F.round("auth", round_dp).alias("auth"),
    )


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_dp: int = 6,
) -> DataFrame:
    """PageRank with EDGE-WEIGHTED transition probabilities: a node
    splits its rank over out-edges proportionally to their scores
    (the reference's edge scores as random-walk affinities) instead
    of uniformly -- rank flows along strong relationships. Same
    two-shuffle power-iteration round as ``pagerank``; out-degree
    becomes out-WEIGHT (one agg, reused every round), dangling mass
    redistributes uniformly as before. Dangling = no out-edges OR
    zero total out-weight: a node whose out-edge scores sum to 0 has
    no defined split (rank/0 errors under ANSI, makes inf in IEEE
    engines), so its mass redistributes like a sink's -- the random
    surfer can't follow a zero-probability edge. The oracle applies
    the identical rule (HAVING SUM(score) > 0 on the out-weight
    table)."""
    nodes, n = _node_universe(edges, "weighted_pagerank")
    out_w = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(
            F.sum("score").alias("om"),
            F.count(F.when(F.col("score") > 0, 1)).alias("_n_pos"),
        )
        # zero total out-weight = dangling (see docstring). Classified
        # by an INTEGER count of positive-score edges, not the float
        # sum: for the operator's non-negative-affinity inputs the two
        # agree exactly, but the count stays order-independent (a raw
        # double SUM(...) > 0 boundary could flip with partial-agg
        # accumulation order under cancellation)
        .filter(F.col("_n_pos") > 0)
        .drop("_n_pos")
    )
    ranks = _pagerank_rounds(
        base=nodes,
        ranks=nodes.select("node", F.lit(1.0 / n).alias("rank")),
        out_mass=out_w,
        e=edges.select("src", "dst", "score"),
        n_iter=n_iter,
        n_nodes=n,
        # share = rank/out_w, weighted per edge by its score
        in_share_val=lambda share: share * F.col("score"),
        update_expr=lambda: (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("mass") / F.lit(float(n))
            + F.lit(damping) * F.coalesce(F.col("in_share"), F.lit(0.0))
        ),
    )
    return ranks.select("node", F.round("rank", round_dp).alias("rank"))
