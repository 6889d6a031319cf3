"""Iterative graph operators built on the cycle surface (SURVEY.md §2.7).

The reference's only iteration construct is the feedback Cycle
(``beginCycle``/``closeCycle``, lang/Stream.scala:143-147, IR
StreamExpressions.scala:141); its event compiler rejects cycles outright.
Here every loop with a stop rule runs through ``milan_spark.fixpoint``
(driver-driven, lineage-truncated per round, one counted checkpoint job per
round) — the same realization the reference's Boda sample documents as the
workaround (milan-samples/.../bodaboda/BodaApp.scala:60-69). Loops with a
fixed round count and no stop rule are plain ``for`` loops.

``connected_components`` is the canonical use: collapsing near-duplicate
*pairs* into dedup *clusters* (keep one document per component) — the step a
real corpus-dedup pipeline needs after any pair generator in
``operators.dedup``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from milan_spark import fixpoint
from milan_spark.errors import MilanAnalysisError
from milan_spark.session import sql


def symmetrize(df: DataFrame, a: Column, b: Column, u: str = "u", v: str = "v") -> DataFrame:
    """Both directions of every (a, b) row as ``(u, v)`` rows, from one
    in-row ``inline`` over ``[(a, b), (b, a)]``: a plan that reads ``df`` once,
    where ``x ∪ swap(x)`` reads it twice."""
    fwd, rev = F.struct(a.alias(u), b.alias(v)), F.struct(b.alias(u), a.alias(v))
    return df.select(F.inline(F.array(fwd, rev)))


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends up labeled with
    the smallest node id in its component. Returns (node, label).

    Each round is one distributed job (message aggregate + label join);
    rounds needed = graph diameter. Near-duplicate clusters are dense and
    shallow (diameter ≲ 3) so the round count stays small, and the plan is
    two lines — but the round-8 head-to-head (SCALE.md) measured
    :func:`connected_components_star` at-or-ahead even here (22.1 vs 14.6 s
    on the 10× dedup graph; 6× on a 128-chain), so prefer the star
    alternation when wall time matters and this when plan simplicity or the
    Cycle-node demonstration does. The
    convergence check rides the round's own job as a ``CollectMetrics``
    observation (count of improved labels), so no separate driver-blocking
    count job runs per round. Lineage is truncated every round (eager
    ``localCheckpoint``), so plans stay flat regardless of iteration count.
    If the last of ``max_iterations`` rounds still improved a label,
    :func:`milan_spark.fixpoint.fixpoint` raises :class:`MilanRoundCapError`
    instead of returning labels that are not yet component minima.
    """
    edges = symmetrize(pairs, F.col(a_col), F.col(b_col)).persist()
    # initialize with the FIRST propagation round already applied — the
    # distinct-nodes aggregate and round 1's message aggregate are the same
    # shuffle, so starting from min(self, min neighbor) saves one full
    # round (one join + one checkpoint job) for free
    labels = (
        edges.groupBy(F.col("u").alias("n"))
        .agg(F.min("v").alias("__mv"))
        .select("n", F.least("n", "__mv").alias("l"))
    )

    def step(lab: DataFrame, _r: int) -> "tuple[DataFrame, bool]":
        msgs = (
            edges.join(lab, edges["v"] == lab["n"])
            .groupBy(edges["u"].alias("n"))
            .agg(F.min(lab["l"]).alias("__ml"))
        )
        # least() skips nulls: nodes with no incoming message keep their label
        new = lab.join(msgs, "n", "left").select(
            "n", F.least("l", "__ml").alias("l"), (F.col("__ml") < F.col("l")).alias("__imp")
        )
        obs = Observation()
        new = new.observe(obs, F.sum(F.col("__imp").cast("long")).alias("changed"))
        new = new.drop("__imp").localCheckpoint(eager=True)
        # the eager checkpoint ran the round's job; its observation is ready
        return new, (obs.get["changed"] or 0) == 0

    labels, _ = fixpoint.fixpoint(
        step, labels, max_iterations, on_cap="raise", what="connected_components max_iterations"
    )
    return labels.select(F.col("n").alias("node"), F.col("l").alias("label"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14, the
    two-phase algorithm): converges in O(log n) ROUNDS regardless of graph
    diameter — the scale contrast to :func:`connected_components`'s
    O(diameter) min-label propagation. On the near-duplicate graphs the
    catalog deduplicates (dense, diameter ≲ 3) the round-8 head-to-head
    measured star AHEAD of min-label too (14.6 vs 22.1 s warm on the 10×
    dedup graph — the contracting edge set beats re-joining full labels
    even at low diameters); on long-path graphs (chains, meshes, weak-link
    social graphs) it is the only viable shape — 4.8 vs 29.1 s on a mere
    128-hop chain, and a 10^6-hop chain takes min-label 10^6 rounds and
    this ~20. Same output contract:
    (node, label), label = the component's minimum node id.

    Each round is two shuffles over an edge set that only contracts toward
    the star forest: large-star hangs every higher neighbor of u onto
    min(Γ(u) ∪ {u}); small-star re-hangs every lower neighbor (and u) onto
    the local minimum. Lineage is truncated per round (eager
    localCheckpoint); convergence = the canonical (hi→lo) edge set is
    UNCHANGED by a round. The check is count-gated: each round's edge count
    rides its materialization job as an observation, and only a round whose
    count MATCHES the previous one pays the (single-direction) ``exceptAll``
    probe — equal-size sets with an empty difference are equal, and a round
    that changed the count is proven non-converged for free. At the fixpoint
    the edges ARE the answer: every non-root points directly at its
    component minimum. A loop that ends its ``max_rounds`` without an
    unchanged round raises :class:`MilanRoundCapError`.
    """
    e, n_e = fixpoint.checkpoint_counted(
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    def step(state: "tuple[DataFrame, int]", _r: int) -> "tuple[tuple[DataFrame, int], bool]":
        e, n_e = state
        und = symmetrize(e, F.col("u"), F.col("v"))
        # large-star: m(u) = min(Γ(u) ∪ {u}); hang every HIGHER neighbor on m
        mn = und.groupBy("u").agg(F.min("v").alias("__mv"))
        mn = mn.select("u", F.least("u", "__mv").alias("m"))
        large = (
            und.join(mn, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the canonical orientation: hang every LOWER neighbor
        # (and u itself) on the local minimum
        o = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )
        mn2 = o.groupBy("u").agg(F.min("v").alias("m"))
        small, n_small = fixpoint.checkpoint_counted(
            o.join(mn2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mn2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # both frames are distinct sets: equal counts + one empty set
        # difference ⇒ equal sets, so the second exceptAll direction is
        # redundant, and a count change skips the probe job entirely
        return (small, n_small), n_small == n_e and small.exceptAll(e).isEmpty()

    (e, _), _ = fixpoint.fixpoint(
        step, (e, n_e), max_rounds, on_cap="raise", what="connected_components_star max_rounds"
    )
    return (
        all_nodes.join(e.select(F.col("u").alias("n"), F.col("v").alias("__l")), "n", "left")
        .select(F.col("n").alias("node"), F.coalesce("__l", "n").alias("label"))
    )


def pagerank_scaled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = 1_000_000,
    checkpoint_every: int | None = None,
    broadcast_ranks: bool = False,
    seeds: "Sequence[int] | None" = None,
) -> DataFrame:
    """Fixed-iteration PageRank in scaled INTEGER arithmetic — every rank is
    an int64 in units of ``1/scale``, every step is sum + floor-division, so
    the result is bit-identical on any engine and any partitioning (floats
    would drift under reordered partial sums; integers cannot).

    Per iteration: contribution(u→v) = rank(u) div outdeg(u); rank'(v) =
    (scale·(den−num)) div den + (num · Σ contributions) div den, with
    damping = num/den. Dangling mass (nodes with no out-edges) is dropped,
    the common simplification — stated so the oracle matches by definition.

    Plan: edges persist once partitioned by source; each of the
    ``iterations`` rounds is two equi-joins + one map-side-combinable sum.
    Because each round feeds exactly one consumer, the whole k-round DAG is
    LINEAR and executes as one lazy pass — no per-round materialization
    (measured 7.0 → 5.8 s at sf0.1 when the defensive per-round
    localCheckpoint was dropped); ``checkpoint_every`` re-enables periodic
    truncation for iteration counts large enough to strain the analyzer.
    The 100 TB shape is k passes over the edge list with no driver state
    beyond the loop counter. ``broadcast_ranks=True`` additionally hints
    both per-round small sides (the rank vector and the message sums, each
    O(nodes)) into broadcast joins so the EDGE list never shuffles at all —
    correct whenever the node universe fits an executor (entity graphs:
    suppliers, customers, hosts), wrong for node sets at edge scale, hence
    opt-in. The reference has no
    numeric-iteration operator at all (its Cycle is the only feedback
    construct, lang/Stream.scala:143-147); this composes the same
    driver-fixpoint realization connected_components uses.

    ``seeds`` switches to PERSONALIZED PageRank (the "related items"
    random-walk-with-restart of item-to-item recommendation): the restart
    mass ``base`` lands only on the seed nodes (others get 0) and the
    initial rank vector is ``scale`` on seeds / 0 elsewhere — same integer
    algebra, same plan shape, so the personalized variant stays
    bit-identical and oracle-checkable. Seeds are plan literals (a seed SET
    is an entity handful by definition; a seed *distribution* at scale
    would join a frame instead).

    Caching contract: the edge list and node table are ``persist()``-ed and
    stay cached after the returned plan materializes (the plan is lazy, so
    they cannot be dropped here without forfeiting reuse across rounds).
    Long-lived sessions that call this repeatedly must release them between
    calls via ``milan_spark.session.release_cached(spark)`` — the same
    contract every multi-pass operator in this package follows (bench.py and
    the tools harnesses already do).
    """
    num, den = damping
    base = (scale * (den - num)) // den
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().persist()
    outdeg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    # nodes carry their out-degree for the whole loop (0 = dangling), so each
    # round is exactly TWO joins: edges⋈ranks for contributions, nodes⋈msgs
    # for the update — the degree never re-joins
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .join(outdeg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"))
        .persist()
    )
    if seeds is not None:
        seed_list = sorted(int(s) for s in seeds)
        is_seed = F.col("node").isin(seed_list)
        base_col = F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")
        init_rank = F.when(is_seed, F.lit(int(scale))).otherwise(F.lit(0)).cast("long")
    else:
        base_col = F.lit(base).cast("long")
        init_rank = F.lit(int(scale)).cast("long")
    ranks = nodes.select("node", "outdeg", init_rank.alias("rank"))
    for i in range(iterations):
        srcs = ranks.where(F.col("outdeg") > 0).select(
            F.col("node").alias("u"), F.expr("rank div outdeg").alias("c")
        )
        if broadcast_ranks:
            srcs = F.broadcast(srcs)
        msg = (
            e.join(srcs, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        if broadcast_ranks:
            msg = F.broadcast(msg)
        ranks = (
            nodes.join(msg, "node", "left")
            .select(
                "node",
                "outdeg",
                (
                    base_col
                    + F.expr(f"({num} * coalesce(s, CAST(0 AS BIGINT))) div {den}")
                )
                .cast("long")
                .alias("rank"),
            )
        )
        # each round feeds exactly ONE consumer (the next round), so the
        # un-truncated DAG is linear and evaluates in a single pass — no
        # recomputation to guard against. Truncation is only needed when
        # iteration counts grow past what the analyzer handles comfortably.
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def _canonical_sql(a_col: str, b_col: str) -> str:
    """SQL over the ``{e}`` relation: its canonical (u < v) edge set, self
    loops and duplicates removed."""
    a, b = f"`{a_col}`", f"`{b_col}`"
    return f"SELECT DISTINCT least({a}, {b}) AS u, greatest({a}, {b}) AS v FROM {{e}} WHERE {a} != {b}"


def _deg_sql(edges: str) -> str:
    """SQL relation: the degrees ``(n, d)`` of the canonical edge relation
    ``edges``, from one in-row explode."""
    return f"(SELECT n, count(1) AS d FROM (SELECT explode(array(u, v)) AS n FROM {edges}) GROUP BY n)"


def _orient_sql(edges: str, broadcast: bool = False) -> str:
    """SQL relation: the degree orientation ``(lo, hi)`` of the canonical
    (u < v) edge relation ``edges``, each edge pointing from its
    lower-(degree, id) endpoint ``lo`` to ``hi``. ``broadcast`` hints the
    degree sides of the two rank joins. It is a subquery, not a ``WITH``:
    a persisted frame whose plan holds a CTE was not served from the cache
    when read by a statement with its own ``WITH`` clause."""
    hint = "/*+ BROADCAST(du, dv) */ " if broadcast else ""
    lo_is_u = "struct(du.d, e.u) < struct(dv.d, e.v)"  # (degree, id) order
    deg = _deg_sql(edges)
    return f"""(
  SELECT {hint}IF({lo_is_u}, e.u, e.v) AS lo, IF({lo_is_u}, e.v, e.u) AS hi
  FROM {edges} e JOIN {deg} du ON e.u = du.n JOIN {deg} dv ON e.v = dv.n)"""


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    small_graph: bool = False,
) -> DataFrame:
    """Exact global triangle count by degree-ordered edge iteration
    (Schank/Wagner 2005 forward/compact-forward; the distributed framing
    of Suri/Vassilvitskii WWW'11): orient every undirected edge from its
    LOWER-(degree, id) endpoint to its higher one — a total order, so each
    triangle a→b→c has exactly one counting edge (a,b) with c in
    N_out(a) ∩ N_out(b) — then count per-edge out-neighborhood
    intersections.

    The orientation is half the scale story: out-degree under it is at
    most O(sqrt(m)) for ANY graph (a vertex of out-degree d has d neighbors
    of degree >= its own, so d(d-1)/2 <= m), bounding total intersection
    work at Σ_(u,v)∈E (d_out(u)+d_out(v)) = O(m^1.5) — a power-law hub
    never enumerates its own neighborhood. The other half is WHERE that
    work runs: the wedge set (Σ d_out² rows, the m^1.5 term) is never
    materialized as a relation — adjacency lists ride two m-row equi-joins
    and the intersections run row-local in the JVM (array_intersect),
    keeping the shuffle volume at O(m) instead of O(m^1.5). (A first cut
    that shuffled the wedge relation through a semi-join measured 15.1 s
    at sf0.1 vs 3.4 s for this shape — same asymptotics, 4× less wall on
    the dense co-order graph, and the gap grows with density.)

    The orientation is the SQL fragment ``_orient_sql``, shared with
    :func:`ktruss`. The build is three SQL statements (the canonical edge
    set, the oriented edges, the four counts), each analyzed once.

    ``edges`` is an undirected edge list, possibly with duplicates/self
    loops (both removed here). Output: single row (n_nodes, n_edges,
    n_wedges, n_triangles); n_wedges = Σ C(d_out, 2) computed from the
    degree table, not by enumeration.

    ``small_graph=True`` hints the degree table (O(n)) and the adjacency
    table (O(m) entries — the whole oriented edge set as arrays) into
    broadcast joins, making everything after the canonical-edge distinct
    map-side: correct whenever the EDGE SET fits an executor (entity
    co-occurrence graphs bounded by a catalog, like pagerank_scaled's
    broadcast_ranks but a stronger requirement), wrong for edge sets at
    corpus scale — hence opt-in, the default keeps the shuffle path.
    Measured at sf0.1 on the 20k-node/1.2M-edge co-part graph: 12.8 →
    ~4 s.
    """
    spark = edges.sparkSession
    # the canonical edge set feeds four consumers (degree agg, wedge build,
    # membership semi-join, edge count) — persist once rather than re-derive
    # from the raw pair stream each time
    und = sql(spark, _canonical_sql(src, dst), e=edges).persist()
    # adjacency build + edge iteration both read the oriented edges
    oriented = sql(spark, f"SELECT lo, hi FROM {_orient_sql('{e}', small_graph)} o", e=und).persist()
    hint = "/*+ BROADCAST(a, b) */ " if small_graph else ""
    # per-edge |N_out(lo) ∩ N_out(hi)| — the intersection is row-local JVM
    # work; only the O(m) adjacency-carrying joins shuffle
    return sql(
        spark,
        f"""WITH deg AS {_deg_sql('{u}')},
adj AS (SELECT lo, collect_list(hi) AS nbrs FROM {{o}} GROUP BY lo)
SELECT * FROM (SELECT count(1) AS n_nodes FROM deg)
CROSS JOIN (SELECT count(1) AS n_edges FROM {{u}})
CROSS JOIN (
  SELECT sum(CAST(CAST(array_size(nbrs) AS BIGINT) * (CAST(array_size(nbrs) AS BIGINT) - 1) / 2
             AS BIGINT)) AS n_wedges
  FROM adj)
CROSS JOIN (
  SELECT {hint}CAST(sum(IF(b.nbrs IS NULL, 0, array_size(array_intersect(a.nbrs, b.nbrs))))
         AS BIGINT) AS n_triangles
  FROM {{o}} o JOIN adj a ON o.lo = a.lo LEFT JOIN adj b ON o.hi = b.lo)""",
        u=und,
        o=oriented,
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    small_graph: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with DETERMINISTIC ties: every node starts in its own community
    (label = node id); each round, every node adopts the label most
    frequent among its neighbors, ties broken by (count desc, label asc) —
    so unlike classic randomized LPA the trajectory is a pure function of
    the graph, bit-identical on any engine/partitioning and therefore
    oracle-checkable (the same determinism trade pagerank_scaled and
    kmeans_fixed make). Fixed ``iterations`` rounds, no convergence
    actions.

    Default round: one join of the directed edge list against the O(n)
    label table, one combinable (node, label) count, one
    argmax-by-struct-min per node — the edge list never re-shuffles once
    partitioned (the label table moves instead). That is the
    node-at-any-scale shape.

    ``small_graph=True`` hints the per-round label table into a broadcast
    join so the edge list never shuffles at all — correct when the node
    universe fits an executor, the pagerank broadcast_ranks contract.
    (A fully zero-shuffle alternative — adjacency lists + the label table
    as one broadcast map row + a row-local sorted-run mode fold — was
    built and MEASURED 5× slower at sf0.1: Spark evaluates higher-order
    array lambdas interpreted, so per-neighbor map lookups lose badly to
    the codegen'd broadcast join + combinable count. Shuffle-optimal is
    not compute-optimal; the join formulation stays.)

    Output: (node, label) — final community per node.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    directed = symmetrize(und, F.col("u"), F.col("v"), "n", "m").persist()
    # Fused first round: with every node starting in its own community, all
    # neighbor labels are distinct, every count is 1, and the (count desc,
    # label asc) rule degenerates to MIN(neighbor) — one combinable
    # aggregate, no join. Exactly equal to running the general round on the
    # identity labeling (the same free fusion connected_components uses).
    labels = directed.groupBy("n").agg(F.min("m").alias("label"))
    hint = F.broadcast if small_graph else (lambda df: df)
    for _ in range(iterations - 1):
        nbr_labels = directed.join(
            hint(labels.select(F.col("n").alias("m"), "label")), "m"
        )
        freq = nbr_labels.groupBy("n", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = freq.groupBy("n").agg(
            F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("label"))).alias(
                "m"
            )
        ).select("n", F.col("m.label").alias("label"))
    return labels.withColumnsRenamed({"n": "node"})


def bfs_prepared_edges(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Doubled (u, v) edge list, hash-partitioned on the probe key and
    persisted — the frame every :func:`bfs_levels` round joins its frontier
    against. Build it ONCE and pass it to multiple sweeps over the same
    graph (the diameter estimator runs two): the cached blocks keep their
    outputPartitioning, so each round shuffles only the frontier, and the
    doubling+exchange cost is paid once per graph instead of per sweep."""
    return symmetrize(pairs, F.col(a_col), F.col(b_col)).repartition("u").persist()


def bfs_levels(
    pairs: DataFrame,
    source,
    a_col: str = "id_a",
    b_col: str = "id_b",
    iterations: int = 6,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Frontier BFS: hop distance from ``source`` over the undirected graph,
    out to ``iterations`` hops. Returns (node, dist) for every reached node.

    The scalable shape is the FRONTIER delta, not a full-table propagation:
    each round joins only last round's newly-reached nodes against the
    (persisted, never re-shuffled) edge list — O(frontier-adjacent edges)
    of work per level — then one anti-join against the known set admits
    first-time nodes only. Lineage is truncated every round
    (``localCheckpoint``), the ``pagerank_scaled`` pattern, so the plan
    stays flat at any depth. Levels are exact integers and a node's level
    is its unique first-reach round — deterministic under any partitioning.
    An exhausted frontier ends the sweep early (result-identical: dead
    rounds add no rows).

    ``edges`` — a :func:`bfs_prepared_edges` frame to share across sweeps
    over the same graph; built (and persisted) here when not supplied.
    MUST be a DOUBLED/undirected (u, v) list exactly as bfs_prepared_edges
    builds it: the seen-set anti-join below keeps only the last TWO level
    segments, which is correct because undirected BFS levels of adjacent
    nodes differ by at most 1 — on a one-directional edge list that
    invariant fails and stale nodes would re-enter with inflated
    distances (not merely run slowly).
    """
    # persist HASH-PARTITIONED on the probe key: the cached blocks keep
    # their outputPartitioning, so each round's frontier join shuffles only
    # the (small) frontier rather than re-exchanging all m edges per level
    # (measured 10.0 → 9.1 s at sf0.1; the win grows with edge count)
    if edges is None:
        edges = bfs_prepared_edges(pairs, a_col, b_col)

    spark = pairs.sparkSession
    dist = spark.createDataFrame([(int(source), 0)], "n long, dist int")
    # state: dist and the two most recent level segments (the last is the
    # frontier): a neighbor of a level-(r-1) node has level in {r-2, r-1, r},
    # so the already-seen filter only ever needs the LAST TWO levels —
    # anti-joining the full reached set would shuffle O(V) rows per round
    # where O(frontier) suffices; the saving grows with depth and scale
    def step(state: "tuple[DataFrame, list]", r: int) -> "tuple[tuple[DataFrame, list], bool]":
        dist, recent = state
        cand = (
            recent[-1].join(edges, recent[-1].n == edges.u)
            .select(F.col("v").alias("n"))
            .distinct()
        )
        seen = recent[0] if len(recent) == 1 else recent[0].unionByName(recent[1])
        # checkpoint the round's NEW set once — it feeds BOTH next round's
        # frontier and the dist union, and a lazy checkpoint per consumer
        # would run the anti-join twice (measured 12.7 s → see SCALE.md).
        # The exhausted-frontier probe rides the materialization job as an
        # observation (no separate first()/isEmpty job); every skipped dead
        # level saves a join+distinct+anti-join job trio — result-identical,
        # since exhausted rounds add no rows. Measured on
        # graph_diameter_double_sweep at sf0.1 (true ecc ≈ 3, fixed depth
        # 8): ~10 dead levels across the two sweeps skipped.
        new, n_new = fixpoint.checkpoint_counted(
            cand.join(seen, "n", "left_anti")
            .select("n", F.lit(r + 1).cast("int").alias("dist"))
        )
        if n_new == 0:
            return state, True
        # dist stays a flat union of checkpointed level segments — depth
        # grows one union per level, cheap at any BFS depth
        return (dist.unionByName(new), [recent[-1], new.select("n")]), False

    (dist, _), _ = fixpoint.fixpoint(
        step, (dist, [dist.select("n")]), iterations, on_cap="return", what="bfs_levels iterations"
    )
    return dist


def kcore(
    pairs: DataFrame,
    k: int,
    a_col: str = "src",
    b_col: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """Bounded k-core peeling: repeatedly delete nodes of degree < ``k``
    (with their edges) for ``rounds`` synchronous rounds; return every
    surviving node with its degree inside the surviving subgraph.

    The classic iterative-deletion algorithm (Matula/Beck 1983) in its
    distributed synchronous form: each round is ONE map-side-combinable
    degree aggregate plus two semi-joins of the edge list against the
    surviving-node set — no all-pairs work, and the edge set only ever
    shrinks, so per-round cost is monotonically non-increasing. Lineage is
    truncated every round (``localCheckpoint``, the ``bfs_levels`` pattern)
    so the analyzed plan stays O(1) deep at any round count. The round
    count is a FIXED truncation on both engine and oracle: degrees are
    exact ints and deletion is a pure set function of the previous round,
    so the trajectory is deterministic under any partitioning; once peeling
    converges the remaining rounds are no-ops.

    Stop rule: each round's job also counts the edges it reads, so a round
    whose output count equals that input count removed nothing and ends the
    loop, from round 1 on. Sound because a round is a row filter (two
    semi-joins) of its input: equal counts mean the same rows.

    Output: (node, core_deg) — nodes in the ``rounds``-truncated k-core.
    """
    edges = symmetrize(pairs, F.col(a_col), F.col(b_col)).localCheckpoint(eager=False)

    def step(edges: DataFrame, _r: int) -> "tuple[DataFrame, bool]":
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("u")
        seen = Observation()  # the round's INPUT count, on the same job
        out, c = fixpoint.checkpoint_counted(
            edges.observe(seen, F.count(F.lit(1)).alias("n"))
            .join(alive, "u", "left_semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
        )
        # test c == 0 first: an empty side lets AQE prune the observed scan
        return out, c == 0 or c == seen.get["n"]

    edges, _ = fixpoint.fixpoint(step, edges, rounds, on_cap="return", what="kcore rounds")
    return edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def _support_sql(edges: str) -> str:
    """SQL CTEs over the canonical edge relation ``edges`` ending in
    ``sup (u, v, support)``: each edge's triangle count, from the adjacency
    rows of the shared orientation."""
    credit = ", ".join(
        f"named_struct('u', least({x}, {y}), 'v', greatest({x}, {y}))"
        for x, y in (("lo", "hi"), ("lo", "w"), ("hi", "w"))
    )
    return f"""oriented AS {_orient_sql(edges)},
adj AS (SELECT lo, collect_list(hi) AS nbrs FROM oriented GROUP BY lo),
tri AS (
  SELECT a.lo, a.hi, explode(array_intersect(a.nbrs, b.nbrs)) AS w
  FROM (SELECT lo, nbrs, explode(nbrs) AS hi FROM adj) a JOIN adj b ON a.hi = b.lo),
credits AS (SELECT inline(array({credit})) FROM tri),
sup AS (SELECT u, v, count(1) AS support FROM credits GROUP BY u, v)"""


def ktruss(
    pairs: DataFrame,
    k: int,
    a_col: str = "src",
    b_col: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Bounded k-truss peeling (Cohen 2008; the edge-cohesion analog of
    k-core): each round deletes every edge in fewer than k-2 triangles,
    for ``rounds`` synchronous rounds; returns the surviving edges with
    their support IN the surviving subgraph.

    Support shares :func:`triangle_count`'s degree-ordered orientation
    (the SQL fragment ``_orient_sql``, out-degree O(sqrt(m))), then takes
    triangles from the adjacency rows: each (lo, nbrs) row explodes ``nbrs``
    as ``hi`` (every oriented edge once) and meets hi's row in ONE
    equi-join, where common neighbors are a row-local ``array_intersect``
    exploded to (lo, hi, w). One in-row explode credits each triangle's
    three edges, and one combinable (u, v) count yields support
    (O(triangles) rows). A round's plan has no ``Union`` and reads its edge
    checkpoint 6 times. Edges with no support row are deleted implicitly
    (support 0 < k-2; ``k < 3`` is rejected). Lineage truncated per round; the edge set only shrinks.
    Fixed round-count truncation is a pure set function of the input on
    both engine and oracle, so the trajectory is exact.

    Stop rule: the canonical edge set is counted as it is materialized, and
    each round checkpoints its kept (u, v, support) rows with their count. A
    round that keeps every edge returns that checkpoint, so the final action
    is a scan; only the round cap recomputes support.

    Each stage is one SQL statement, analyzed once: the canonical edge set,
    and per round the whole support body (degrees, orientation, adjacency,
    triangles, credits, the count) with ``support >= k-2`` applied. Built
    from DataFrame calls, every ``select``/``join``/``agg`` re-analyzed the
    plan so far (``ktruss_coparts`` at sf0.001: 913 → 135 py4j calls per warm
    build).

    Output: (u, v, support) — canonical u < v edges of the truncated
    k-truss, support computed ON the final edge set (0 if triangle-free,
    possible only when truncation stopped before convergence).
    """
    if k < 3:
        raise MilanAnalysisError(
            f"ktruss: k={k} < 3 is unsupported: triangle-free edges have no support row"
        )
    spark = pairs.sparkSession
    und, n = fixpoint.checkpoint_counted(sql(spark, _canonical_sql(a_col, b_col), e=pairs))
    kept_sql = f"WITH {_support_sql('{e}')} SELECT u, v, support FROM sup WHERE support >= {k - 2}"

    def step(state: tuple, _r: int) -> "tuple[tuple, bool]":
        edges, n = state
        kept, c = fixpoint.checkpoint_counted(sql(spark, kept_sql, e=edges))
        return (kept, c), c == n

    (edges, _), done = fixpoint.fixpoint(step, (und, n), rounds, on_cap="return", what="ktruss rounds")
    if done:
        return edges
    return sql(
        spark,
        f"WITH {_support_sql('{e}')} SELECT u, v, coalesce(sup.support, 0L) AS support"
        " FROM {e} LEFT JOIN sup USING (u, v)",
        e=edges,
    )


def hits_scaled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
    scale: int = 1_000_000,
    broadcast_scores: bool = False,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in scaled INTEGER arithmetic:
    hub/authority scores are int64 in units of ``1/scale``, every step is a
    sum + one max-normalization by floor division, so the trajectory is
    bit-identical on any engine and any partitioning — the same determinism
    contract as :func:`pagerank_scaled` (floats drift under reordered
    partial sums; integers cannot).

    Per iteration (the standard two half-steps, each max-normalized so the
    leading score is exactly ``scale``):

    - ``auth_raw(v) = Σ_{u→v} hub(u)``; ``auth = auth_raw·scale div max``
    - ``hub_raw(u) = Σ_{u→v} auth(v)``; ``hub = hub_raw·scale div max``

    Max-normalization (not L2) keeps everything in exact integers; the
    ranking and the relative scores it produces are the quantity HITS is
    used for. The global max is computed as a one-row aggregate and
    broadcast-cross-joined into the update — it stays inside the lazy plan,
    no driver round-trip.

    Overflow headroom: ``auth_raw ≤ indegree·scale`` and the normalize
    product is ``auth_raw·scale ≤ indegree·scale²`` — safe in int64 while
    ``indegree < 9.2e18/scale²`` (9.2M at the default scale). For graphs
    with hotter nodes, lower ``scale``; precision degrades gracefully
    (scores are floor-quantized to 1/scale).

    Plan: the distinct edge list persists once; each round is two
    (edges ⋈ scores → combinable sum) passes plus two one-row max
    aggregates. Unlike pagerank's one-consumer rounds, each half-step's raw
    scores feed TWO consumers (max + rescale), so lineage is truncated per
    half-step (see ``normalized``).
    ``broadcast_scores=True`` hints the per-round score vectors (O(nodes))
    into broadcast joins so the edge list never shuffles — right for entity
    graphs whose node set fits an executor, wrong for node sets at edge
    scale, hence opt-in. The reference has no numeric-iteration operator
    (its Cycle is the only feedback construct, lang/Stream.scala:143-147);
    this composes the same driver-fixpoint realization.

    Output: (node, hub, auth) over the full node universe (zeros for roles
    a node never plays — in a bipartite graph every node has one zero).

    Caching contract: edge/node frames stay ``persist()``-ed after the plan
    materializes; release via ``milan_spark.session.release_cached(spark)``
    like every multi-pass operator here.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().persist()
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    zero = F.lit(0).cast("long")

    def normalized(raw: DataFrame) -> DataFrame:
        # raw: (node, s). One-row max, broadcast into the floor-div rescale.
        # raw feeds TWO consumers (the max and the rescale), so its lineage is
        # truncated first — without this each half-step doubles the plan and
        # 4 iterations re-evaluate the whole upstream chain 2^8 times
        # (measured: 184 s vs ~2 s at sf0.01; the same double-reference
        # blowup the oracle's MATERIALIZED CTEs prevent in DuckDB)
        raw = raw.localCheckpoint(eager=False)
        mx = raw.agg(F.max("s").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node", F.expr(f"CAST((s * {int(scale)}) div mx AS BIGINT)").alias("s")
        )

    hub = nodes.select("node", F.lit(int(scale)).cast("long").alias("s"))
    auth = None
    for _ in range(iterations):
        h = F.broadcast(hub) if broadcast_scores else hub
        auth = normalized(
            e.join(h.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("s").alias("s"))
        )
        a = F.broadcast(auth) if broadcast_scores else auth
        hub = normalized(
            e.join(a.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("s").alias("s"))
        )
    return (
        nodes.join(hub.withColumnRenamed("s", "hub"), "node", "left")
        .join(auth.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", zero).alias("hub"),
            F.coalesce("auth", zero).alias("auth"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 64,
) -> DataFrame:
    """Strongly connected components by semi-naive transitive closure:
    ``scc_id(v) = min({v} ∪ {u : u→*v and v→*u})``.

    The reachability pair-set is built datalog-style — ``Δ₀ = E``;
    ``Δₖ₊₁ = (Δₖ ⋈ E) − reach`` — so each round joins only the NEW pairs
    against the edge list (semi-naive evaluation: no pair is re-derived),
    with per-round lineage truncation and a convergence observation that
    rides the round's own job, the :func:`connected_components` realization
    of the reference's Cycle (lang/Stream.scala:143-147). Mutual reach is
    one self-join of the closure against its transpose; the component id is
    a combinable min.

    Scale envelope — stated, not hidden: the closure materializes
    O(Σ_v |reach(v)|) pairs, which is only viable where reachability sets
    are bounded — METADATA graphs (entity/nation/domain-level, or a raw
    graph after CC contraction and trimming), not raw edge sets at corpus
    scale. That is exactly where SCC queries run in practice: the
    production recipe for a 100 TB edge list is trim (degree-0/1 peel) +
    contract, then this operator on the residual small-diameter core. Rounds
    are bounded by the longest shortest path (≤ diameter), far below
    ``max_rounds`` on such graphs. A loop that ends its ``max_rounds``
    without a round that adds no pair raises :class:`MilanRoundCapError`:
    a partial closure would split components silently.

    Output: (node, scc_id) — singletons keep their own id.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    reach = e.localCheckpoint(eager=False)

    def step(state: "tuple[DataFrame, DataFrame]", _r: int) -> "tuple[tuple, bool]":
        reach, delta = state
        derived = (
            delta.withColumnRenamed("v", "m")
            .join(e.withColumnRenamed("u", "m"), "m")
            .select("u", "v")
            .filter(F.col("u") != F.col("v"))  # self-reach pairs add nothing to min({v} ∪ peers)
            .distinct()
        )
        # convergence probe rides the round's own materialization job as an
        # observation (house rule: one job per round, the count is not an
        # extra pass)
        new, n_new = fixpoint.checkpoint_counted(derived.join(reach, ["u", "v"], "left_anti"))
        if n_new == 0:
            return state, True
        return (reach.unionByName(new).localCheckpoint(eager=False), new), False

    (reach, _), _ = fixpoint.fixpoint(
        step, (reach, reach), max_rounds, on_cap="raise",
        what="strongly_connected_components max_rounds",
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    mutual = reach.alias("a").join(
        reach.alias("b"),
        (F.col("a.u") == F.col("b.v")) & (F.col("a.v") == F.col("b.u")),
    ).select(F.col("a.u").alias("node"), F.col("a.v").alias("peer"))
    return (
        nodes.join(mutual, "node", "left")
        .groupBy("node")
        .agg(
            F.min(F.least(F.col("node"), F.coalesce(F.col("peer"), F.col("node"))))
            .cast("long")
            .alias("scc_id")
        )
    )


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    walks_per_node: int = 2,
    walk_length: int = 4,
    hash_a: int = 1_000_003,
    hash_b: int = 10_007,
    hash_c: int = 31,
    hash_m: int = 2_147_483_647,
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (Perozzi et al., KDD'14):
    ``walks_per_node`` fixed-length walks from every node with out-edges,
    emitted as (walk_id, step, node) rows — the training corpus a skip-gram
    graph-embedding run consumes.

    The "random" next hop is DETERMINISTIC: neighbor position
    ``H(walk_id, step, cur) mod out_degree(cur)`` with
    ``H = (walk_id·a + step·b + cur·c) mod m`` — pure int64 algebra, so the
    corpus is bit-identical under any partitioning and engine (the property
    every sampling operator in this repo pins: retry-stable, no RNG state),
    and a DuckDB recursive CTE can replay it exactly. Different walk_ids from
    the same node diverge because the hash mixes the walk id every step.

    Plan shape (the 100 TB story): the neighbor index is built ONCE — one
    combinable groupBy folds the distinct edge list into a sorted neighbor
    ARRAY per node (element i is the dst-ascending position-i neighbor, so
    the array subsumes both the position index and the degree), persisted
    hash-partitioned on the node key. Each of the ``walk_length`` steps then
    shuffles only the O(#walks) frontier through ONE equi-join against the
    cached arrays — the position pick is a row-local ``element_at``, no
    per-neighbor fan-out-then-filter and no separate degree join. That is
    the frontier-delta BFS shape (:func:`bfs_levels`) with walks instead of
    levels; per-step lineage truncation keeps the plan flat. Walks reaching
    a sink (no out-edges) simply stop extending — their prefix rows are
    already emitted.
    """
    e = (
        edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
        .distinct()
    )
    # SORTED-ARRAY adjacency: one combinable groupBy builds position index
    # AND degree together (element i of the dst-ascending array IS the
    # row_number()-1 = i-1 neighbor, so the indexed-row formulation's window
    # sort and separate degree frame are both folded into it), persisted
    # hash-partitioned on the node key. Each step is then ONE equi-join of
    # the frontier against the cached arrays — the previous shape paid a
    # degree join AND a (src, pos) adjacency join per step, i.e. twice the
    # stages for the same picks. Skew note: a hub node's neighbor array
    # lands in one row, the same single-task hot spot the row_number window
    # already had; at extreme hub degrees either shape needs a degree cap.
    adj = (
        e.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("__nbrs"))
        .select(
            F.col("src").alias("__asrc"),
            "__nbrs",
            F.array_size("__nbrs").cast("long").alias("__deg"),
        )
        .persist()
    )
    starts = adj.select(F.col("__asrc").alias("node"))
    frontier = starts.select(
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("w"), "node"
    ).select(
        (F.col("node") * walks_per_node + F.col("w")).cast("long").alias("walk_id"),
        F.col("node").alias("cur"),
    )
    out = [
        frontier.select(
            "walk_id", F.lit(0).cast("int").alias("step"), F.col("cur").alias("node")
        )
    ]
    for s in range(walk_length):
        hashed = (
            F.col("walk_id") * F.lit(hash_a)
            + F.lit(s) * F.lit(hash_b)
            + F.col("cur") * F.lit(hash_c)
        ) % F.lit(hash_m)
        frontier = (
            frontier.join(adj, frontier["cur"] == adj["__asrc"], "inner")
            .select(
                "walk_id",
                F.element_at(
                    "__nbrs", ((hashed % F.col("__deg")) + 1).cast("int")
                ).alias("cur"),
            )
            .localCheckpoint(eager=False)
        )
        out.append(
            frontier.select(
                "walk_id", F.lit(s + 1).cast("int").alias("step"), F.col("cur").alias("node")
            )
        )
    res = out[0]
    for frame in out[1:]:
        res = res.unionByName(frame)
    return res


def maximal_independent_set(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    *,
    rounds: int = 8,
    hash_a: int = 1_000_003,
    hash_b: int = 10_007,
    hash_m: int = 2_147_483_647,
) -> DataFrame:
    """Maximal independent set by Luby's algorithm (Luby SICOMP'86) with
    DETERMINISTIC per-round priorities: node v joins the MIS in round r iff
    its priority ``H(v, r) = (v·a + r·b) mod m`` (ties broken by node id —
    the comparison key is ``H·2³¹ + v``, one int64) beats every still-alive
    neighbor's; winners and their neighbors leave the graph. Expected
    O(log n) rounds; the hash makes every round a pure function of the
    input, so an unrolled SQL oracle replays it bit-for-bit. MIS is the
    symmetry-breaking primitive distributed coloring/matching builds on.

    Plan per round (the k-core shape): one join + combinable MIN for the
    neighbor-priority message, one anti-join to shrink the alive set, two
    semi-joins to contract the edge set — every frame MONOTONICALLY
    shrinks, per-round lineage truncation, no driver state beyond the loop
    counter (the early-exit probe rides the round's own checkpoint).

    Returns (node, in_mis): true = selected, false = dominated by a
    neighbor, NULL = undecided after ``rounds`` (the caller's signal to
    raise the bound; converged runs have no NULLs).
    """
    big = 1 << 31
    e0 = (
        symmetrize(edges, F.col(a_col).cast("long"), F.col(b_col).cast("long"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = e0.select(F.col("u").alias("node")).distinct().persist()
    cur_e = e0.localCheckpoint(eager=False)
    alive = nodes.localCheckpoint(eager=False)
    mis_frames = []

    def step(state: "tuple[DataFrame, DataFrame]", r: int) -> "tuple[tuple, bool]":
        alive, cur_e = state
        pr = (
            (F.col("node") * F.lit(hash_a) + F.lit(r * hash_b)) % F.lit(hash_m)
        ) * F.lit(big) + F.col("node")
        pri = alive.select("node", pr.alias("__pr"))
        nmin = (
            cur_e.join(pri.select(F.col("node").alias("v"), F.col("__pr").alias("__npr")), "v")
            .groupBy("u")
            .agg(F.min("__npr").alias("__nmin"))
        )
        cand = (
            pri.join(nmin, pri["node"] == nmin["u"], "left")
            .filter(F.col("__nmin").isNull() | (F.col("__pr") < F.col("__nmin")))
            .select("node")
            .localCheckpoint(eager=False)
        )
        mis_frames.append(cand)
        dominated = cur_e.join(
            cand.select(F.col("node").alias("u")), "u"
        ).select(F.col("v").alias("node"))
        removed = cand.unionByName(dominated).distinct()
        # the exhausted-alive-set probe rides the materialization job as an
        # observation (no separate isEmpty pass)
        alive, n_alive = fixpoint.checkpoint_counted(alive.join(removed, "node", "left_anti"))
        cur_e = (
            cur_e.join(alive.select(F.col("node").alias("u")), "u", "left_semi")
            .join(alive.select(F.col("node").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        return (alive, cur_e), n_alive == 0

    (alive, _), _ = fixpoint.fixpoint(
        step, (alive, cur_e), rounds, on_cap="return", what="maximal_independent_set rounds"
    )
    mis = mis_frames[0]
    for frame in mis_frames[1:]:
        mis = mis.unionByName(frame)
    return (
        nodes.join(mis.withColumn("__m", F.lit(True)), "node", "left")
        .join(alive.withColumn("__a", F.lit(True)), "node", "left")
        .select(
            "node",
            F.when(F.col("__m"), F.lit(True))
            .when(F.col("__a"), F.lit(None).cast("boolean"))
            .otherwise(F.lit(False))
            .alias("in_mis"),
        )
    )


def scc_trim_contract(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    trim_rounds: int = 8,
    cc_iterations: int = 50,
    max_rounds: int = 64,
) -> DataFrame:
    """The EXECUTABLE production recipe :func:`strongly_connected_components`'s
    docstring prescribes for corpus-scale edge lists — trim + contract, then
    the closure on the residual core. Output-identical to running the plain
    operator on the same edges ((node, scc_id), scc_id = min member), with
    the O(Σ|reach|) closure materialized only for the core:

    1. **Trim** (the FW-BW "Trim" step, McLendon et al. 2005): peel nodes
       lacking incoming or outgoing edges — such a node can sit on no cycle,
       so it is a singleton SCC by construction. One semi-join pair per
       round over a monotonically shrinking edge set (the :func:`kcore`
       peeling shape); ``trim_rounds`` is an optimization knob, never a
       correctness one — anything left untrimmed is still resolved exactly
       by the closure.
    2. **Contract** reciprocal components: u→v AND v→u proves u,v share an
       SCC, so every connected component of the mutual-edge graph collapses
       to its min-id representative (one :func:`connected_components` run —
       the cheap UNDIRECTED primitive — over only the reciprocal pairs).
       Edge endpoints map through the representative; self-loops vanish.
    3. **Closure** on what remains: :func:`strongly_connected_components`
       over the contracted residual, capped at ``max_rounds``. Because
       representatives are component minima, the closure's min-based ids
       ARE the original graph's ids.
    4. Map back: every node's scc_id = closure id of its representative,
       defaulting to the representative itself (trimmed singletons and
       fully-contracted components never reach the closure).

    At 100 TB the trim typically removes the long acyclic tail (most real
    digraphs are mostly DAG), the contraction collapses the obvious mutual
    cliques, and the quadratic-risk closure sees only the small residual
    core — measured on the sf0.1 periphery graph in SCALE.md.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # 1. trim: keep only nodes with BOTH an out-edge and an in-edge
    cur = e.localCheckpoint(eager=False)
    for _ in range(trim_rounds):
        core = (
            cur.select(F.col("u").alias("n"))
            .intersect(cur.select(F.col("v").alias("n")))
        )
        cur = (
            cur.join(core.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(core.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    # 2. contract reciprocal components to their min-id representative.
    # NB: expressed as an aliased self-semi-join, NOT cur.intersect(swapped
    # projection) — Catalyst resolves the swap projection's attributes back
    # to the same plan and the intersect degenerates to identity (observed:
    # every u<v edge came back "reciprocal")
    recip = (
        cur.alias("a")
        .join(
            cur.alias("b"),
            (F.col("a.u") == F.col("b.v")) & (F.col("a.v") == F.col("b.u")),
            "left_semi",
        )
        .filter(F.col("u") < F.col("v"))
        .localCheckpoint(eager=False)
    )
    if recip.isEmpty():
        # nothing to contract: skip the CC fixpoint's per-round jobs (a
        # bounded decision probe, the house convergence pattern)
        rep = cur.sparkSession.createDataFrame([], "n long, rep long")
        ce = cur
    else:
        rep = connected_components(recip, "u", "v", max_iterations=cc_iterations).select(
            F.col("node").alias("n"), F.col("label").alias("rep")
        )
        cu = cur.join(rep.withColumnRenamed("n", "u"), "u", "left").select(
            F.coalesce("rep", "u").alias("cu"), "v"
        )
        ce = (
            cu.join(rep.withColumnRenamed("n", "v"), "v", "left")
            .select(F.col("cu").alias("u"), F.coalesce("rep", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    # 3. exact closure on the residual core only
    core_scc = strongly_connected_components(ce, "u", "v", max_rounds=max_rounds)
    # 4. node -> representative -> closure id (default: the rep itself)
    return (
        all_nodes.join(rep.withColumnRenamed("n", "node"), "node", "left")
        .select("node", F.coalesce("rep", "node").alias("rep"))
        .join(core_scc.withColumnRenamed("node", "rep"), "rep", "left")
        .select(
            "node",
            F.coalesce(F.col("scc_id"), F.col("rep")).cast("long").alias("scc_id"),
        )
    )
