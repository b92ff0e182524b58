"""Link-graph analytics: PageRank with fixed power iterations.

The web-pipeline companion to the dedup cluster operator (dedup.py's
large-star/small-star connected components): rank pages/hosts by link
structure.  Classic damped PageRank (Page et al. 1999) with uniform
redistribution of dangling mass, run for a FIXED iteration count so the
result is deterministic and cross-engine checkable (the DuckDB twin
replays the same iterations as chained CTEs — same pattern as the BPE
oracle).

Scale shape per iteration — the canonical distributed PageRank:

- contributions: edges JOIN ranks on src (both keyed by src; at real graph
  scale this is THE shuffle — pre-partitioning edges by src lets every
  iteration reuse the exchange), then one partial-aggregated groupBy(dst)
  summing rank/out_degree.
- dangling mass: one narrow aggregate over the persisted rank frame
  (left_anti against out-degrees), attached via a 1-row broadcast
  cross-join — no driver-side data dependency, the whole iteration stays
  one lazy plan.
- new ranks: nodes LEFT JOIN contributions (nodes without in-links keep
  the teleport term).  Each iteration's frame is materialized with
  ``localCheckpoint(eager=True)`` — the rank frame is referenced TWICE
  per iteration (contributions + dangling mass), so a cache alone leaves
  a logical plan that DOUBLES per iteration and Catalyst analysis goes
  exponential (measured: OOM at iteration ~6 even on a 500-node graph).
  Lineage truncation per iteration is the standard iterative-algorithm
  pattern (GraphFrames does the same); swap in ``checkpoint()`` with a
  reliable dir when restart tolerance across executor loss matters.

Float note: ranks are IEEE sums whose partition order differs between
engines; the driver oracle rounds the N-scaled rank to 6 places, which
absorbs the ~1e-14 drift eight iterations can accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tilekiln_spark.operators.local_solve import MAX_LOCAL_ROWS, collect_local, local_frame


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after `iterations` damped power iterations.

    `nodes` must contain every vertex (isolated ones included); `edges`
    rows are directed src -> dst.  Nodes with no out-edges are dangling:
    their rank mass redistributes uniformly each iteration, so the total
    rank stays 1 (up to float error) — the standard correction, without
    which dangling mass silently drains.
    """
    nds = nodes.select(F.col(node_col).alias("node")).persist()
    n_nodes = nds.count()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    # edges carry their out-degree once, not per iteration
    ed = e.join(deg, "src").persist()
    ed.count()
    # r6: rank frames are checkpointed (no stats), so hint the planner
    # into broadcast joins when the per-node frames are provably small —
    # n_nodes is already counted; big graphs keep shuffle joins (§3.1)
    bcast = n_nodes <= MAX_LOCAL_ROWS

    def _h(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df
    teleport = (1.0 - damping) / n_nodes
    # r6: rank frames checkpoint LAZILY and each round's dangling-mass
    # aggregate doubles as the materializing job, entering the update as a
    # scalar literal — one job per round, no broadcast-exchange subtree,
    # no separate eager-checkpoint job (same double arithmetic: the
    # crossJoin'd 1-row dm column becomes F.lit(dm)).
    ranks = nds.withColumn("rank", F.lit(1.0 / n_nodes)).localCheckpoint(eager=False)
    for _ in range(iterations):
        dm = (
            ranks.join(_h(deg), ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            .collect()[0]["dm"]
        )
        contrib = (
            ed.join(_h(ranks), ed["src"] == ranks["node"])
            .select(ed["dst"].alias("node"), (F.col("rank") / F.col("out_deg")).alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("contrib"))
        )
        nxt = (
            nds.join(_h(contrib), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dm) / n_nodes)
                ).alias("rank"),
            )
            # truncate lineage: the rank frame feeds TWO subtrees next
            # iteration, so any plan-preserving cache doubles per round
            .localCheckpoint(eager=False)
        )
        ranks = nxt
    nds.unpersist()
    ed.unpersist()
    deg.unpersist()
    return ranks


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 8,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, hub, authority) after ``iterations`` HITS rounds
    (Kleinberg 1999), MAX-normalized each half-step.

    Max normalization (not the L2 of the original paper) keeps the
    cross-engine contract clean: a max over per-node sums is
    order-independent given its inputs, so the only engine divergence is
    the per-node float-sum ulp — absorbed by the oracle's round(6), same
    discipline as :func:`pagerank`.  Distributed shape per half-step: ONE
    key join + partial-agg groupBy + a 1-row broadcast max; lineage
    truncated per round."""
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    nds = nodes.select(F.col(node_col).alias("node")).persist()
    n_nodes = nds.count()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    e.count()
    # r6: checkpointed per-round frames carry no size statistics, so the
    # planner sort-merge-joins every score lookup.  The score frame is
    # exactly n_nodes 16-byte rows — counted once here — so below the
    # broadcast budget the hint picks the strategy the stats would have
    # (guide §3.1: pick the join strategy deliberately); big graphs keep
    # the shuffle joins.
    bcast_scores = n_nodes <= MAX_LOCAL_ROWS

    def _h(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_scores else df

    def half(scores: DataFrame, col: str, join_on: str, emit: str, out: str) -> DataFrame:
        raw = (
            e.join(_h(scores), e[join_on] == scores["node"])
            .select(e[emit].alias("node"), F.col(col).alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
        # full feeds TWO consumers (the max aggregate and the normalizing
        # select) — materialize once, which also truncates the per-round
        # lineage.  r6: the checkpoint is lazy and the max aggregate IS its
        # materializing job, returning the normalizer as a scalar — one job
        # per half-step with no broadcast-exchange subtree in the plan (the
        # 1-row max is bounded driver data; division by a literal is the
        # same double arithmetic as the broadcast column it replaces).
        full = (
            nds.join(_h(raw), "node", "left")
            .select("node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))
            .localCheckpoint(eager=False)
        )
        m = full.agg(
            F.greatest(F.max("s"), F.lit(1e-300)).alias("m")
        ).collect()[0]["m"]
        return full.select("node", (F.col("s") / F.lit(m)).alias(out))

    hubs = nds.withColumn("hub", F.lit(1.0)).localCheckpoint(eager=True)
    auth = None
    for _ in range(iterations):
        auth = half(hubs, "hub", "src", "dst", "auth")
        hubs = half(auth, "auth", "dst", "src", "hub")
    out = nds.join(hubs, "node", "left").join(auth, "node", "left").select(
        "node",
        F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
        F.coalesce(F.col("auth"), F.lit(0.0)).alias("authority"),
    )
    nds.unpersist()
    e.unpersist()
    return out


def shortest_paths(
    edges: DataFrame,
    source: int,
    directed: bool = False,
    max_iter: int = 64,
) -> DataFrame:
    """Single-source shortest paths (the pgRouting ``pgr_dijkstra`` face of
    the reference's PostGIS world — road/waterway routing over the segment
    graph ``merge_lines`` consumes; the reference executes arbitrary
    template SQL over such tables, reference tilekiln/definition.py:42-77).

    Input: ``(src, dst, w)`` with non-negative weights.  Returns
    ``(node, dist, hops)`` for every REACHABLE node — dist = minimal total
    weight, hops = edge count of that minimal-weight path (min-dist wins
    first; among equal-dist paths the fewest-hops one is reported, a
    deterministic tiebreak both engines resolve identically on exact
    weights).

    Distributed shape — frontier label-correction (Bellman–Ford with the
    sparse-frontier optimization, the standard Pregel formulation):

    - each round relaxes ONLY the frontier (nodes improved last round)
      against the edge list: one src-keyed join + one groupBy(node) min —
      2 shuffles over the frontier, not the full node set;
    - improvements merge into the running label frame with a groupBy min;
      ``localCheckpoint`` truncates lineage (labels feed two consumers
      per round — the join and the merge);
    - termination: the frontier empties (a tiny count per round is the
      only driver-side value).  Rounds = shortest-path hop diameter;
      for planet-scale road graphs swap in delta-stepping (bucketed
      frontiers) — the per-round plan is unchanged, only the frontier
      admission rule differs.

    Determinism: with float64-exact weights (integer-valued doubles, the
    fixture contract) every candidate distance is exact, so min() is
    order-independent and cross-engine bit-identical.
    """
    e = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("w").cast("double"),
    )
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    e = e.localCheckpoint(eager=True)

    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source), 0.0, 0)], "node long, dist double, hops int"
    ).localCheckpoint(eager=True)
    frontier = dist

    converged = False
    for _ in range(max_iter):
        cand = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                e["dst"].alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
                (F.col("hops") + 1).alias("hops"),
            )
            .groupBy("node")
            .agg(
                F.min(F.struct("dist", "hops")).alias("b")
            )
            .select("node", F.col("b.dist").alias("dist"), F.col("b.hops").alias("hops"))
        )
        improved = (
            cand.join(dist.select(F.col("node"), F.col("dist").alias("od"),
                                  F.col("hops").alias("oh")), "node", "left")
            .filter(
                F.col("od").isNull()
                | (F.col("dist") < F.col("od"))
                | ((F.col("dist") == F.col("od")) & (F.col("hops") < F.col("oh")))
            )
            .select("node", "dist", "hops")
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            converged = True
            break
        dist = (
            dist.union(improved)
            .groupBy("node")
            .agg(F.min(F.struct("dist", "hops")).alias("b"))
            .select("node", F.col("b.dist").alias("dist"), F.col("b.hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    if not converged:
        # silent truncation would return wrong (non-relaxed) labels for
        # nodes beyond max_iter hops — fail loudly instead
        raise RuntimeError(
            f"shortest_paths did not converge within max_iter={max_iter} "
            "rounds (the graph's shortest-path hop diameter exceeds it); "
            "raise max_iter"
        )
    return dist


def closest_facility(
    edges: DataFrame,
    facilities: list[int],
    directed: bool = False,
    max_iter: int = 64,
) -> DataFrame:
    """Closest-facility assignment (the ArcGIS Network-Analyst face /
    pgRouting ``pgr_dijkstraNear``): every reachable node labeled with its
    nearest facility — MULTI-source shortest paths where the label is the
    (dist, hops, facility) struct, so one frontier loop serves all
    facilities simultaneously instead of |F| single-source runs.

    Identical distributed shape to :func:`shortest_paths` (sparse-frontier
    Bellman–Ford: per round ONE src-keyed join + ONE groupBy struct-min
    over the frontier, lineage truncated); the only change is the seed
    frame (one 0-distance row per facility) and the lexicographic label
    (min dist, then fewest hops, then LOWEST facility id — a deterministic
    cross-engine tiebreak on exact integer-valued weights).  Returns
    ``(node, facility, dist, hops)`` for every node reachable from any
    facility, facilities themselves included at dist 0."""
    if not facilities:
        raise ValueError("closest_facility requires at least one facility")
    e = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("w").cast("double"),
    )
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    e = e.localCheckpoint(eager=True)

    spark = edges.sparkSession
    lab = spark.createDataFrame(
        [(int(f), 0.0, 0, int(f)) for f in facilities],
        "node long, dist double, hops int, fac long",
    ).localCheckpoint(eager=True)
    frontier = lab

    def _min_merge(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("node")
            .agg(F.min(F.struct("dist", "hops", "fac")).alias("b"))
            .select(
                "node",
                F.col("b.dist").alias("dist"),
                F.col("b.hops").alias("hops"),
                F.col("b.fac").alias("fac"),
            )
        )

    converged = False
    for _ in range(max_iter):
        cand = _min_merge(
            frontier.join(e, frontier["node"] == e["src"]).select(
                e["dst"].alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
                (F.col("hops") + 1).alias("hops"),
                "fac",
            )
        )
        improved = (
            cand.join(
                lab.select(
                    F.col("node"),
                    F.col("dist").alias("od"),
                    F.col("hops").alias("oh"),
                    F.col("fac").alias("of"),
                ),
                "node",
                "left",
            )
            .filter(
                F.col("od").isNull()
                | (
                    F.struct("dist", "hops", "fac")
                    < F.struct(
                        F.col("od").alias("dist"),
                        F.col("oh").alias("hops"),
                        F.col("of").alias("fac"),
                    )
                )
            )
            .select("node", "dist", "hops", "fac")
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            converged = True
            break
        lab = _min_merge(lab.union(improved)).localCheckpoint(eager=True)
        frontier = improved
    if not converged:
        raise RuntimeError(
            f"closest_facility did not converge within max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    return lab.select("node", F.col("fac").alias("facility"), "dist", "hops")


def service_areas(
    edges: DataFrame,
    facilities: list[int],
    budget: float,
    directed: bool = False,
    max_iter: int = 64,
) -> DataFrame:
    """Service areas / isochrone reachability (pgRouting
    ``pgr_drivingDistance``, ArcGIS Network-Analyst "Service Area"): for
    EACH facility, every node reachable within total cost ``budget`` —
    the multi-LABEL counterpart to :func:`closest_facility` (which keeps
    only the winning facility per node; here a node inside two budgets
    appears once per facility, because overlapping service areas are the
    point of the analysis).

    Distributed shape: the same sparse-frontier Bellman–Ford loop, but
    labels key on ``(node, facility)`` and candidates over ``budget``
    are pruned AT GENERATION — the frontier only ever carries in-budget
    labels, so per-round work is proportional to the service-area size,
    not the graph.  With positive weights the pruned relaxation strictly
    increases dist, so the loop terminates without a hop bound; rounds =
    the deepest in-budget hop count.  Per round: ONE src-keyed join +
    ONE groupBy((node, fac)) struct-min, lineage truncated.

    Determinism: exact integer-valued double weights make every label
    exact, so min(dist, hops) is order-independent cross-engine.
    Returns ``(facility, node, dist, hops)``, facilities themselves at
    dist 0 (a facility outside its own budget is impossible: 0 <= budget
    is required)."""
    if not facilities:
        raise ValueError("service_areas requires at least one facility")
    if budget < 0:
        raise ValueError("service_areas requires a non-negative budget")
    e = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("w").cast("double"),
    )
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    e = e.localCheckpoint(eager=True)

    spark = edges.sparkSession
    lab = spark.createDataFrame(
        [(int(f), int(f), 0.0, 0) for f in facilities],
        "node long, fac long, dist double, hops int",
    ).localCheckpoint(eager=True)
    frontier = lab

    def _min_merge(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("node", "fac")
            .agg(F.min(F.struct("dist", "hops")).alias("b"))
            .select(
                "node", "fac",
                F.col("b.dist").alias("dist"),
                F.col("b.hops").alias("hops"),
            )
        )

    converged = False
    for _ in range(max_iter):
        cand = _min_merge(
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                e["dst"].alias("node"),
                "fac",
                (F.col("dist") + F.col("w")).alias("dist"),
                (F.col("hops") + 1).alias("hops"),
            )
            .filter(F.col("dist") <= F.lit(float(budget)))
        )
        improved = (
            cand.join(
                lab.select(
                    F.col("node"), F.col("fac"),
                    F.col("dist").alias("od"), F.col("hops").alias("oh"),
                ),
                ["node", "fac"],
                "left",
            )
            .filter(
                F.col("od").isNull()
                | (F.col("dist") < F.col("od"))
                | ((F.col("dist") == F.col("od")) & (F.col("hops") < F.col("oh")))
            )
            .select("node", "fac", "dist", "hops")
            .localCheckpoint(eager=True)
        )
        if improved.isEmpty():
            converged = True
            break
        lab = _min_merge(lab.union(improved)).localCheckpoint(eager=True)
        frontier = improved
    if not converged:
        raise RuntimeError(
            f"service_areas did not converge within max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    return lab.select(F.col("fac").alias("facility"), "node", "dist", "hops")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected simple graph (the GraphX ``TriangleCount`` /
    Watts-Strogatz local-CC canon).

    ``edges`` is any directed (src, dst) frame; it is canonicalized to
    the undirected simple edge set {u < v} first (self-loops dropped,
    duplicates/reverses deduped).  Triangles are enumerated ONCE each via
    the ordered two-path join:

        (u < v) JOIN (v < w) ON v  JOIN edge(u, w)  ⇒  u < v < w

    so no triangle is double-counted and the join never builds the
    quadratic unordered pair set.  Per-node counts scatter each triangle
    to its three corners (explode + partial-agg groupBy).  Everything is
    exact integers; local_cc = 2·tri / (deg·(deg−1)) is NULL for
    degree < 2 (same expression cross-engine).

    Returns [node, degree, n_tri, local_cc] for every endpoint of the
    canonical edge set.  At scale: two shuffles keyed on node ids for the
    two-path join (the standard triangle-join shape — worst case bounded
    by Σ deg², mitigated by the u<v orientation which keys two-paths on
    each edge's HIGHER-degree-tail only half the time), plus one
    scatter groupBy.  A 100 TB deployment would pre-bucket the canonical
    edges by u so both joins co-locate."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # ordered two-paths u < v < w sharing the middle vertex v
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    paths = e1.join(e2, "b")
    tris = paths.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("c")), ["a", "c"]
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    ).groupBy("node").agg(F.count("*").alias("n_tri"))
    out = deg.join(corners, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("n_tri", F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        ).alias("local_cc"),
    )
    return out.select(
        "node", "degree", "n_tri", (F.round("local_cc", 6) + F.lit(0.0)).alias("local_cc")
    )


def k_core(edges: DataFrame, k: int = 2, max_iter: int = 30) -> DataFrame:
    """k-core decomposition membership (Seidman 1983): iteratively peel
    nodes of degree < k from the undirected simple graph until fixpoint;
    the survivors are the k-core.  Raises ``ValueError`` if the peel has
    not converged within ``max_iter`` rounds (never silently truncates —
    the shortest_paths contract).

    Each round is ONE partial-aggregated degree groupBy over the
    surviving edge set + two semi-joins filtering the edge list; frames
    are ``localCheckpoint``-materialized per round (the pagerank lineage
    pattern).  Peeling is monotone — once the fixpoint is reached extra
    rounds are no-ops — which is exactly what makes the bounded-unroll
    DuckDB twin equivalent: it runs a FIXED round count ≥ the convergence
    round and lands on the same fixpoint.

    Returns [node, core_degree] for k-core members (degree within the
    core).  At scale each round shuffles the surviving edges once; rounds
    needed is the graph's degeneracy ordering depth at k, typically small
    for web graphs."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und
    for _ in range(max_iter):
        deg = (
            cur.select(F.col("u").alias("node"))
            .union(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        nxt = (
            cur.join(keep.select(F.col("node").alias("u")), "u", "semi")
            .join(keep.select(F.col("node").alias("v")), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == cur.count():
            core_deg = (
                nxt.select(F.col("u").alias("node"))
                .union(nxt.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("core_degree"))
            )
            return core_deg
        cur = nxt
    raise ValueError(f"k_core: no fixpoint within max_iter={max_iter} rounds")


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, eq. 4) of the
    undirected simple graph — the single number behind "do hubs link to
    hubs?" in web-graph analysis (the reference's tile graph has no
    notion of this; it is webtext-canon added for the crawl-graph tier).

    Everything before the final division is an EXACT integer: degrees
    are counts, and the three edge sums Σ j·k, Σ (j+k), Σ (j²+k²) are
    integer-valued, so distributed aggregation order is immaterial (the
    std_ellipse snapped-moment pattern — no fold, no rounding tricks
    needed until the last expression).  With each undirected edge taken
    once and both endpoint orders symmetrized by the half factors:

        r = [ Σjk/M − (Σ(j+k)/2M)² ] / [ Σ(j²+k²)/2M − (Σ(j+k)/2M)² ]

    Returns ONE row [m_edges, sum_jk, sum_j_plus_k, sum_j2_plus_k2,
    assortativity].  Distributed shape: one degree groupBy, two
    degree-lookup joins keyed on the edge endpoints (broadcast when the
    degree table is small, shuffle hash otherwise), one global agg —
    the same two-join shape triangle counting uses, minus the two-path
    explosion.  At 100 TB the degree table is ~nodes-sized; both joins
    co-locate if edges are bucketed by endpoint."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    paired = (
        und.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("ju")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("jv")), "v")
    )
    sums = paired.agg(
        F.count("*").alias("m_edges"),
        F.sum(F.col("ju") * F.col("jv")).alias("sum_jk"),
        F.sum(F.col("ju") + F.col("jv")).alias("sum_j_plus_k"),
        F.sum(F.col("ju") * F.col("ju") + F.col("jv") * F.col("jv")).alias(
            "sum_j2_plus_k2"
        ),
    )
    m = F.col("m_edges").cast("double")
    mean_ends = F.col("sum_j_plus_k").cast("double") / (2.0 * m)
    num = F.col("sum_jk").cast("double") / m - mean_ends * mean_ends
    den = F.col("sum_j2_plus_k2").cast("double") / (2.0 * m) - mean_ends * mean_ends
    return sums.select(
        "m_edges",
        "sum_jk",
        "sum_j_plus_k",
        "sum_j2_plus_k2",
        (F.round(num / F.nullif(den, F.lit(0.0)), 6) + F.lit(0.0)).alias(
            "assortativity"
        ),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Per-node link reciprocity of the DIRECTED simple graph — for each
    source, how many of its out-links are returned (Garlaschelli &
    Loffredo 2004's edgewise reciprocity, resolved per node).  The
    web-graph question: which hosts have mutual-linking relationships
    vs pure one-way citation?

    ``mutual`` counts out-neighbors that also link back, computed with
    ONE left-semi join of the deduped directed edge set against its own
    reverse — no pair materialization beyond the edge list itself.  All
    counts exact integers; the ratio is the only float.

    Returns [node, out_deg, in_deg, mutual, reciprocity] for every node
    with at least one incident directed edge (out_deg/in_deg/mutual are
    0 where absent; reciprocity NULL when out_deg = 0).  At scale: the
    semi-join shuffles the edge list on (src, dst) against its swap —
    a self-join a bucketed edge table co-locates; the three degree
    groupBys are partial-aggregated."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_deg"))
    mutual = (
        e.join(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            ["src", "dst"],
            "semi",
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("mutual"))
    )
    return (
        out_deg.join(in_deg, "node", "full")
        .join(mutual, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("mutual", F.lit(0)).alias("mutual"),
            F.when(
                F.coalesce("out_deg", F.lit(0)) > 0,
                F.round(
                    F.coalesce("mutual", F.lit(0)).cast("double")
                    / F.col("out_deg").cast("double"),
                    6,
                )
                + F.lit(0.0),
            ).alias("reciprocity"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007; the GraphX ``LabelPropagation`` convention) over the undirected
    simple graph, run for a FIXED number of rounds with a fully
    deterministic update: every node's next label is the mode of its
    neighbors' current labels, ties broken by the SMALLEST label.

    Synchronous LPA can oscillate on bipartite-ish structures, which is
    precisely why the round count is fixed rather than "until stable":
    both engines compute the identical round sequence, so the comparison
    is exact whatever the dynamics (the k-core twin's bounded-unroll
    argument, without needing monotonicity).  Initial label = node id.

    Each round: ONE neighbor-label join (labels keyed on node, edge list
    symmetrized) + ONE (node, label) count groupBy + ONE argmax groupBy
    encoded as min(struct(-cnt, label)) — the anchor-text winner rule.
    ``localCheckpoint`` truncates lineage per round.  At scale each round
    shuffles the edge list once on the label key; bucketing edges by
    node co-locates every round's join.

    r6: the round count is FIXED (no mid-loop convergence action), so
    every checkpoint is lazy and the caller's single action executes all
    rounds as ONE job — shared subtrees (the symmetrized neighbor list)
    compute once within the job's stage DAG, and the per-round eager-
    checkpoint jobs disappear.  The lazy checkpoints still truncate each
    round's logical plan, so plan size stays constant in `rounds`.

    Size-adaptive execution (round 6, the connected_components pattern):
    when the canonical undirected edge list is small (<=
    ``local_solve.MAX_LOCAL_ROWS`` rows, 4M) and its ids are null-free
    integers, the ``rounds`` synchronous updates run as vectorized numpy
    group-by passes on the driver and the labels re-enter the plan as a
    local relation.  The
    update (mode of neighbor labels, smallest-label tie-break over
    integer ids) is fully deterministic, so the local sequence is
    BIT-IDENTICAL to the distributed one round by round, in the ids' own
    type.  Above the cap, and for non-integral ids, the per-round
    join/groupBy loop runs unchanged — the 100 TB path.

    Returns [node, label] after ``rounds`` rounds."""
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    spark = edges.sparkSession
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    arrays = collect_local("label_propagation", und, ["u", "v"])
    if arrays is not None:
        t = und.schema["u"].dataType.simpleString()
        return _lpa_local(spark, *arrays, rounds, f"node {t}, label {t}")
    nb = und.select(F.col("u").alias("node"), F.col("v").alias("nb")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    ).localCheckpoint(eager=False)
    labels = (
        nb.select("node").distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        nbl = nb.join(
            labels.select(F.col("node").alias("nb"), F.col("label").alias("nb_label")),
            "nb",
        )
        counted = nbl.groupBy("node", "nb_label").agg(F.count("*").alias("cnt"))
        labels = (
            counted.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("nb_label").alias("lab"))).alias("w"))
            .select("node", F.col("w.lab").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def _lpa_local(spark, u, v, rounds: int, ddl: str) -> DataFrame:
    """Bounded-size label-propagation solve: ``rounds`` vectorized
    mode-of-neighbor-labels updates (argmax by count, smallest-label
    tie-break) over the collected canonical edge arrays.  Deterministic
    integer semantics — round-by-round identical to the distributed
    join/groupBy loop."""
    import numpy as np

    if len(u) == 0:
        return local_frame(spark, ddl, u, v)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    node_idx = np.concatenate([ui, vi])
    nb_idx = np.concatenate([vi, ui])
    # pre-sort the adjacency by node once; per round only the label
    # column re-sorts within each node's slice
    adj_order = np.lexsort((nb_idx, node_idx))
    node_s = node_idx[adj_order]
    nb_s = nb_idx[adj_order]
    lab = nodes.copy()  # initial label = node id (values, not indices)
    for _ in range(rounds):
        nl = lab[nb_s]
        order = np.lexsort((nl, node_s))
        sn, sl = node_s[order], nl[order]
        new_grp = np.empty(len(sn), dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (sn[1:] != sn[:-1]) | (sl[1:] != sl[:-1])
        starts = np.nonzero(new_grp)[0]
        cnt = np.diff(np.append(starts, len(sn)))
        gnode, glab = sn[starts], sl[starts]
        # winner per node = min over (-cnt, label); groups are already
        # (node asc, label asc) so a stable sort on -cnt keeps the
        # smallest label first among equal counts
        w_order = np.lexsort((glab, -cnt, gnode))
        first = np.empty(len(w_order), dtype=bool)
        wn = gnode[w_order]
        first[0] = True
        first[1:] = wn[1:] != wn[:-1]
        lab = lab.copy()
        lab[wn[first]] = glab[w_order][first]
    return local_frame(spark, ddl, nodes, lab)


def community_modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions (Newman & Girvan
    2004) for a given node->label assignment (e.g. label_propagation's
    output): with m undirected edges, community internal-edge count e_c
    and total member degree d_c,

        Q_c = e_c / m  -  (d_c / 2m)^2,      Q = Σ_c Q_c.

    Every input to the formula is an EXACT integer (edge counts,
    degrees), aggregated with partial-agg groupBys — the snapped-moment
    determinism rule — so the two floats per row are single expressions
    over exact values.  Two label-lookup joins on the canonical edge set
    + one degree groupBy; at scale both joins co-locate if edges are
    bucketed by endpoint.  Returns [label, n_nodes, internal_edges,
    degree_sum, q_contrib]."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = und.count()
    if m == 0:
        raise ValueError("community_modularity: empty edge set")
    lab = labels.select(F.col("node"), F.col("label"))
    tagged = und.join(
        lab.select(F.col("node").alias("u"), F.col("label").alias("lu")), "u"
    ).join(lab.select(F.col("node").alias("v"), F.col("label").alias("lv")), "v")
    internal = (
        tagged.where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count("*").alias("internal_edges"))
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    comm = (
        lab.join(deg, "node", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.coalesce("degree", F.lit(0))).alias("degree_sum"),
        )
    )
    md = float(m)
    out = comm.join(internal, "label", "left").select(
        "label",
        "n_nodes",
        F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
        "degree_sum",
        (
            F.coalesce("internal_edges", F.lit(0)).cast("double") / F.lit(md)
            - (F.col("degree_sum").cast("double") / F.lit(2.0 * md))
            * (F.col("degree_sum").cast("double") / F.lit(2.0 * md))
        ).alias("q_contrib"),
    )
    return out


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank (Haveliwala 2002): the
    damped power iteration with ALL teleport mass — the (1-d) restart AND
    the dangling redistribution — going uniformly to the ``seeds`` set
    instead of all nodes.  Rank localizes around the seeds; the standard
    web-graph primitive behind related-page / trust-propagation queries.

    Same distributed shape as :func:`pagerank` (edges carry out-degree
    once; one contribution join + groupBy and one dangling aggregate per
    round; localCheckpoint lineage truncation), plus one broadcast seed
    flag.  Initial rank is 1/|S| on seeds, 0 elsewhere.  Returns
    (node, rank) after ``iterations`` rounds; Σ rank stays 1."""
    if iterations < 1:
        raise ValueError(
            f"personalized_pagerank: iterations must be >= 1, got {iterations}"
        )
    nds = nodes.select(F.col(node_col).alias("node"))
    sd = seeds.select(F.col(node_col).alias("node")).distinct()
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    flagged = nds.join(
        F.broadcast(sd.withColumn("is_seed", F.lit(1.0))), "node", "left"
    ).select(
        "node", F.coalesce("is_seed", F.lit(0.0)).alias("s")
    ).persist()
    flagged.count()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = e.join(deg, "src").persist()
    ed.count()
    ranks = flagged.select(
        "node", (F.col("s") / n_seeds).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                ed["dst"].alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("w"),
            )
            .groupBy("node")
            .agg(F.sum("w").alias("contrib"))
        )
        dangling = ranks.join(
            deg, ranks["node"] == deg["src"], "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        ranks = (
            flagged.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("s") / n_seeds
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") * F.col("s") / n_seeds
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    flagged.unpersist()
    ed.unpersist()
    return ranks


def harmonic_centrality(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014, the centrality they
    recommend over closeness for disconnected digraphs): for node t,

        H(t) = sum over s != t reaching t of 1 / d(s, t)

    — unreachable pairs contribute 0 naturally, no closeness
    divide-by-disconnected pathology.  Distances are ALL-PAIRS directed
    BFS by min-plus relaxation: dist0 = {(s, s, 0)}, then each round
    ONE join of the current table against the edge list (+1) + ONE
    partial-agg min groupBy(src, node), ``localCheckpoint`` per round
    (the pagerank lineage rule).  New pairs only ever appear with their
    FINAL BFS distance (layer property), and existing pairs never
    change, so the iteration is MONOTONE and a twin may unroll any
    fixed round count >= the diameter (the k-core argument).

    The per-node sum folds EXACT integer (distance, count) pairs in
    sorted distance order — sum(count_d / d) over <= diameter terms —
    so the float accumulation order is fixed cross-engine (the Shannon
    ordered-fold pattern).  Eccentricity (max in-distance) rides along
    as an exact integer.

    At 100 TB this all-pairs shape is for STATISTICS-SIZED subgraphs
    (the per-host graph, a crawl frontier sample); web-scale harmonic
    centrality uses HyperBall (Boldi-Vigna HLL sketches over the same
    round structure — the hll_host_distinct machinery composes here).
    Returns [node, n_reached, eccentricity, harmonic]."""
    dist = nodes.select(
        F.col("node").alias("src"), F.col("node"), F.lit(0).alias("d")
    ).localCheckpoint(eager=True)
    prev = (-1, -1)
    for _ in range(max_iter):
        grown = dist.join(
            edges.select(F.col("src").alias("node"), F.col("dst")), "node"
        ).select("src", F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        dist = (
            dist.unionAll(grown)
            .groupBy("src", "node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        row = dist.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("d"), F.lit(0)).alias("s")
        ).collect()[0]
        cur = (row["n"], row["s"])
        if cur == prev:
            reached = dist.where(F.col("src") != F.col("node"))
            per_d = reached.groupBy("node", "d").agg(
                F.count("*").alias("cnt")
            )
            return (
                per_d.groupBy("node")
                .agg(
                    F.sum("cnt").alias("n_reached"),
                    F.max("d").alias("eccentricity"),
                    F.aggregate(
                        F.sort_array(
                            F.collect_list(F.struct("d", "cnt"))
                        ),
                        F.lit(0.0),
                        lambda acc, s: acc
                        + s["cnt"].cast("double") / s["d"].cast("double"),
                    ).alias("h"),
                )
                .join(nodes, "node", "right")
                .select(
                    "node",
                    F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
                    F.coalesce("eccentricity", F.lit(0)).alias("eccentricity"),
                    (F.round(F.coalesce("h", F.lit(0.0)), 6) + F.lit(0.0)).alias(
                        "harmonic"
                    ),
                )
            )
        prev = cur
    raise ValueError(
        f"harmonic_centrality: no fixpoint within max_iter={max_iter} rounds"
    )


def betweenness_centrality(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Exact directed betweenness centrality (Freeman 1977) by the
    pair-counting identity Brandes 2001 §3 starts from:

        BC(v) = sum over s != v != t of sigma_st(v) / sigma_st
        sigma_st(v) = sigma_sv * sigma_vt   iff d(s,v) + d(v,t) = d(s,t)

    — so all that's needed is the all-pairs (distance, path-count)
    table, and sigma is an EXACT integer (shortest-path counts sum over
    equal-distance predecessors; bounded by out_deg^diameter, well
    inside long).  The table is built by FRONTIER BFS: round d joins
    the distance-(d-1) frontier against the edge list, partial-agg sums
    sigma per (src, node), and anti-joins the already-reached set —
    new pairs appear exactly once, at their true distance, with their
    final count (layer property), so a twin may unroll any fixed round
    count >= the diameter.

    The centrality sum divides exact integers (IEEE division is
    deterministic) and folds contributions in sorted (s, t) order per v
    — the Shannon ordered-fold pattern — so the float is bit-identical
    cross-engine before the display rounding.

    At 100 TB this exact all-pairs shape is for STATISTICS-SIZED
    subgraphs (a host graph, a frontier sample); web-scale betweenness
    uses sampled sources (Brandes-Pich 2007) over the same frontier-BFS
    rounds — the machinery here IS the per-source pass.
    Returns [node, betweenness]."""
    frontier = nodes.select(
        F.col("node").alias("src"),
        F.col("node"),
        F.lit(0).alias("d"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    reached = frontier
    e = edges.select(F.col("src").alias("node"), F.col("dst"))
    for d in range(1, max_iter + 1):
        nxt = (
            frontier.join(e, "node")
            .groupBy("src", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(reached.select("src", "node"), ["src", "node"], "left_anti")
            .select("src", "node", F.lit(d).alias("d"), "sigma")
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        frontier = nxt
        reached = reached.unionAll(frontier).localCheckpoint(eager=True)
    else:
        raise ValueError(
            f"betweenness_centrality: BFS not exhausted in max_iter={max_iter}"
        )
    sv = reached.select(
        F.col("src").alias("s"), F.col("node").alias("v"),
        F.col("d").alias("d1"), F.col("sigma").alias("sig1"),
    ).where(F.col("s") != F.col("v"))
    vt = reached.select(
        F.col("src").alias("v"), F.col("node").alias("t"),
        F.col("d").alias("d2"), F.col("sigma").alias("sig2"),
    ).where(F.col("v") != F.col("t"))
    st = reached.select(
        F.col("src").alias("s"), F.col("node").alias("t"),
        F.col("d").alias("d"), F.col("sigma").alias("sig"),
    )
    contribs = (
        sv.join(vt, "v")
        .where(F.col("s") != F.col("t"))
        .join(st, ["s", "t"])
        .where(F.col("d1") + F.col("d2") == F.col("d"))
        .select(
            "v", "s", "t",
            (
                (F.col("sig1") * F.col("sig2")).cast("double")
                / F.col("sig").cast("double")
            ).alias("c"),
        )
    )
    per_v = contribs.groupBy("v").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("s", "t", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("bc")
    )
    return nodes.join(per_v, nodes["node"] == per_v["v"], "left").select(
        "node",
        (F.round(F.coalesce("bc", F.lit(0.0)), 6) + F.lit(0.0)).alias(
            "betweenness"
        ),
    )


def cocitation_counts(edges: DataFrame, min_count: int = 1) -> DataFrame:
    """Co-citation (Small 1973) and bibliographic coupling (Kessler
    1963) pair counts over a directed link graph:

        cocite(a, b)   = |{ s : s -> a AND s -> b }|   (shared citers)
        coupling(a, b) = |{ t : a -> t AND b -> t }|   (shared targets)

    Each is ONE self-equi-join on the shared endpoint + a partial-agg
    count — the classical link-based similarity signals web IR built
    before PageRank, and still the cheapest related-page candidates.
    Pairs are canonical (a < b); the two tables full-outer-merge with
    zero fill, keeping pairs where either count >= min_count.  Exact
    integers throughout — no float order anywhere.

    Scale: both joins key on a single node id (the citing page for
    co-citation, the cited page for coupling); hub pages with huge
    degree quadratically explode their bucket, so production runs cap
    or sample per-key degree first (the host_cap pattern).  No
    all-pairs stage ever materializes.
    Returns [a, b, cocite, coupling]."""
    ded = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    co = (
        ded.alias("x")
        .join(ded.alias("y"), F.col("x.src") == F.col("y.src"))
        .where(F.col("x.dst") < F.col("y.dst"))
        .groupBy(
            F.col("x.dst").alias("a"), F.col("y.dst").alias("b")
        )
        .agg(F.count("*").alias("cocite"))
    )
    bc = (
        ded.alias("x")
        .join(ded.alias("y"), F.col("x.dst") == F.col("y.dst"))
        .where(F.col("x.src") < F.col("y.src"))
        .groupBy(
            F.col("x.src").alias("a"), F.col("y.src").alias("b")
        )
        .agg(F.count("*").alias("coupling"))
    )
    return (
        co.join(bc, ["a", "b"], "full_outer")
        .select(
            "a", "b",
            F.coalesce("cocite", F.lit(0)).alias("cocite"),
            F.coalesce("coupling", F.lit(0)).alias("coupling"),
        )
        .where(
            (F.col("cocite") >= min_count) | (F.col("coupling") >= min_count)
        )
    )


def simrank(
    nodes: DataFrame, edges: DataFrame, c: float = 0.8, iterations: int = 5
) -> DataFrame:
    """SimRank (Jeh & Widom 2002): two pages are similar when similar
    pages link to them —

        s(a, a) = 1
        s(a, b) = c / (|I(a)| |I(b)|) * sum over (i, j) in I(a) x I(b)
                  of s(i, j)

    iterated ``iterations`` times from the identity matrix (the paper's
    fixed-iteration scheme, k=5 gives the scores it reports).  The
    iteration stays SPARSE: round k+1 joins the nonzero pair table
    against the in-edge list twice (keyed on each pair member — never a
    dense |V|^2 materialization), partial-aggregates per (a, b), and
    truncates lineage per round.  The per-pair sum folds s_k(i, j)
    contributions in sorted (i, j) order (Shannon ordered-fold), and
    the c/(|I(a)||I(b)|) scale is one identically-written expression,
    so every float is bit-identical cross-engine before rounding.

    At 100 TB the all-pairs closure is for STATISTICS-SIZED subgraphs
    (host graphs, category subwebs); web-scale SimRank uses the same
    rounds over a seed-pair slice or random-walk sampling (Fogaras &
    Rácz 2005) — the join shape here is that inner loop.
    Returns [a, b, s] for a < b with structurally nonzero score."""
    rev = (
        edges.select(F.col("dst").alias("a"), F.col("src").alias("i"))
        .where(F.col("a") != F.col("i"))
        .distinct()
    )
    deg = rev.groupBy("a").agg(F.count("*").alias("d"))
    pairs = nodes.select(
        F.col("node").alias("i"), F.col("node").alias("j"), F.lit(1.0).alias("s")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            pairs.join(rev.select(F.col("a"), F.col("i")), "i")
            .join(
                rev.select(F.col("a").alias("b"), F.col("i").alias("j")), "j"
            )
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("i", "j", "s"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"],
                ).alias("ssum")
            )
        )
        off = (
            contrib.join(deg.select(F.col("a"), F.col("d").alias("da")), "a")
            .join(deg.select(F.col("a").alias("b"), F.col("d").alias("db")), "b")
            .select(
                F.col("a").alias("i"),
                F.col("b").alias("j"),
                (
                    F.lit(c)
                    / (F.col("da") * F.col("db")).cast("double")
                    * F.col("ssum")
                ).alias("s"),
            )
        )
        diag = nodes.select(
            F.col("node").alias("i"),
            F.col("node").alias("j"),
            F.lit(1.0).alias("s"),
        )
        pairs = diag.unionAll(off).localCheckpoint(eager=True)
    return (
        pairs.where(F.col("i") < F.col("j"))
        .select(
            F.col("i").alias("a"),
            F.col("j").alias("b"),
            (F.round("s", 6) + F.lit(0.0)).alias("s"),
        )
    )


def boruvka_msf(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """Minimum spanning forest by distributed Borůvka (1926; the
    MapReduce MST of Lattanzi et al. 2011): every round each component
    picks its minimum incident cross-edge (min over the exact
    ``struct(w, u, v)`` — lexicographic, so ties break on the edge ids
    and the chosen set is deterministic), the chosen edges join the
    forest, and components contract by connected-components over the
    chosen component-graph (the dedup large-star/small-star operator —
    O(log^2) rounds, diameter-proof).  Component count at least halves
    per round, so <= log2(V) rounds total.

    With DISTINCT weights the MSF is UNIQUE, which is what makes an
    independent twin possible: the cut property says (u, v, w) is in
    the forest iff u cannot reach v using strictly lighter edges — the
    DuckDB oracle checks exactly that, a genuinely different algorithm
    agreeing on the same edge set.  All-integer weights: no float
    anywhere.

    Scale shape per round: one edge×labels double join (keyed on the
    edge endpoints), one partial-agg struct-min groupBy(component),
    then the contraction on the CHOSEN edges only (<= one per
    component, a vanishing fraction of E).  Edges: (u, v, w) canonical
    u < v with unique w (pre-encode ties as w*K + id if needed).
    Returns the forest edge list [u, v, w]."""
    e = edges.select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("w").cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    comp = nodes.select(
        F.col("node").cast("long").alias("node"),
        F.col("node").cast("long").alias("comp"),
    ).localCheckpoint(eager=True)
    msf = nodes.sparkSession.createDataFrame([], "u long, v long, w long")
    from tilekiln_spark.operators.dedup import connected_components

    for _ in range(max_rounds):
        ec = (
            e.join(
                comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")),
                "u",
            )
            .join(
                comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")),
                "v",
            )
            .where(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=True)
        )
        if not ec.take(1):
            return msf
        cand = ec.select(F.col("cu").alias("c"), F.struct("w", "u", "v").alias("e")).unionAll(
            ec.select(F.col("cv").alias("c"), F.struct("w", "u", "v").alias("e"))
        )
        chosen = (
            cand.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.u", "e.v", "e.w")
            .distinct()
            .localCheckpoint(eager=True)
        )
        msf = msf.unionAll(chosen).localCheckpoint(eager=True)
        ce = (
            chosen.join(
                comp.select(F.col("node").alias("u"), F.col("comp").alias("cu")),
                "u",
            )
            .join(
                comp.select(F.col("node").alias("v"), F.col("comp").alias("cv")),
                "v",
            )
            .select("cu", "cv")
        )
        labels = connected_components(ce, "cu", "cv")
        comp = (
            comp.join(
                labels.select(
                    F.col("node").alias("comp"), F.col("component").alias("nc")
                ),
                "comp",
                "left",
            )
            .select("node", F.coalesce("nc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    raise ValueError(f"boruvka_msf: not converged in max_rounds={max_rounds}")


def link_prediction(edges: DataFrame, min_common: int = 1) -> DataFrame:
    """Classical neighborhood link-prediction scores (Liben-Nowell &
    Kleinberg 2003) for every non-adjacent-or-adjacent pair with at
    least ``min_common`` common neighbors in the UNDIRECTED graph:

        cn(a, b) = |N(a) ∩ N(b)|                      common neighbors
        aa(a, b) = sum over z in N(a) ∩ N(b) of 1/ln(deg z)   Adamic-Adar
        ra(a, b) = sum over z of 1/deg z        resource allocation (Zhou)
        pa(a, b) = deg a * deg b                preferential attachment
        jacc     = cn / |N(a) ∪ N(b)|

    One self-join of the neighbor list keyed on the SHARED neighbor z
    produces every scored pair (the cocitation shape — never |V|^2),
    then one partial-agg groupBy(a, b).  cn/pa/union sizes are exact
    integers; aa and ra fold their per-z terms in sorted z order (the
    Shannon discipline), and a common neighbor has deg >= 2 by
    construction so ln(deg z) never hits ln(1) = 0.  Hub neighbors
    explode their bucket quadratically — production runs cap per-z
    degree first (the host_cap pattern), same caveat as co-citation.
    Returns [a, b, cn, aa, ra, pa, jacc] with a < b."""
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    nbr = und.select(F.col("u").alias("node"), F.col("v").alias("z")).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("z"))
    )
    deg = nbr.groupBy("node").agg(F.count("*").alias("deg"))
    nz = nbr.join(
        deg.select(F.col("node").alias("z"), F.col("deg").alias("degz")), "z"
    )
    pairs = (
        nz.select(F.col("node").alias("a"), "z", "degz")
        .join(nz.select(F.col("node").alias("b"), "z"), "z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("z", "degz"))),
                F.lit(0.0),
                lambda acc, s: acc + F.lit(1.0) / F.log(s["degz"].cast("double")),
            ).alias("aa"),
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("z", "degz"))),
                F.lit(0.0),
                lambda acc, s: acc + F.lit(1.0) / s["degz"].cast("double"),
            ).alias("ra"),
        )
        .where(F.col("cn") >= min_common)
    )
    return (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            "cn",
            (F.round("aa", 6) + F.lit(0.0)).alias("aa"),
            (F.round("ra", 6) + F.lit(0.0)).alias("ra"),
            (F.col("da") * F.col("db")).alias("pa"),
            (
                F.round(
                    F.col("cn").cast("double")
                    / (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("jacc"),
        )
    )


def eigenvector_centrality(
    nodes: DataFrame, edges: DataFrame, iterations: int = 8
) -> DataFrame:
    """Eigenvector centrality (Bonacich 1972) by MAX-normalized power
    iteration on in-edges: x_{k+1} = A^T x_k / ||A^T x_k||_inf from the
    all-ones start — the :func:`hits` normalization discipline (a max
    over per-node sums is order-independent given its inputs; the only
    engine divergence is the per-node float-sum ulp, absorbed by the
    oracle's round(6)).  Same per-round shape as pagerank: ONE src-
    keyed join + partial-agg groupBy(dst) + a 1-row broadcast max,
    lineage truncated per round.  Nodes with no in-path decay to 0.
    Returns [node, centrality]."""
    if iterations < 1:
        raise ValueError("eigenvector_centrality: iterations must be >= 1")
    nds = nodes.select("node").persist()
    nds.count()
    e = edges.select("src", "dst")
    x = nds.withColumn("x", F.lit(1.0)).localCheckpoint(eager=True)
    for _ in range(iterations):
        raw = (
            e.join(x, e["src"] == x["node"])
            .select(e["dst"].alias("node"), F.col("x").alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
        full = (
            nds.join(raw, "node", "left")
            .select("node", F.coalesce("s", F.lit(0.0)).alias("s"))
            .localCheckpoint(eager=True)
        )
        mx = full.agg(F.greatest(F.max("s"), F.lit(1e-300)).alias("m"))
        x = full.crossJoin(F.broadcast(mx)).select(
            "node", (F.col("s") / F.col("m")).alias("x")
        ).localCheckpoint(eager=True)
    nds.unpersist()
    return x.select("node", F.col("x").alias("centrality"))


def katz_centrality(
    nodes: DataFrame,
    edges: DataFrame,
    alpha: float = 0.2,
    beta: float = 1.0,
    iterations: int = 8,
) -> DataFrame:
    """Katz centrality (Katz 1953): x = sum over k >= 1 of alpha^k
    (A^T)^k * beta*1 — attenuated counts of in-walks of every length —
    iterated as x_{k+1} = alpha * A^T x_k + beta from x_0 = beta*1
    (requires alpha < 1/lambda_max for convergence; a FIXED iteration
    count makes the truncated sum deterministic, the pagerank
    discipline).  Per round: one src-keyed join + partial-agg
    groupBy(dst) + the nodes left-join (no-in-edge nodes keep the beta
    floor), lineage truncated.  Returns [node, katz]."""
    nds = nodes.select("node").persist()
    nds.count()
    e = edges.select("src", "dst")
    x = nds.withColumn("x", F.lit(float(beta))).localCheckpoint(eager=True)
    for _ in range(iterations):
        raw = (
            e.join(x, e["src"] == x["node"])
            .select(e["dst"].alias("node"), F.col("x").alias("w"))
            .groupBy("node")
            .agg(F.sum("w").alias("s"))
        )
        x = (
            nds.join(raw, "node", "left")
            .select(
                "node",
                (
                    F.lit(float(alpha)) * F.coalesce("s", F.lit(0.0))
                    + F.lit(float(beta))
                ).alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    nds.unpersist()
    return x.select("node", F.col("x").alias("katz"))


def rich_club(edges: DataFrame, ks: list[int]) -> DataFrame:
    """Rich-club coefficient (Zhou & Mondragón 2004; Colizza 2006
    normalization left to the caller): for each degree threshold k,

        phi(k) = 2 * E_k / (N_k * (N_k - 1))

    over the UNDIRECTED simple graph, where N_k = nodes with degree
    > k and E_k = edges between two such nodes — do well-connected
    pages link to each other more than degree alone predicts?  N_k and
    E_k are exact integers from one degree groupBy + one edge
    semi-join per threshold (thresholds share the degree-annotated
    edge list, so adding thresholds adds no shuffle); phi is a single
    division rounded at 6.  Returns [k, n_nodes, n_edges, phi]."""
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    deg = und.select(F.col("u").alias("n")).unionAll(
        und.select(F.col("v").alias("n"))
    ).groupBy("n").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    ed = (
        und.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .localCheckpoint(eager=True)
    )
    if not ks:
        raise ValueError("rich_club: ks must be non-empty")
    out = None
    for k in sorted(set(int(x) for x in ks)):
        nk = deg.where(F.col("d") > k).agg(F.count("*").alias("n_nodes"))
        ek = ed.where((F.col("du") > k) & (F.col("dv") > k)).agg(
            F.count("*").alias("n_edges")
        )
        row = (
            nk.crossJoin(ek)
            .select(
                F.lit(k).alias("k"),
                "n_nodes",
                "n_edges",
                (
                    F.round(
                        F.when(
                            F.col("n_nodes") >= 2,
                            F.lit(2.0)
                            * F.col("n_edges").cast("double")
                            / (
                                F.col("n_nodes")
                                * (F.col("n_nodes") - 1)
                            ).cast("double"),
                        ).otherwise(F.lit(0.0)),
                        6,
                    )
                    + F.lit(0.0)
                ).alias("phi"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


def k_truss(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """k-truss decomposition for a fixed k (Cohen 2008; the edge
    analogue of k-core): the maximal subgraph in which EVERY edge
    closes at least k-2 triangles.  Iterative peeling: count each
    edge's support (triangles through it) within the CURRENT edge set
    — one symmetric-adjacency double join keyed on the endpoints +
    one partial-agg pair count, the graph_triangles shape — drop edges
    with support < k-2, repeat until no edge drops.  The edge set
    shrinks MONOTONICALLY, so a twin may unroll any fixed round count
    >= the cascade depth (extra rounds are no-ops — the k-core
    argument), and all quantities are exact integers.

    Scale per round: support counting shuffles on single node keys
    (wedge endpoints); the classic optimization of ordering wedges by
    degree applies unchanged.  Rounds = peeling cascade depth, small
    in practice (the fixture cascades in 3).
    Returns the surviving [u, v, support] with u < v."""
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = und.count()
    for _ in range(max_iter):
        sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
            und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        tri = (
            und.join(
                sym.select(F.col("a").alias("u"), F.col("b").alias("w")), "u"
            )
            .join(
                sym.select(F.col("a").alias("v"), F.col("b").alias("w")),
                ["v", "w"],
            )
            .groupBy("u", "v")
            .agg(F.count("*").alias("support"))
        )
        scored = und.join(tri, ["u", "v"], "left").select(
            "u", "v", F.coalesce("support", F.lit(0)).alias("support")
        )
        kept = scored.where(F.col("support") >= k - 2).localCheckpoint(
            eager=True
        )
        n = kept.count()
        if n == n_prev:
            return kept
        # lazy projection off the already-checkpointed kept — one
        # materialization per round, not two
        und = kept.select("u", "v")
        n_prev = n
    raise ValueError(f"k_truss: peeling not converged in max_iter={max_iter}")
