"""Iterative graph algorithms as DataFrame plans: weighted PageRank,
connected components, triangle and core-number operators.

Each iteration is expressed as repeated joins over an edge relation,
letting Catalyst plan each step; operators with a bounded driver twin
decide the tier through ``crick_spark.driver_close``.

100 TB shape per iteration: one join of the rank vector (2 cols: node,
rank) against the out-weight-normalized edge list, one groupBy(dst) —
i.e. two shuffles over edge-count rows, never materializing anything
quadratic.  The edge list is computed once and cached/reused across
iterations; for long iteration chains the rank vector is automatically
localCheckpoint-truncated every ``checkpoint_interval`` steps (same
lineage-control pattern as the star-contraction rounds), so plan depth and
scheduler cost stay bounded at any iteration count.  Fixed iteration
counts keep results deterministic and SQL-oracle-able (the oracle
unrolls the same iterations as chained CTEs); deep chains are
cross-checked against a numpy power iteration instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    eager: bool = False,
    broadcast_ranks: bool = False,
    dangling: str = "redistribute",
    checkpoint_interval: int | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns
    ``(node, rank)`` after ``iterations`` synchronous updates from a
    uniform 1/N start:  r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)·w(u,v)/outw(u)
    + dm/N), where dm is the rank mass sitting on dangling (no
    out-edge) nodes this iteration.

    ``dangling="redistribute"`` (default) spreads dangling mass
    uniformly — the standard correction that keeps total rank mass at
    exactly 1.0 on graphs with sinks.  dm is DERIVED, not measured
    (r7): out-probabilities sum to 1 per non-dangling source, so
    Σ(contributed mass) = Σ_{non-dangling} r(u), and with total mass
    pinned at 1 the stranded mass is dm = 1 − Σ(mass) — one 1-row
    aggregate over the already-computed contribution table.  This
    removes the per-iteration semi-join against a precomputed
    dangling-node set AND the second read of the rank vector the old
    form needed (which in turn needed a per-iteration cache); it also
    cancels float drift instead of propagating it (the emitted total is
    (1−d) + d·Σmass + d·(1−Σmass) = 1 identically).  ``dangling=
    "assume_none"`` skips even that 1-row aggregate for graphs that
    have an out-edge on every node BY CONSTRUCTION (bidirectionalized
    edge lists); results are identical on such graphs (dm ≡ 0), it is
    purely the cheaper plan.

    Lineage control: the rank vector is localCheckpoint-truncated every
    ``checkpoint_interval`` iterations automatically, so deep chains
    (iterations ≫ 5) keep bounded plan depth instead of accumulating
    2·iterations joins of analysis work — the dedup components loop's
    pattern, now built in.  With the derived-dm shape the rank vector
    is read ONCE per iteration, so execution work between truncations
    is linear in the interval and the knob trades per-step
    serialization barriers against plan/analysis depth.  MEASURED
    (sf0.1 purchase graph, ~84k weighted edges, 10 iterations):
    interval 1 → 12.9 s (every step a barrier), 2 → 9.8 s, **3 →
    7.7-8.3 s (best)**, 4 → 14.2 s, 5 → 13.3 s (analysis depth
    dominates), 10/unbounded → runaway.  The default (``None``)
    auto-selects 3 for deep chains (iterations > 5) and 5 — which
    never fires — for shallow ones, where any eager materialization
    would serialize the pipeline for no lineage benefit.  Override
    explicitly when the rank vector is too large to materialize
    cheaply (it is 2 columns — it rarely is), or ``0`` to disable
    (only sensible for the shallow, fully-unrolled oracle forms).

    The normalized edge list and node set are cached for reuse across
    iterations.  With ``eager=True`` the final rank vector is
    materialized (``localCheckpoint``) and both caches are released
    before returning — use this in long-lived sessions that run many
    queries; the default lazy mode leaves the caches alive for the
    lifetime of the returned plan (compose further, then release them
    via the ``crick_cache_handles`` attribute on the returned
    DataFrame: ``for h in out.crick_cache_handles: h.unpersist()``).
    """
    if dangling not in ("redistribute", "assume_none"):
        raise ValueError(f"unknown dangling mode: {dangling!r}")
    if checkpoint_interval is None:
        checkpoint_interval = 3 if iterations > 5 else 5
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    norm = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    ).cache()
    # r14 endpoint census, ONE pass over the cached norm (norm holds
    # every edge of e — the inner join on src never drops one — so its
    # endpoint set is the node set; deriving it from e cost a second
    # full build of the caller's edge relation, and the old
    # dsts-distinct + anti-join + semi-probe trio cost three more norm
    # scans).  smax/smin encode the appearance sides: smin=1 → never a
    # dst (pure source), smax=1 ∧ smin=0 → both (interior source).
    # r15: the census also folds in sp(v) = Σ_{u→v} p(u,v) (dst-side p,
    # src rows contribute an exact 0.0) so the depth-1-DAG fast path
    # reads its static receiver-mass column straight off the checkpointed
    # census instead of running a second groupBy over norm + its own
    # 1-row-materialization (two jobs per call).  The general path
    # ignores spv; smax/smin are unchanged.
    ep = (
        norm.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("s"),
                        F.lit(0.0).alias("pv"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("s"),
                        F.col("p").alias("pv"),
                    ),
                )
            ).alias("x")
        )
        .select("x.*")
        .groupBy("node")
        .agg(
            F.max("s").alias("smax"),
            F.min("s").alias("smin"),
            F.sum("pv").alias("spv"),
        )
        .localCheckpoint(eager=True)
    )
    nodes = ep.select("node")
    # N in-plan (1-row broadcast cross join), not a driver-side
    # count(): no extra job per call, no value baked into the closure —
    # the same pattern as the decayed-quantiles reference day.
    # r14: materialized ONCE (1-row localCheckpoint) — every iteration
    # broadcasts cnt, and localCheckpoint truncation splits the chain
    # into separate executions whose BroadcastExchanges each re-ran the
    # full node-set aggregation (one |nodes|-scan job per broadcast,
    # ~20 extra jobs on a 10-iteration chain; visible in the job trace)
    cnt = ep.agg(F.count("*").cast("double").alias("__n")).localCheckpoint(
        eager=True
    )
    # r14 depth-1-DAG fast path (optimization round; guide §1.2 "the
    # distributed algorithm" + §8 "use what you know the optimizer does
    # not"): on a graph where EVERY source is pure (no in-edges — e.g.
    # the customer→supplier purchase DAG, and bipartite interaction
    # graphs generally), all sources share one scalar rank
    # s_k = (1−d)/N + d·dm_{k−1}/N, every receiver's mass is the static
    # per-receiver in-probability sp(v) = Σ_{u→v} p(u,v) scaled by that
    # scalar, and dm_k = 1 − s_{k−1}·Σ_v sp(v).  The whole iteration
    # chain is a 1-row scalar recurrence (kept in-plan, never collected)
    # and the final ranks are ONE projection over sp — no per-iteration
    # joins, shuffles, or rank-vector materializations at any scale.
    # Detection is a 2-boolean decide-and-use aggregate over the census
    # (a bounded driver transfer of one row).
    # Graphs with any non-pure source keep the pre-r14 loop
    # byte-for-byte.  MEASURED (sf0.1 pagerank_deep_dangling, 10
    # iterations): 12.1 s / 111 jobs before this round, ~3.5 s after;
    # algebraically exact up to float summation order (the numpy
    # cross-check tests pass unchanged at 1e-9).
    if iterations >= 1:
        flags = ep.agg(
            F.max((F.col("smax") == 1) & (F.col("smin") == 1)).alias(
                "pure_src"
            ),
            F.max((F.col("smax") == 1) & (F.col("smin") == 0)).alias(
                "interior"
            ),
        ).collect()[0]
        if flags["pure_src"] and not flags["interior"]:
            noin = ep.where(
                (F.col("smax") == 1) & (F.col("smin") == 1)
            ).select("node")
            sp = ep.where(F.col("smin") == 0).select(
                "node", F.col("spv").alias("sp")
            )
            return _pagerank_depth1_dag(
                norm,
                noin,
                sp,
                cnt,
                iterations,
                damping,
                dangling,
                checkpoint_interval,
                eager,
            )
    ranks = nodes.crossJoin(F.broadcast(cnt)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    live_caches: list[DataFrame] = []
    for it in range(iterations):
        # broadcast_ranks ships the 2-column rank vector map-side so the
        # edge list never re-shuffles.  MEASURED at sf0.1 (16k nodes,
        # 3 iterations): 8.1 s vs 6.5 s for the default shuffle join —
        # each broadcast must materialize the previous iteration first,
        # serializing the chain, so it LOSES at shallow depth on small
        # graphs; it wins only when the edge-list shuffle dominates
        # (edges ≫ nodes x iterations).  Default stays the shuffle join.
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            r.join(norm, r.node == norm.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        if dangling == "redistribute":
            # contrib feeds two consumers (the per-node join and the
            # 1-row dm aggregate) — cache the node-sized table so the
            # subtree executes once per step; released at truncation
            contrib = contrib.cache()
            live_caches.append(contrib)
            # stranded sink mass, DERIVED from mass conservation (see
            # docstring): empty contrib (edgeless graph) sums to NULL →
            # dm = 1.0, every node dangling — correct
            dm = contrib.agg(
                (F.lit(1.0) - F.coalesce(F.sum("mass"), F.lit(0.0))).alias(
                    "__dm"
                )
            )
            redistributed = F.lit(damping) * F.col("__dm") / F.col("__n")
        else:
            dm = None
            redistributed = F.lit(0.0)
        nxt = nodes.join(contrib, "node", "left").crossJoin(
            F.broadcast(cnt)
        )
        if dm is not None:
            nxt = nxt.crossJoin(F.broadcast(dm))
        ranks = nxt.select(
            "node",
            (
                F.lit(1.0 - damping) / F.col("__n")
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                + redistributed
            ).alias("rank"),
        )
        if (
            checkpoint_interval
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < iterations
        ):
            ranks = ranks.localCheckpoint(eager=True)
            for c in live_caches:
                c.unpersist()
            live_caches.clear()
    if eager:
        ranks = ranks.localCheckpoint(eager=True)
        for c in live_caches:
            c.unpersist()
        live_caches.clear()
        norm.unpersist()
    else:
        # lazy mode: the returned plan still depends on these cached
        # relations, so they cannot be unpersisted here — expose the
        # handles so a caller composing further can release them after
        # its own materialization (repeat lazy calls in a long-lived
        # session should prefer eager=True, which leaks nothing)
        ranks.crick_cache_handles = list(live_caches) + [norm]
    return ranks


def _pagerank_depth1_dag(
    norm: DataFrame,
    noin: DataFrame,
    sp: DataFrame,
    cnt: DataFrame,
    iterations: int,
    damping: float,
    dangling: str,
    checkpoint_interval: int | None,
    eager: bool,
) -> DataFrame:
    """PageRank on a graph whose every source is pure (see the fast-path
    note in :func:`pagerank`): receivers' mass is sp(v)·s_{k−1} with a
    1-row scalar recurrence for s/dm, so only the LAST iteration's
    scalars reach the final one-projection rank table.  All scalars stay
    in-plan as 1-row DataFrames (broadcast cross joins — no value is
    ever collected to the driver), and the scalar chain is truncated on
    the caller's ``checkpoint_interval`` grid (a 1-row materialization,
    microseconds) so plan depth stays bounded at any iteration count.
    ``sp`` (node, sp) rides in from the caller's checkpointed endpoint
    census (r15) — no second norm pass, no extra materialization."""
    # Σ_v sp(v) (= the pure-source count up to float error), static;
    # materialized once for the same per-broadcast-re-execution reason
    # as cnt
    spt = sp.agg(
        F.coalesce(F.sum("sp"), F.lit(0.0)).alias("__t")
    ).localCheckpoint(eager=True)
    base = F.lit(1.0 - damping) / F.col("__n")
    sc = cnt.select((F.lit(1.0) / F.col("__n")).alias("__s"))  # s_0
    prev_sc, dm, redistributed = sc, None, F.lit(0.0)
    for it in range(iterations):
        if dangling == "redistribute":
            dm = sc.crossJoin(F.broadcast(spt)).select(
                (F.lit(1.0) - F.col("__s") * F.col("__t")).alias("__dm")
            )
            redistributed = F.lit(damping) * F.col("__dm") / F.col("__n")
        prev_sc = sc
        nxt = cnt if dm is None else cnt.crossJoin(F.broadcast(dm))
        sc = nxt.select((base + redistributed).alias("__s"))
        if (
            checkpoint_interval
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < iterations
        ):
            sc = sc.localCheckpoint(eager=True)
    fin = sp.crossJoin(F.broadcast(prev_sc)).crossJoin(F.broadcast(cnt))
    if dm is not None:
        fin = fin.crossJoin(F.broadcast(dm))
    ranks = fin.select(
        "node",
        (
            base
            + F.lit(damping) * (F.col("sp") * F.col("__s"))
            + redistributed
        ).alias("rank"),
    ).unionByName(
        noin.crossJoin(F.broadcast(sc)).select(
            "node", F.col("__s").alias("rank")
        )
    )
    if eager:
        ranks = ranks.localCheckpoint(eager=True)
        norm.unpersist()
    else:
        ranks.crick_cache_handles = [norm]
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    reset: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    reset_node_col: str = "node",
    reset_weight_col: str | None = None,
    dangling: str = "redistribute",
    checkpoint_interval: int | None = None,
    eager: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): rank mass
    teleports to the ``reset`` seed distribution instead of uniformly —
    r'(v) = (1−d)·s(v) + d·(Σ_{u→v} r(u)·p(u,v) + dm·s(v)), starting
    from r₀ = s.  The curation use beside the global ``pagerank``:
    seed s with trusted/high-quality nodes and the stationary mass
    measures seed-proximity — quality propagation over co-purchase /
    citation / link graphs (Haveliwala, *Topic-sensitive PageRank*,
    WWW 2002; the same restart trick BFS-approximates in GNN sampling).

    ``reset`` is ``(node, weight?)``; weights (default 1 each) are
    normalized IN-PLAN over the seeds present in the graph's node set —
    seeds outside the graph are ignored (a seed set disjoint from the
    graph yields a degenerate all-NULL s; callers own seed hygiene).
    Same execution shape and knobs as ``pagerank`` (derived dangling
    mass, per-interval localCheckpoint truncation, cached normalized
    edges); the per-node s column rides the node relation, so each
    iteration is still one rank-vector join + one groupBy over edge
    rows.  Fixed iterations keep it SQL-oracle-able by CTE unrolling.
    """
    if dangling not in ("redistribute", "assume_none"):
        raise ValueError(f"unknown dangling mode: {dangling!r}")
    if checkpoint_interval is None:
        checkpoint_interval = 3 if iterations > 5 else 5
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    norm = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    ).cache()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    rw = (
        F.col(reset_weight_col).cast("double")
        if reset_weight_col
        else F.lit(1.0)
    )
    seeds = (
        reset.select(F.col(reset_node_col).alias("node"), rw.alias("__rw"))
        .groupBy("node")
        .agg(F.sum("__rw").alias("__rw"))
    )
    with_w = nodes.join(seeds, "node", "left").select(
        "node", F.coalesce(F.col("__rw"), F.lit(0.0)).alias("__rw")
    )
    tot = with_w.agg(F.sum("__rw").alias("__t"))
    snodes = (
        with_w.crossJoin(F.broadcast(tot))
        .select("node", (F.col("__rw") / F.col("__t")).alias("s"))
        .cache()
    )
    ranks = snodes.select("node", F.col("s").alias("rank"))
    live_caches: list[DataFrame] = []
    for it in range(iterations):
        contrib = (
            ranks.join(norm, ranks.node == norm.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        if dangling == "redistribute":
            contrib = contrib.cache()
            live_caches.append(contrib)
            dm = contrib.agg(
                (F.lit(1.0) - F.coalesce(F.sum("mass"), F.lit(0.0))).alias(
                    "__dm"
                )
            )
            nxt = snodes.join(contrib, "node", "left").crossJoin(
                F.broadcast(dm)
            )
            redistributed = F.lit(damping) * F.col("__dm") * F.col("s")
        else:
            nxt = snodes.join(contrib, "node", "left")
            redistributed = F.lit(0.0)
        ranks = nxt.select(
            "node",
            (
                F.lit(1.0 - damping) * F.col("s")
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                + redistributed
            ).alias("rank"),
        )
        if (
            checkpoint_interval
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < iterations
        ):
            ranks = ranks.localCheckpoint(eager=True)
            for c in live_caches:
                c.unpersist()
            live_caches.clear()
    if eager:
        ranks = ranks.localCheckpoint(eager=True)
        for c in live_caches:
            c.unpersist()
        live_caches.clear()
        norm.unpersist()
        snodes.unpersist()
    else:
        ranks.crick_cache_handles = list(live_caches) + [norm, snodes]
    return ranks


#: edge sets at or under this count close driver-side (one Arrow collect
#: + ``min_root_labels``) instead of running star-contraction rounds:
#: 200k 2-field rows are a few MB, far under any driver hazard, and each
#: contraction round they replace costs ~5 tiny Spark jobs
CC_DRIVER_CLOSE_MAX_EDGES = 200_000


def min_root_labels(pairs) -> dict:
    """Union-find over (a, b) node pairs: returns ``{node: minimum node
    id of its component}`` for every node in a pair (a self-pair (a, a)
    only registers ``a``).  Union by min root keeps every root the
    minimum of its set, so this is exactly ``connected_components``'
    (node, component) labeling."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in nodes}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_close_max_edges: int = CC_DRIVER_CLOSE_MAX_EDGES,
) -> DataFrame:
    """Connected components — the step that turns near-duplicate PAIRS
    into dedup CLUSTERS (pick one canonical doc per component; transitive
    closure of the pair relation).  Returns ``(node, component)`` with
    component = the minimum node id reachable, over every node that
    appears in a non-null edge (a self-loop-only node labels itself).

    Two tiers, identical output:

    - **driver** — the non-null edge relation goes through
      ``driver_close``: one checkpoint, one count, and at or under
      ``driver_close_max_edges`` rows one parallel Arrow collect feeding
      ``min_root_labels``.  Integral and string ids only (their values
      collect as Python ``int``/``str``, which order like Spark's); any
      other id type, or ``driver_close_max_edges=0``, takes the
      distributed tier.
    - **distributed** — alternating large-star / small-star contraction
      (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, *Connected
      components in MapReduce and beyond*, SoCC 2014) over the
      checkpoint: O(log n) rounds on ANY topology, where min-label
      propagation needs O(diameter) supersteps (chained near-dup pairs
      form long paths).  Per round pair:

      * large-star — every node links its LARGER neighbors to
        m = min(Γ(u) ∪ {u});
      * small-star — every node links its ≤-neighbors and itself to the
        minimum of that set;

      each one groupBy(min) + one self-join over edge rows with a
      localCheckpoint per round.  Fixpoint = the edge set is literally
      unchanged (same count AND empty exceptAll — exact, no
      probabilistic signature); every component is then a star rooted
      at its minimum id.  ``max_iter`` bounds the rounds; exhausting it
      raises rather than returning a partial labeling."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegralType,
        StringType,
        StructField,
        StructType,
    )

    from crick_spark.driver_close import driver_close

    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    node_t = base.schema["u"].dataType
    cap = (
        int(driver_close_max_edges)
        if node_t == base.schema["v"].dataType
        and isinstance(node_t, (IntegralType, StringType))
        else 0
    )
    base, head = driver_close(base, cap)
    if head is not None:
        roots = min_root_labels(
            zip(head.column("u").to_pylist(), head.column("v").to_pylist())
        )
        nodes = sorted(roots)
        # a pandas frame crosses back through Arrow: collecting 1,500
        # rows built from a list of tuples took 0.5 s on 4 cores, from
        # pandas 0.04 s
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(
                {"node": nodes, "component": [roots[n] for n in nodes]}
            ),
            StructType(
                [
                    StructField("node", node_t),
                    StructField("component", node_t),
                ]
            ),
        )
    # every node ever seen — INCLUDING self-loop-only nodes, which the
    # contraction drops but the labeling must still cover
    all_nodes = (
        base.select(F.col("u").alias("node"))
        .unionAll(base.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = (
        base.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def neighbors(rel: DataFrame) -> DataFrame:
        return rel.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionAll(rel.select(F.col("b").alias("u"), F.col("a").alias("v")))

    for _ in range(int(max_iter)):
        nb = neighbors(cur)
        # large-star: m(u) = min(Γ(u) ∪ {u}); link v > u to m
        mins = nb.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            nb.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("a"),
                F.greatest(F.col("v"), F.col("m")).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: m(u) = min({v ∈ Γ(u): v ≤ u} ∪ {u}); link the
        # ≤-neighbors AND u itself to m
        nb2 = neighbors(large)
        small_side = nb2.where(F.col("v") <= F.col("u"))
        mins2 = small_side.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        linked = small_side.join(mins2, "u").select(
            F.col("v").alias("x"), F.col("m")
        ).unionAll(mins2.select(F.col("u").alias("x"), F.col("m")))
        nxt = (
            linked.select(
                F.least(F.col("x"), F.col("m")).alias("a"),
                F.greatest(F.col("x"), F.col("m")).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # exact fixpoint test: identical edge sets (count + exceptAll)
        if (
            nxt.count() == cur.count()
            and nxt.exceptAll(cur).limit(1).count() == 0
        ):
            cur = nxt
            break
        cur = nxt
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # stars: (b=node, a=root); roots label themselves; nodes whose
    # component collapsed entirely (self-loop-only) appear only in
    # all_nodes
    labels = cur.select(
        F.col("b").alias("node"), F.col("a").alias("component")
    )
    return all_nodes.join(labels, "node", "left").select(
        "node",
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts by degree-ordered orientation (Suri &
    Vassilvitskii, *Counting triangles and the curse of the last
    reducer*, WWW 2011) — the MapReduce-era algorithm that is STILL the
    right Spark plan, because it bounds exactly the quantity that melts
    a naive edge self-join: wedges at hub nodes.

    Input: undirected edges, any orientation, duplicates/self-loops
    tolerated (normalized away).  Each edge is re-oriented from its
    lower-(degree, id) endpoint to its higher one; every out-neighborhood
    then has O(√m) size, so the wedge join ``o ⋈ o ON u`` produces
    O(m^1.5) candidate rows TOTAL regardless of skew — a power-law hub
    with degree d contributes d wedges as the *destination* of oriented
    edges, never d² as a source (the "last reducer" fix).  A final join
    against the oriented edge set keeps wedges that close; each triangle
    is produced exactly once (orientation is a total order).  Three
    shuffles over edge-sized relations; nothing quadratic in degree.

    Returns (node, n_triangles) for every node in ≥1 triangle."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return _triangle_counts_normalized(e)


def _triangle_counts_normalized(e: DataFrame) -> DataFrame:
    """Degree-ordered triangle counts over edges ALREADY normalized to
    distinct (u < v) pairs — the r14 entry for callers that hold a
    normalized edge set (DOULION's sampled subgraph, the capped graph):
    re-running the least/greatest + distinct there re-shuffled an
    edge-sized relation per call for nothing (guide §2.4)."""
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): struct comparison gives the total order
    keyed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.struct("u", "v")
            )
            .otherwise(F.struct(F.col("v").alias("u"), F.col("u").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("lo"), F.col("o.v").alias("hi"))
    )
    o1 = keyed.select(F.col("lo").alias("u"), F.col("hi").alias("a"))
    o2 = keyed.select(F.col("lo").alias("u"), F.col("hi").alias("b"))
    wedges = o1.join(o2, "u").where(F.col("a") < F.col("b"))
    # (a, b) of a wedge are both oriented-ABOVE u but in unknown mutual
    # order, so probe the closing edge in its undirected form.  No
    # distinct (r14): keyed holds one row per unique undirected edge, so
    # the two directed copies are distinct tuples by construction — the
    # old closing.distinct() re-shuffled 2·|E| rows as a pure no-op.
    closing = keyed.select(
        F.col("lo").alias("wa"), F.col("hi").alias("wb")
    ).unionAll(keyed.select(F.col("hi").alias("wa"), F.col("lo").alias("wb")))
    tri = wedges.join(
        closing,
        (F.col("a") == F.col("wa")) & (F.col("b") == F.col("wb")),
    ).select("u", "a", "b")
    return (
        tri.select(F.explode(F.array("u", "a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


#: normalized edge sets at or under this count have their sampled
#: triangle total counted on the driver (one Arrow collect of the
#: coin-flagged edges + numpy wedge generation) instead of the
#: distributed degree-ordered wedge join — integer-exact either way.
#: 2M (long, long, bool) rows ≈ 34 MB via Arrow.
TRIANGLE_DRIVER_CLOSE_MAX_EDGES = 2_000_000

#: the edge cap alone does not bound the driver: a ~2,000-node clique
#: fits under it yet orients into ~1.3e9 wedges.  The driver twin counts
#: its oriented wedges Σ k(k−1)/2 first and hands anything above this
#: bound back to the distributed wedge join.  The wedge arrays cost
#: ~40-50 B per wedge (int64 index, key and search temporaries), so 50M
#: wedges peak near 2-2.5 GB; the full sf0.1 co-purchase graph (1.196 M
#: edges) has 41.1 M wedges at p=1, and the registered p=0.25 sample
#: far fewer.
TRIANGLE_DRIVER_CLOSE_MAX_WEDGES = 50_000_000


def _triangle_total_driver(a, b) -> int | None:
    """Exact triangle total over normalized (a < b, distinct) edges held
    as numpy int arrays — the driver twin of the degree-ordered wedge
    join: orient every edge from its lower-(degree, id) endpoint, emit
    each out-neighborhood's pairs, count the wedges whose closing edge
    exists.  Integer-exact, so identical to the distributed count.
    Returns None, before building any wedge, when the oriented wedge
    count exceeds ``TRIANGLE_DRIVER_CLOSE_MAX_WEDGES``."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = a.shape[0]
    if m == 0:
        return 0
    ia, ib = inv[:m], inv[m:]
    n = nodes.shape[0]
    deg = np.bincount(inv, minlength=n)
    # orient from lower (degree, id) to higher; index order == id order
    # because np.unique sorts, so the struct comparison matches Spark's
    swap = (deg[ib] < deg[ia]) | ((deg[ib] == deg[ia]) & (ib < ia))
    lo = np.where(swap, ib, ia)
    hi = np.where(swap, ia, ib)
    # out-adjacency grouped by lo, neighbors ascending
    order = np.lexsort((hi, lo))
    lo_s, hi_s = lo[order], hi[order]
    starts = np.flatnonzero(np.r_[True, lo_s[1:] != lo_s[:-1]])
    k = np.diff(np.r_[starts, lo_s.size])
    if int((k * (k - 1) // 2).sum()) > TRIANGLE_DRIVER_CLOSE_MAX_WEDGES:
        return None
    # wedge (x, y): each element paired with every LATER element of its
    # group — x < y holds because hi is sorted ascending within a group
    wpos = np.arange(lo_s.size, dtype=np.int64) - np.repeat(starts, k)
    krep = np.repeat(k, k)
    cnt = krep - 1 - wpos  # later elements following each position
    first = np.repeat(np.arange(lo_s.size, dtype=np.int64), cnt)
    csum = np.cumsum(cnt)
    joff = np.arange(int(csum[-1]) if cnt.size else 0, dtype=np.int64) - np.repeat(
        csum - cnt, cnt
    )
    second = first + joff + 1
    wkeys = hi_s[first].astype(np.int64) * n + hi_s[second]
    ekeys = np.sort(ia.astype(np.int64) * n + ib)
    pos = np.minimum(np.searchsorted(ekeys, wkeys), ekeys.size - 1)
    return int(np.count_nonzero(ekeys[pos] == wkeys))


def approx_triangle_total(
    edges: DataFrame,
    p: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_close_max_edges: int = TRIANGLE_DRIVER_CLOSE_MAX_EDGES,
) -> DataFrame:
    """DOULION-style approximate global triangle count (Tsourakakis,
    Kang, Miller & Faloutsos, *DOULION: counting triangles in massive
    graphs with a coin*, KDD 2009): keep each undirected edge with
    probability ``p`` via the engine's content-stable md5 coin
    (``sampling.md5_uniform`` on the normalized "a#b" key — same edge,
    same coin, any engine), count triangles EXACTLY on the sparsified
    graph with the degree-ordered wedge join, and scale by 1/p³ — an
    unbiased estimator whose wedge work shrinks ~p^1.5 relative to the
    exact count, the knob that keeps the O(m^1.5) form affordable when
    m grows 100×.  ``rel_err_bound`` is the independence-approximation
    relative standard error sqrt((1/p³−1)/T̂) (the paper's variance
    minus the shared-edge covariance term — tight for sparse overlap,
    reported so callers can judge the estimate, not trust it blindly).

    Returns one row: ``(n_edges, n_sampled, t_sampled, t_est,
    rel_err_bound)``.  With p=0.5 the scale factor is exactly 8, so
    ``t_est`` is integer-exact and SQL-oracle-able."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType

    from crick_spark.driver_close import driver_close
    from crick_spark.pipeline.sampling import md5_uniform

    if not (0.0 < p <= 1.0):
        raise ValueError(f"sampling probability p={p} outside (0, 1]")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .select(
            "a",
            "b",
            (
                md5_uniform(F.concat_ws("#", F.col("a"), F.col("b")))
                < F.lit(p)
            ).alias("s"),
        )
    )
    # driver close (guide §1.2): the sampled subgraph's EXACT count is
    # an integer, so when the normalized edge set fits the cap, the
    # whole wedge join (~12 jobs) AND both count aggregates collapse to
    # the checkpoint + count + one Arrow collect of the coin-FLAGGED
    # edges + the numpy twin.  The coin is the SAME in-plan md5
    # expression either way — the collected flags ARE the sample
    # filter's input, coin-for-coin.  Integer node ids only (the
    # orientation tie-break compares ids; numpy's sort order is only
    # guaranteed to match Spark's for numeric types).
    t_ab = e.schema["a"].dataType
    integral = t_ab == e.schema["b"].dataType and isinstance(
        t_ab, (LongType, IntegerType)
    )
    e, head = driver_close(e, driver_close_max_edges if integral else 0)
    t = None
    if head is not None:
        keep = np.flatnonzero(head.column("s").to_numpy(zero_copy_only=False))
        t = _triangle_total_driver(
            head.column("a").to_numpy(zero_copy_only=False)[keep],
            head.column("b").to_numpy(zero_copy_only=False)[keep],
        )
    if t is not None:
        s = edges.sparkSession
        t_samp = s.createDataFrame([(int(t),)], "t_sampled long")
        n_s = s.createDataFrame([(int(keep.size),)], "n_sampled long")
        n_e = s.createDataFrame([(head.num_rows,)], "n_edges long")
    else:
        # samp is a filter of the normalized+checkpointed e — already
        # distinct (u<v) pairs, so skip triangle_counts' re-normalization
        # (one edge-sized shuffle saved per call; r14)
        samp = e.where(F.col("s"))
        t_samp = (
            _triangle_counts_normalized(
                samp.select(F.col("a").alias("u"), F.col("b").alias("v"))
            )
            .agg((F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3).cast("long").alias("t_sampled"))
        )
        n_s = samp.agg(F.count("*").alias("n_sampled"))
        n_e = e.agg(F.count("*").alias("n_edges"))
    inv_p3 = 1.0 / (p**3)
    return (
        n_e.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(t_samp))
        .select(
            "n_edges",
            "n_sampled",
            "t_sampled",
            F.round(F.col("t_sampled") * F.lit(inv_p3))
            .cast("long")
            .alias("t_est"),
            F.round(
                F.sqrt(
                    F.lit(inv_p3 - 1.0)
                    / F.greatest(
                        (F.col("t_sampled") * F.lit(inv_p3)), F.lit(1.0)
                    )
                ),
                6,
            ).alias("rel_err_bound"),
        )
    )


def triangle_total_audit(
    edges: DataFrame,
    p: float = 0.5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact AND DOULION-sampled triangle totals from ONE degree-ordered
    wedge traversal (r14, VERDICT r13 #7): the estimator audit used to
    price the sparsified graph's wedge join a second time beside the
    exact count; since the sampled graph is a subgraph, the sampled
    count is derivable inside the exact traversal for free — each
    normalized edge carries its md5-coin flag (``sampling.md5_uniform``
    on the "a#b" key, the same coin as ``approx_triangle_total``)
    through orientation, and a triangle counts toward ``t_sampled`` iff
    all three of its edges are flagged.  Same O(m^1.5) bound as
    ``triangle_counts``; one traversal instead of two.

    Returns one row ``(n_edges, n_sampled, t_exact, t_sampled, t_est)``
    with ``t_est = round(t_sampled / p³)`` — integer-exact for dyadic
    ``p``, so SQL-oracle-able coin-for-coin."""
    from crick_spark.pipeline.sampling import md5_uniform

    if not (0.0 < p <= 1.0):
        raise ValueError(f"sampling probability p={p} outside (0, 1]")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .withColumn(
            "s",
            md5_uniform(F.concat_ws("#", F.col("a"), F.col("b"))) < F.lit(p),
        )
        .localCheckpoint(eager=True)  # feeds degrees, orientation, counts
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                F.struct("da", "a") < F.struct("db", "b"),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o"),
            "s",
        )
        .select(F.col("o.u").alias("lo"), F.col("o.v").alias("hi"), "s")
    )
    o1 = keyed.select(
        F.col("lo").alias("u"), F.col("hi").alias("wa"), F.col("s").alias("s1")
    )
    o2 = keyed.select(
        F.col("lo").alias("u"), F.col("hi").alias("wb"), F.col("s").alias("s2")
    )
    wedges = o1.join(o2, "u").where(F.col("wa") < F.col("wb"))
    # no distinct (r14): keyed is one row per unique undirected edge, so
    # the two directed copies are distinct (wa, wb) tuples by
    # construction — same no-op-shuffle removal as triangle_counts
    closing = (
        keyed.select(F.col("lo").alias("wa"), F.col("hi").alias("wb"), "s")
        .unionAll(
            keyed.select(F.col("hi").alias("wa"), F.col("lo").alias("wb"), "s")
        )
        .withColumnRenamed("s", "s3")
    )
    tri = wedges.join(closing, ["wa", "wb"])
    totals = tri.agg(
        F.count("*").alias("t_exact"),
        F.coalesce(
            F.sum((F.col("s1") & F.col("s2") & F.col("s3")).cast("long")),
            F.lit(0),
        ).alias("t_sampled"),
    )
    n_e = e.agg(
        F.count("*").alias("n_edges"),
        F.coalesce(F.sum(F.col("s").cast("long")), F.lit(0)).alias(
            "n_sampled"
        ),
    )
    inv_p3 = 1.0 / (p**3)
    return n_e.crossJoin(F.broadcast(totals)).select(
        "n_edges",
        "n_sampled",
        "t_exact",
        "t_sampled",
        F.round(F.col("t_sampled") * F.lit(inv_p3)).cast("long").alias("t_est"),
    )


def triangle_counts_capped(
    edges: DataFrame,
    d_max: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree-capped EXACT triangle counting (r13, VERDICT r12 #6) —
    the second scale lever beside DOULION's edge sampling
    (:func:`approx_triangle_total`): instead of thinning edges
    everywhere, bound only the quantity that makes the exact form's
    cost curve bend, the worst hub.  Every node keeps at most ``d_max``
    incident edges — chosen by the content-stable md5 coin on the
    normalized "a#b" key (same edge, same rank, any engine; ties by
    neighbor id), an edge surviving only if it ranks ≤ d_max at BOTH
    endpoints — and the triangle count on the capped graph is EXACT,
    reported beside the cap's bite.  This is the estimator-free
    trade: a hub's local count is truncated (deterministically, not
    by a coin the caller must reason about), every triangle among
    sub-cap nodes is exact, and wedge work is ≤ m·d_max instead of
    the uncapped O(m^1.5) worst case.

    Plan: explode each edge to both endpoints' incident lists, ONE
    row_number window partitioned by node (the hub's incident-edge
    sort is one task of d rows — bounded by the true max degree once,
    never quadratic), then keep edges whose WORST endpoint rank is
    ≤ d_max — each node's kept edges carry distinct ranks within its
    own list, so max capped degree ≤ d_max genuinely — and run the
    degree-ordered wedge join on the capped graph.

    Returns one row: ``(d_max, n_edges, n_capped_edges,
    max_capped_degree, t_capped)`` — fully SQL-oracle-able."""
    from pyspark.sql import Window

    from crick_spark.pipeline.sampling import md5_uniform

    d = int(d_max)
    if d < 1:
        raise ValueError(f"d_max must be >= 1, got {d}")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .withColumn(
            "coin", md5_uniform(F.concat_ws("#", F.col("a"), F.col("b")))
        )
        .localCheckpoint(eager=True)  # one edge build: ranks + census
    )
    inc = e.select(F.col("a").alias("n"), "a", "b", "coin").unionAll(
        e.select(F.col("b").alias("n"), "a", "b", "coin")
    )
    wn = Window.partitionBy("n").orderBy("coin", "a", "b")
    capped = (
        inc.withColumn("r", F.row_number().over(wn))
        .groupBy("a", "b")
        .agg(F.max("r").alias("worst"))
        .where(F.col("worst") <= d)
        .select("a", "b")
        .localCheckpoint(eager=True)  # degree census + wedge join reuse
    )
    # capped is distinct (a < b) by construction (groupBy over the
    # normalized e) — skip triangle_counts' re-normalization shuffle
    t = _triangle_counts_normalized(
        capped.select(F.col("a").alias("u"), F.col("b").alias("v"))
    ).agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3)
        .cast("long")
        .alias("t_capped")
    )
    deg = (
        capped.select(F.col("a").alias("n"))
        .unionAll(capped.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("dg"))
        .agg(F.coalesce(F.max("dg"), F.lit(0)).alias("max_capped_degree"))
    )
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(F.broadcast(capped.agg(F.count("*").alias("n_capped_edges"))))
        .crossJoin(F.broadcast(deg))
        .crossJoin(F.broadcast(t))
        .select(
            F.lit(d).cast("int").alias("d_max"),
            "n_edges",
            "n_capped_edges",
            F.col("max_capped_degree").cast("long"),
            "t_capped",
        )
    )


#: normalized edge sets at or under this count run the bounded-round
#: h-index iteration on the driver (one Arrow collect + numpy) instead
#: of rounds × (join + window + groupBy) — the CC driver-close
#: precedent one operator over.  2M 2-long rows ≈ 32 MB via Arrow,
#: bounded; the integer h-index is tie-order-invariant, so the numpy
#: result is exactly the distributed fixed-round result.
CORENESS_DRIVER_CLOSE_MAX_EDGES = 2_000_000


def _coreness_driver(a, b, rounds: int):
    """numpy twin of the distributed h-index iteration: ``a``/``b`` are
    the normalized (a < b, distinct) edge endpoints as numpy arrays.
    Returns (nodes ascending, coreness int64) after ``rounds`` steps —
    integer-exact, so identical to the Spark form at any round count."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = a.shape[0]
    # incidence: each edge contributes (u→v) and (v→u)
    ni = np.concatenate([inv[:m], inv[m:]])
    bi = np.concatenate([inv[m:], inv[:m]])
    order0 = np.argsort(ni, kind="stable")
    ns = ni[order0]
    nb = bi[order0]
    starts = np.flatnonzero(np.r_[True, ns[1:] != ns[:-1]])
    counts = np.diff(np.r_[starts, ns.size])
    # every node index appears in the incidence by construction, so the
    # grouped reductions below emit one value per node in node order
    deg = counts.astype(np.int64)
    c = deg.copy()  # c0 = degree
    # counting h-index, NO per-round sort (r15): h(v) = max{h :
    # #{u∈N(v): c(u) ≥ h} ≥ h} = Σ_{h=1..deg(v)} [suffix_count(h) ≥ h]
    # (the predicate is monotone — LHS non-increasing, RHS increasing).
    # Neighbor values clip to deg(v) (h never exceeds the degree), land
    # in per-node histogram bins of width deg(v)+1, and one global
    # cumsum + a group-corrected suffix turns the histogram into
    # suffix counts — O(m) adds per round vs the previous O(m log m)
    # radix argsort (measured ~2.5x faster at 1.2M edges).
    off = np.zeros(deg.size + 1, dtype=np.int64)
    np.cumsum(deg + 1, out=off[1:])
    off_node = off[:-1]
    pos_base = off_node[ns]
    deg_rep = deg[ns]
    flat_h = np.arange(off[-1], dtype=np.int64) - np.repeat(
        off_node, deg + 1
    )
    grp_last = np.repeat(off[1:] - 1, deg + 1)
    for _ in range(int(rounds)):
        nc = c[nb]
        bins = np.bincount(
            pos_base + np.minimum(nc, deg_rep), minlength=off[-1]
        )
        csum = np.cumsum(bins)
        suffix = csum[grp_last] - csum + bins
        c = np.add.reduceat(
            ((suffix >= flat_h) & (flat_h >= 1)).astype(np.int64),
            off_node,
        )
    return nodes, c


def coreness(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int | None = None,
    driver_close_max_edges: int = CORENESS_DRIVER_CLOSE_MAX_EDGES,
) -> DataFrame:
    """Per-node core number by bounded-round h-index iteration
    (Montresor, De Pellegrini & Miorandi, *Distributed k-core
    decomposition*, IEEE TPDS 2013): start every node at its degree and
    repeatedly replace c(v) with the H-index of its neighbors' values —
    the largest h such that ≥ h neighbors have c ≥ h.  The sequence is
    monotone non-increasing and its fixpoint is exactly the coreness,
    so a fixed ``rounds`` yields a deterministic, SQL-oracle-able upper
    bound that equals true coreness once the iteration stabilizes
    (convergence is checkable by comparing two round counts, the
    ``kcore_peel`` contract).  This is the per-node companion of
    ``kcore_peel``'s per-round census: the column a curation user joins
    against for graph-quality filtering, like ``triangle_counts``'
    per-node output.

    Per round: one equi-join of the label vector against the
    undirected edge list, one ranked window per node (sort neighbors'
    values descending; H = max over position rn of min(value, rn) —
    tie-order-invariant, so any stable engine reproduces it exactly),
    one groupBy — O(|E|) shuffle rows per round, nothing quadratic in
    degree.  The label vector is localCheckpoint-truncated every
    ``checkpoint_interval`` rounds (the PageRank knob; MEASURED at
    sf0.1 co-purchase, ~900k edges, 3 rounds: every round 10.5 s, no
    truncation 9.2 s, **every 2 rounds 7.5 s best** — a barrier per
    round serializes, none lets analysis depth grow).  ``None``
    auto-selects 2.  Returns ``(node, coreness)`` with coreness after
    ``rounds`` h-index steps.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from crick_spark.driver_close import driver_close

    if checkpoint_interval is None:
        checkpoint_interval = 2
    und0 = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # driver close (guide §1.2 — per-round cost here is pure
    # scheduling: ~16 tiny jobs at sf0.1 for 3 rounds): the normalized
    # edge set is materialized ONCE by ``driver_close`` (it feeds the
    # decision AND, over the cap, the incidence build — never a second
    # self-join of the caller's relation), then an edge set at or under
    # the cap runs the identical integer h-index iteration in numpy.
    # Long/string node ids only — everything else keeps the
    # distributed loop.
    t_a = und0.schema["a"].dataType
    driver_ok = t_a == und0.schema["b"].dataType and isinstance(
        t_a, (LongType, StringType)
    )
    und0, head = driver_close(und0, driver_close_max_edges if driver_ok else 0)
    if head is not None:
        schema = StructType(
            [StructField("node", t_a), StructField("coreness", LongType())]
        )
        if head.num_rows == 0:
            return edges.sparkSession.createDataFrame([], schema)
        nodes, c = _coreness_driver(
            head.column("a").to_numpy(zero_copy_only=False),
            head.column("b").to_numpy(zero_copy_only=False),
            rounds,
        )
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes, "coreness": c}), schema
        )
    # (r14 measured, NOT adopted: hash-repartitioning this incidence
    # list by the join key before the checkpoint — hoping each round's
    # und⨝labels join would reuse the partitioning — ran ~0.6 s SLOWER
    # at sf0.1: the checkpointed LogicalRDD's partitioning is not
    # credited by the planner, so the extra exchange bought nothing)
    und = (
        und0.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(und0.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.groupBy("node")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    nbr_c = Window.partitionBy("node").orderBy(F.desc("nc"))
    for it in range(int(rounds)):
        labels = (
            und.join(
                labels.select(F.col("node").alias("nbr"), F.col("c").alias("nc")),
                "nbr",
            )
            .select("node", "nc")
            .withColumn("rn", F.row_number().over(nbr_c))
            .groupBy("node")
            .agg(
                F.max(F.least(F.col("nc"), F.col("rn")))
                .cast("long")
                .alias("c")
            )
        )
        if (
            checkpoint_interval
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < rounds
        ):
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("c").alias("coreness"))


def kcore_peel(
    edges: DataFrame,
    k: int | None = None,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling: repeatedly drop nodes of degree < k
    and the edges they carry — the classic density filter (a node in the
    k-core survives with ≥ k neighbors that also survive), here with the
    same fixed-round determinism contract as this module's PageRank:
    ``rounds`` is part of the operator's definition, so results are
    reproducible and SQL-oracle-able by unrolling the rounds as chained
    CTEs; full convergence is visible IN the output (two equal
    consecutive rounds = fixpoint reached).

    ``k=None`` derives the threshold from the graph itself as
    ⌊2·|E| / |V|⌋ (mean degree, floored — integer arithmetic, exact in
    any engine), so one query text is meaningful across corpus sizes.

    Per round: one degree aggregate (explode endpoints → groupBy) and
    two semi-joins of the edge list against the survivor set — O(|E|)
    shuffle per round, never anything quadratic; the shrinking edge
    list is localCheckpoint-truncated per round (bounded lineage, each
    round's relation feeds three consumers).  Returns one row per round:
    (round, k, n_nodes, n_edges) of the surviving subgraph."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(rel: DataFrame) -> DataFrame:
        return (
            rel.select(F.col("a").alias("node"))
            .unionAll(rel.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    if k is None:
        row = e.agg(F.count("*").alias("ecnt")).collect()[0]
        vcnt = degrees(e).count()
        k = (2 * int(row["ecnt"])) // max(int(vcnt), 1)
    k = int(k)

    out = []
    cur = e
    for r in range(1, int(rounds) + 1):
        surv = degrees(cur).where(F.col("deg") >= k).select("node")
        cur = (
            cur.join(
                surv.withColumnRenamed("node", "a"), "a", "left_semi"
            ).join(surv.withColumnRenamed("node", "b"), "b", "left_semi")
        ).select("a", "b")
        cur = cur.localCheckpoint(eager=True)
        n_nodes = surv.count()
        n_edges = cur.count()
        out.append((r, k, n_nodes, n_edges))
    return spark.createDataFrame(
        out, "round int, k long, n_nodes long, n_edges long"
    )
