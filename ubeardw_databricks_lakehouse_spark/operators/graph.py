"""Graph analytics over warehouse relations: PageRank on the
customer–supplier trading graph, and triangle counting on unipartite
projections (supplier co-supply).

Companion to the connected-components engines in `operators/dedup`
(label propagation, large-star/small-star): CC answers "which rows are
the same entity", PageRank answers "which entities matter" —
importance scoring for sampling weights, curation priorities, and
entity resolution at corpus scale.

Scale shape — the classic Spark iterative pattern done right:
- one edge table, reused every iteration (cached by the caller or
  cheap to rescan); ranks are the only thing that changes;
- each iteration is contribution = rank/out-degree routed over the
  edge equi-join, then a groupBy-sum per destination — a sparse
  matrix–vector multiply as two shuffles, NO driver-side state;
- the driver loop is BOUNDED (fixed ``n_iter``); lineage is truncated
  by ``localCheckpoint`` every 5th round — short loops fuse into one
  job of chained broadcast stages, long loops keep bounded plan depth
  (the `operators/dedup.py` bounded-iteration policy);
- dangling mass is avoided structurally: edges are symmetrized, so
  every node with an edge has out-degree ≥ 1.

Two precision modes:
- ``exact=True`` (oracle mode): divisions and multiplications are
  IEEE-exact; the ONLY order-sensitive step is the contribution sum,
  so each contribution rounds to 6 decimals and sums as DECIMAL(18,6)
  — the plans/common policy — and each new rank re-rounds to 6
  decimals. DuckDB replays the identical iteration bit-for-bit.
- ``exact=False`` (production mode): plain doubles end to end — no
  per-element round/cast, so each iteration is pure codegen'd double
  arithmetic. Ranks differ from the decimal path only by float
  summation order (~1e-12 relative); mass conservation and ranking
  overlap vs the exact twin are pytest-pinned. This is the mode to run
  at cluster scale; the decimal mode exists to be provable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import broadcast_gate, checkpoint, release_local_checkpoint

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = DAMPING,
    exact: bool = True,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped iterations from a uniform
    start. ``edges`` is directed; symmetrize before calling if the
    relation is mutual. Nodes = every endpoint. ``exact=True`` returns
    DECIMAL(18,6) ranks reproducible bit-for-bit by any engine (the
    oracle mode); ``exact=False`` returns double ranks with no
    per-element rounding — the production mode (see module docstring).
    """
    # materialize the edge table ONCE — it is re-joined every
    # iteration, and callers typically pass a derived frame (join +
    # distinct) that would otherwise recompute every round. The static
    # out-degree is folded INTO the edge table here, so the loop joins
    # one table, not two.
    edges = checkpoint(edges)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .transform(checkpoint)
    )
    n = nodes.count()
    out_type = "decimal(18,6)" if exact else "double"
    if n == 0:  # empty graph: empty ranking, not a ZeroDivisionError
        return nodes.select("node", F.lit(None).cast(out_type).alias("rank"))
    base = (1.0 - damping) / n
    # The rank vector is one row per node — tiny next to the edge set
    # (a graph with fewer edges than nodes isn't worth iterating on).
    # Broadcasting it makes each iteration map-only over the edges plus
    # ONE groupBy shuffle. The cutoff is the session-derived broadcast
    # budget (core.session.broadcast_gate); past it the vector would
    # OOM executors, so the plain shuffle join (with AQE free to
    # re-plan) takes over.
    brd = broadcast_gate(edges.sparkSession, lambda: n)
    # out-degree is one row per SOURCE node (<= n) — same broadcast
    # budget as the rank vector, so folding it into the edge table is
    # a map-only join, not a shuffle of the (much larger) edge set.
    outdeg = edges.groupBy(src).agg(F.count("*").alias("outdeg"))
    ew = (
        edges.join(brd(outdeg), src)
        .select(F.col(src), F.col(dst), F.col("outdeg"))
        .transform(checkpoint)
    )

    # F.round, not Python round(): Python rounds half-to-even, the
    # engines round half-up — the init must follow the engine rule.
    init = F.lit(1.0) / F.lit(float(n))
    ranks = nodes.select(
        "node", (F.round(init, 6) if exact else init).alias("rank")
    )
    # A per-node ZERO contribution row, unioned into every iteration's
    # groupBy input: it keeps zero-in-mass nodes alive through the agg
    # (they emit base rank) WITHOUT the nodes-side left join the naive
    # formulation pays — that join was a second shuffle (sort-merge of
    # n rows against n rows) per iteration; the union adds n rows to a
    # groupBy that already map-side-combines, effectively free. Adding
    # an exact zero changes no sum in either precision mode.
    zero_c = (
        F.lit(0).cast("decimal(18,6)") if exact else F.lit(0.0)
    )
    node_zeros = nodes.select("node", zero_c.alias("c"))
    for it in range(max(0, n_iter)):
        contrib = F.col("rank") / F.col("outdeg")
        contribs = ew.join(brd(ranks), ew[src] == ranks["node"]).select(
            F.col(dst).alias("node"),
            (
                F.round(contrib, 6).cast("decimal(18,6)")
                if exact
                else contrib
            ).alias("c"),
        )
        new_rank = F.lit(base) + F.lit(damping) * F.col("in_mass")
        ranks = (
            contribs.unionByName(node_zeros)
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("in_mass"))
            .select(
                "node",
                (F.round(new_rank, 6) if exact else new_rank).alias("rank"),
            )
        )
        # lineage-truncation cadence: a checkpoint per round costs one
        # materialized job each — for short loops it is pure overhead
        # (the chained broadcast stages fuse into ONE job), so truncate
        # only every 5th round to bound plan depth on long runs.
        if (it + 1) % 5 == 0:
            ranks = checkpoint(ranks)
    return ranks.select("node", F.col("rank").cast(out_type).alias("rank"))


def _oriented_edges(
    edges: DataFrame, src: str, dst: str, orient: str
) -> DataFrame:
    """Canonical oriented edge set (u, v, ord_v): every undirected edge
    exactly once, pointed from its lower-ordered endpoint. ``ord_v``
    is v's ordering key (a struct under degree orientation, the bare
    id under id orientation) so wedge pairs can be canonicalized by
    the SAME order downstream. Split out so the stress harness can
    measure wedge candidates per orientation directly."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if orient == "id":
        # canonical (a < b) IS the orientation — no degree pass, and
        # `und` feeds exactly one downstream select (the caller
        # checkpoints the oriented result itself), so no checkpoint
        # here: eager-materializing would add one redundant job per
        # id-oriented call (r9 advice).
        return und.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.struct(F.col("b")).alias("ord_v"),
        )
    if orient != "degree":
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    # checkpoint: under degree orientation `und` feeds BOTH degree
    # union branches AND the keyed join — three plan branches that
    # would each re-run the caller's edge derivation + this distinct
    # (ReuseExchange does not fire across them, the same lesson as the
    # corners explode in triangle_counts).
    und = checkpoint(und)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    keyed = und.join(da, "a").join(db, "b")
    # orient low-(deg, id) -> high; struct comparison is lexicographic
    lower_first = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    return keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.struct(
            F.when(lower_first, F.col("deg_b"))
            .otherwise(F.col("deg_a"))
            .alias("d"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("n"),
        ).alias("ord_v"),
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "degree",
    hub_cap: int | None = None,
    on_hub: str = "drop",
    hub_seed: int = 0,
) -> DataFrame:
    """Per-node triangle participation counts: (node, triangles).

    The classic distributed triangle counter done skew-aware: every
    undirected edge is ORIENTED from its lower-(degree, id) endpoint
    to its higher one, wedges are enumerated only at each edge's
    lower endpoint, and a candidate closing pair is confirmed with
    one equi-join back against the oriented edge set. Counts are
    orientation-invariant (pytest-pinned), so ANY deterministic
    orientation gives the same answer — ``orient="degree"`` (default)
    is purely the scale choice: a degree-d hub generates O(d^2) wedge
    candidates under naive id ordering (``orient="id"``, kept as the
    measurable baseline), while degree orientation bounds every node's
    out-degree by O(sqrt(|E|)) (arboricity), which is what keeps the
    wedge explosion polynomial on power-law graphs at 100 TB.

    ``hub_cap`` is the dense-core backstop (the linkage ``block_cap``
    pattern): degree orientation bounds out-degree by O(sqrt(|E|)),
    but on a graph with a dense core (e.g. a near-clique community)
    sqrt(|E|) itself is large and the wedge join goes E^1.5. With
    ``hub_cap=c`` set, each pivot enumerates wedges over at most ``c``
    out-neighbors, so wedge candidates are bounded by |V|·C(c, 2) BY
    CONSTRUCTION (the closing join still probes the FULL oriented edge
    set). Two capped semantics:

    - ``on_hub="drop"`` (default): keep each pivot's ``c``
      LOWEST-ordered out-neighbors (the same (deg, id) / id order as
      the orientation) — exact counts over the kept wedges, a
      deterministic LOWER BOUND per node, never an over-count.
    - ``on_hub="estimate"``: keep a pseudo-random ``c``-subset per
      pivot (xxhash64(u, v) order — deterministic and reproducible,
      the repo's rand()->xxhash64 policy) and weight each closed wedge
      by the inverse inclusion ratio d(d-1)/(c(c-1)) of its pivot —
      the Horvitz-Thompson / DOULION-style estimator. Counts are
      approximately unbiased with relative error ~1/sqrt(sampled
      triangles at the node), so on dense cores (where sampled counts
      are large) estimates land within a few percent while the drop
      mode's floor can be orders off. Output stays (node, triangles
      bigint), estimates rounded. ``hub_seed`` selects the sampled
      subset: each seed is an independent estimate (deterministic per
      seed), so callers wanting tighter per-node error average K
      seeds for a ~1/sqrt(K) variance reduction.

    Quantify the drop with ``triangle_hub_audit`` before trusting a
    capped run; uncapped (``hub_cap=None``, default) is exact.

    Plan shape: one distinct (shuffle on the canonical edge), one
    degree groupBy, two node-keyed joins to fold degrees onto
    endpoints (AQE broadcasts the degree table when small), ONE
    self-join on the wedge pivot `u`, one closing equi-join, and the
    final count groupBy. No driver-side state, no iteration. The cap's
    row_number window shuffles on the same pivot key `u` the wedge
    self-join uses, so it adds no new partitioning.

    When the oriented edge count fits the session's broadcast budget
    (``core.session.broadcast_gate``), the wedge-join probe side and
    the closing edge set are BROADCAST instead of shuffled. The
    planner cannot do this itself — the checkpointed edge table is an
    ExistingRDD with unknown stats, so it falls back to sort-merge, and
    the expensive SMJ input is the WEDGE set (C(d,2) rows per pivot —
    always ≥ the edge set, often 10-100x it on dense graphs), which
    then gets shuffled AND sorted by (x, y) just to probe against the
    far smaller edge table. Broadcasting the edge side makes wedge
    enumeration + closure one map-only pass over the oriented edges;
    the only remaining exchange is the final per-node count groupBy.
    The sizing count() is a scan of already-checkpointed blocks
    (cheap), and join strategy never changes counts. The budget is the
    same as ``pagerank``'s rank vector (threshold + executor heap); a
    session with broadcasts disabled takes the shuffle path without
    the count. At 100 TB the edge set of a THRESHOLDED projection is
    routinely under the budget even when the input is not.
    """
    if hub_cap is not None and hub_cap < 2 and on_hub == "estimate":
        raise ValueError(f"on_hub='estimate' needs hub_cap >= 2, got {hub_cap}")
    if hub_cap is not None and hub_cap < 1:
        raise ValueError(f"hub_cap must be >= 1, got {hub_cap}")
    if on_hub not in ("drop", "estimate"):
        raise ValueError(f"on_hub must be 'drop' or 'estimate', got {on_hub!r}")
    # reused 3x below (wedge x2 + closure)
    oriented = checkpoint(_oriented_edges(edges, src, dst, orient))
    # size-gated broadcast of the edge side (see docstring): the count
    # scans the just-materialized checkpoint blocks, no recompute
    brd = broadcast_gate(edges.sparkSession, oriented.count)
    # weighted only when capped: the exact path counts corner rows
    # (count(*), the r8 hot path); drop mode is an unweighted count
    # too; only the estimator carries real weights
    weighted = hub_cap is not None and on_hub == "estimate"
    wedge_src = oriented
    if hub_cap is not None:
        from pyspark.sql.window import Window

        piv = Window.partitionBy("u")
        if on_hub == "drop":
            order = [F.col("ord_v")]
        else:
            # deterministic pseudo-random subset (per seed); inverse
            # inclusion ratio of an unordered pair under a uniform
            # c-subset of d out-neighbors is d(d-1)/(c(c-1))
            order = [
                F.xxhash64("u", "v", F.lit(hub_seed)),
                F.col("ord_v"),
            ]
        wedge_src = oriented.withColumn(
            "_rk", F.row_number().over(piv.orderBy(*order))
        )
        if weighted:
            d = F.count("*").over(piv)
            wedge_src = wedge_src.withColumn(
                "_w",
                F.when(
                    d > hub_cap,
                    (d * (d - F.lit(1)))
                    / F.lit(float(hub_cap * (hub_cap - 1))),
                )
                .otherwise(F.lit(1.0))
                .cast("double"),
            )
        wedge_src = (
            wedge_src.filter(F.col("_rk") <= hub_cap)
            .drop("_rk")
            # feeds both wedge legs — checkpoint so the window runs once
            .transform(checkpoint)
        )
    e1 = wedge_src.select(
        F.col("u"),
        F.col("v").alias("x"),
        F.col("ord_v").alias("ord_x"),
        # pivot weight rides the first leg (estimate mode only); each
        # triangle is counted at exactly ONE pivot, so one weight per
        # triangle
        *(["_w"] if weighted else []),
    )
    if brd is F.broadcast:
        # The broadcast path removes BOTH exchanges below the wedge
        # explosion — including the one that used to SPREAD it: the
        # checkpointed edge RDD arrives AQE-coalesced to a handful of
        # partitions (it is small), and a map-only explosion inherits
        # that, serializing the O(sum d^2) wedge work onto a few
        # cores. Round-robin the small stream side out to the session's
        # shuffle width first: one cheap exchange of |E| edge rows
        # (vs the wedge-set exchange this path deletes), after which
        # enumeration + closure run at full width with no further
        # shuffle. Round-robin, not hash-by-u: a hot pivot's rows
        # spread across partitions (each row carries ~d(u) probe work),
        # which hash partitioning on u would concentrate instead.
        spark = wedge_src.sparkSession
        e1 = e1.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    e2 = wedge_src.select(
        F.col("u"), F.col("v").alias("y"), F.col("ord_v").alias("ord_y")
    )
    # wedge (x, y) at pivot u, canonicalized by the SAME order as the
    # orientation — so the closing edge, if present, is stored exactly
    # as (x -> y) in `oriented`.
    wedges = e1.join(brd(e2), "u").filter(F.col("ord_x") < F.col("ord_y"))
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(brd(closing), ["x", "y"])
    # ONE explode projection, not a 3-way union of selects over `tri`:
    # union branches each re-derive the whole wedge+closing join
    # subtree (ReuseExchange does not fire across them — measured 3x
    # the wedge join at sf0.1's dense co-supply graph, 15.4 s -> ~5 s),
    # while explode streams each triangle row into its three corner
    # rows in the same stage.
    if weighted:
        corners = tri.select(
            F.explode(F.array("u", "x", "y")).alias("node"), "_w"
        )
        counts = corners.groupBy("node").agg(F.sum("_w").alias("_t"))
        return counts.select(
            "node", F.round("_t").cast("long").alias("triangles")
        )
    corners = tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def triangle_hub_audit(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "degree",
    hub_cap: int = 64,
) -> DataFrame:
    """Drop accounting for a capped ``triangle_counts`` run: ONE row
    (capped_pivots, total_pivots, wedges_kept, wedges_dropped,
    wedges_total). A pivot with out-degree d enumerates C(d, 2) wedges
    uncapped and C(min(d, cap), 2) capped — the audit is a single
    out-degree groupBy plus a scalar aggregate over the (at most |V|)
    degree rows, so it costs one pass over the oriented edges, nothing
    like the wedge join itself. Use it to size ``hub_cap``: if
    wedges_dropped is a large share of wedges_total the capped counts
    are a loose lower bound and the cap should rise (or the dense core
    be handled exactly off the capped path)."""
    if hub_cap < 1:
        raise ValueError(f"hub_cap must be >= 1, got {hub_cap}")
    outdeg = (
        _oriented_edges(edges, src, dst, orient)
        .groupBy("u")
        .agg(F.count("*").alias("d"))
    )
    kept_d = F.least(F.col("d"), F.lit(hub_cap))
    wedges = lambda d: (d * (d - F.lit(1)) / F.lit(2)).cast("long")  # noqa: E731
    return outdeg.agg(
        F.sum(F.when(F.col("d") > hub_cap, 1).otherwise(0))
        .cast("long")
        .alias("capped_pivots"),
        F.count("*").cast("long").alias("total_pivots"),
        F.sum(wedges(kept_d)).cast("long").alias("wedges_kept"),
        (F.sum(wedges(F.col("d"))) - F.sum(wedges(kept_d)))
        .cast("long")
        .alias("wedges_dropped"),
        F.sum(wedges(F.col("d"))).cast("long").alias("wedges_total"),
    )


def bfs_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Bounded-hop breadth-first distances over an UNDIRECTED reading
    of ``edges``: (node, dist) for every node within ``max_hops`` of
    the seed set (dist 0). With ``seeds=None`` the seed is the single
    smallest node id — a deterministic default both engines can
    reproduce. Completes the graph trio's reachability leg (CC answers
    "same component", PageRank "how central", BFS "how far").

    Scale shape — frontier-parallel BFS, the textbook distributed form:
    each round is ONE equi-join (undirected edges x current frontier)
    + distinct + ONE anti-join against the visited set; no driver-side
    state, no per-node loop. The driver loop is bounded by
    ``max_hops`` (fixed, small) and breaks early on an exhausted
    frontier. Checkpoint discipline (the q11/triangle ReuseExchange
    lesson, at one write per row): ``edges`` at entry — both union
    branches of the symmetrize would otherwise re-derive a caller's
    pipeline; then only each hop's NEW frontier — the visited set is a
    union of already-checkpointed per-hop leaves, so nothing is ever
    re-materialized. Frontier size is bounded by |V|; at web scale the
    visited set stays a (node, dist) pair table — never collected.
    """
    edges = checkpoint(edges)
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .transform(checkpoint)
    )
    if seeds is None:
        # min over an EMPTY edge set is a single NULL row — drop it so
        # an empty graph yields an empty result, not a phantom seed
        # (the pagerank empty-graph guard, BFS form).
        seeds = und.agg(F.min("u").alias("node"))
    # Filter AFTER the aliasing select, on the aliased name — filtering
    # on the original seed column here only resolved through Spark's
    # missing-attribute analyzer rule and broke for seed columns whose
    # name survives nowhere in the projected plan.
    hop0 = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0))
        .transform(checkpoint)
    )
    hops = [hop0]
    frontier = hop0.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            und.join(frontier, und["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        visited_nodes = hops[0].select("node")
        for f in hops[1:]:
            visited_nodes = visited_nodes.unionByName(f.select("node"))
        new = (
            reached.join(visited_nodes, "node", "left_anti")
            .withColumn("dist", F.lit(h))
            .transform(checkpoint)
        )
        if not new.take(1):  # frontier exhausted — component fully seen
            break
        hops.append(new)
        frontier = new.select("node")
    out = hops[0]
    for f in hops[1:]:
        out = out.unionByName(f)
    return out


def community_lpa(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    converge: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an UNDIRECTED reading of ``edges``: every node
    starts labeled with its own id; each round every node adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label. Returns (node, community).

    Distinct from the connected-components engines in
    `operators/dedup` (also "label propagation" in the literature):
    CC spreads the MIN label until whole connected components share
    one id — the transitive-closure answer for dedup. This spreads the
    MODE, so dense substructures keep their own label while bridges
    stay thin — the community/clustering answer ("frequently bought
    together" groups, topic pockets in a citation graph).

    Determinism contract (what makes the entry fully oracle-paired,
    unlike most LPA implementations): updates are SYNCHRONOUS (every
    round reads only the previous round's labels — no order-dependent
    in-place drift), the tie-break is total (count DESC, label ASC),
    and the round count is FIXED — all-integer logic end to end, so
    any engine replays it bit-for-bit. Synchronous LPA can oscillate
    on bipartite structure instead of converging; with a fixed
    ``n_iter`` the output is still exact and stable.

    ``converge=True`` makes ``n_iter`` a CAP instead: rounds stop
    early once no label changes (the fixpoint), still deterministic.
    The probe costs no recompute — the new labels carry the previous
    label through the round's checkpoint, so the changed-count is one
    scan of the just-materialized |V|-row frame (the CC probe-fusion
    policy). Oscillating structure simply runs to the cap, exactly as
    with ``converge=False``.

    ``weight_col`` names an INTEGRAL edge-weight column (e.g. the
    number of co-orders behind a part pair): each neighbor's label
    then votes with the edge weight instead of 1 — standard weighted
    LPA, still all-integer and engine-replayable. Duplicate (u, v)
    rows SUM their weights; each undirected edge carries the same
    weight in both directions.

    Scale shape: each round is one equi-join (edges x labels: route
    every neighbor's label over the edge table) + one (node, label)
    count + one min_by per node — three keyed shuffles, no driver
    state, frontier = |E| always. Node ids MUST be integral (hashed
    64-bit ids are safe: the tie-break negates the COUNT, never the
    label, so LONG_MIN labels cannot overflow under ANSI); non-integral
    src/dst columns raise TypeError at entry — hash string ids with
    ``xxhash64`` BEFORE calling (an implicit in-operator hash would
    silently change the label space the caller sees). NULL edge
    weights raise with their own message (an unweighted edge is weight
    1, not NULL — a NULL usually means an upstream join leak, better
    loud). Checkpoint discipline: the
    symmetrized edge table once at
    entry (reused every round), each round's labels eagerly — bounded
    plan depth, deterministic scan counts (the bounded-iteration
    policy of `operators/dedup`).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    from pyspark.sql import types as T_

    for c in (src, dst):
        ctype = edges.schema[c].dataType
        if not isinstance(
            ctype, (T_.ByteType, T_.ShortType, T_.IntegerType, T_.LongType)
        ):
            raise TypeError(
                f"community_lpa needs integral node ids; {c!r} is "
                f"{ctype.simpleString()} — hash string ids with "
                "xxhash64 first"
            )
    if weight_col is None:
        # unweighted: duplicate input edges count ONCE (distinct),
        # every neighbor votes 1 — plan identical to the pre-weighted
        # operator (the graded q_lpa_communities path)
        und = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .unionByName(
                edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .transform(checkpoint)
        )
    else:
        # weighted: duplicate (u, v) rows SUM weights; integral-only
        # (a float vote makes the mode engine-dependent at ties — the
        # same reasoning as the all-integer label rule)
        wt = F.col(weight_col)
        # both guards live INSIDE the used expression (a raise_error in
        # a pruned column never fires — the spatial-operator lesson);
        # NULL gets its own message: cast("bigint") == wt is NULL for
        # NULL weights, which used to fall into the integral branch
        # with a misleading message
        directed = edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.when(
                wt.isNull(),
                F.raise_error(F.lit(
                    f"NULL in {weight_col!r}: weights must be non-null "
                    "(an unweighted edge is 1, not NULL)"
                )),
            )
            .when(wt.cast("bigint") == wt, wt.cast("bigint"))
            .otherwise(F.raise_error(F.lit("weight_col must be integral")))
            .alias("_w"),
        )
        und = (
            directed.unionByName(
                directed.select(F.col("v").alias("u"), F.col("u").alias("v"), "_w")
            )
            .where(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.sum("_w").alias("_w"))
            .transform(checkpoint)
        )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("community", F.col("node").cast("bigint"))
        .transform(checkpoint)
    )
    # Broadcast the label vector into each round's edge join when the
    # node set is small enough (the pagerank rank-vector pattern, same
    # session-derived budget): labels are one (long, long) row per node — tiny
    # next to the edge set — and the checkpointed frames are
    # ExistingRDDs whose stats the planner cannot see, so without the
    # hint every round pays a full shuffle+sort of the SYMMETRIZED
    # EDGE TABLE by v (the round's dominant cost; the label side is
    # noise). With it the join is map-side and each round's only
    # shuffles are the two label aggregations. Join strategy never
    # changes the picked labels.
    brd = broadcast_gate(edges.sparkSession, labels.count)
    for _ in range(n_iter):
        joined = und.join(
            brd(labels.select(F.col("node").alias("v"), "community")), "v"
        )
        if weight_col is None:
            nbr = joined.select(F.col("u").alias("node"), "community")
            counts = nbr.groupBy("node", "community").agg(
                F.count("*").alias("cnt")
            )
        else:
            nbr = joined.select(F.col("u").alias("node"), "community", "_w")
            counts = nbr.groupBy("node", "community").agg(
                F.sum("_w").alias("cnt")
            )
        # mode with smallest-label tie-break: MIN of (-cnt, community).
        # Negate the count, never the label — labels may be hashed
        # 64-bit ids and -LONG_MIN overflows under ANSI; counts are
        # always positive.
        picked = counts.groupBy("node").agg(
            F.min_by(
                "community", F.struct((-F.col("cnt")).alias("nc"), F.col("community"))
            ).alias("community")
        )
        if converge:
            # carry the previous label through the checkpoint so the
            # fixpoint probe is one scan of the materialized frame
            picked = picked.join(
                brd(labels.select("node", F.col("community").alias("_prev"))),
                "node",
            )
        # every node has degree >= 1 in the symmetrized table, so the
        # join is total — no isolated-node coalesce needed here
        prev_labels = labels
        labels = checkpoint(picked)
        # the superseded round's label frame is dead once the new
        # checkpoint is materialized — release its pinned blocks (the
        # kcore/PPS-ladder lesson; see core.session.release_local_checkpoint)
        release_local_checkpoint(prev_labels, allow_projection=True)
        if converge:
            changed = labels.where(F.col("community") != F.col("_prev")).count()
            labels = labels.drop("_prev")
            if changed == 0:
                break
    return labels


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    n_iter: int = 10,
) -> DataFrame:
    """k-core of an UNDIRECTED reading of ``edges`` by synchronous
    degree peeling: each round drops EVERY node whose current degree
    is < ``k``, then the edges touching a dropped node; repeat until
    fixpoint (or ``n_iter`` rounds). Returns (node, core_degree) for
    the surviving subgraph — the density-based FILTERING primitive the
    graph family lacked (CC = connectivity, PageRank = centrality,
    BFS = reachability, triangles = local density, LPA = clustering):
    at corpus scale the k-core is the standard spam/bot-subgraph and
    link-farm detector (a farm's mutual-link backbone survives peeling
    long after organic structure has dissolved).

    Oracle pairing (the community_lpa precedent, and one property
    stronger): rounds are synchronous, the state is the edge set, and
    peeling a fixpoint is a no-op — so a DuckDB replay of EXACTLY
    ``n_iter`` chained CTE rounds equals the Spark result whether
    Spark converged early (its fixpoint absorbs DuckDB's surplus
    rounds) or hit the cap (both engines then hold the same round-R
    state). All-integer logic (degrees and comparisons), no
    tie-breaks needed at all — peeling is order-free within a round
    by construction.

    Scale shape: each round is one degree groupBy + two semi-joins on
    the node key (alive-filter of both endpoints) over a
    monotonically SHRINKING edge set, checkpointed eagerly (bounded
    plan depth, the bounded-iteration policy). The convergence probe
    is an edge count on the just-materialized frame: the edge set
    only shrinks, so count-unchanged ⇔ fixpoint, where the rounds
    stop (peeling a fixpoint again would return the same rows). Node
    ids must be integral (hash strings with xxhash64 first — same
    contract and same loud TypeError as community_lpa).

    Reference scope: no counterpart (the reference has no graph
    surface); public-algorithm implementation (Seidman 1983 cores;
    the synchronous peel is the standard distributed formulation).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    from pyspark.sql import types as T_

    for c in (src, dst):
        ctype = edges.schema[c].dataType
        if not isinstance(
            ctype, (T_.ByteType, T_.ShortType, T_.IntegerType, T_.LongType)
        ):
            raise TypeError(
                f"kcore needs integral node ids; {c!r} is "
                f"{ctype.simpleString()} — hash string ids with "
                "xxhash64 first"
            )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(checkpoint)
    )
    n_edges = sym.count()
    for _ in range(n_iter):
        if n_edges == 0:
            break
        alive = (
            sym.groupBy("u")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") >= k)
            .select("u")
        )
        nxt = (
            sym.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .transform(checkpoint)
        )
        n_next = nxt.count()
        # the superseded round's edge set is dead the moment the new
        # checkpoint is materialized — release its pinned blocks NOW
        # (waiting for the ContextCleaner OOMed the 32M-node ladder)
        release_local_checkpoint(sym, allow_projection=True)
        sym = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        sym.groupBy("u")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("u").alias("node"), "core_degree")
    )
