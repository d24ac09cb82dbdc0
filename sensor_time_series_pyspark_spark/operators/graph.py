"""Iterative graph algorithms over edge DataFrames (PageRank).

Complements the near-dup clustering in dedup.py (connected components,
label propagation): PageRank ranks nodes by link structure — in a
training-data pipeline the standard use is source/domain authority
scoring over a hyperlink or citation graph (a quality prior for
document filtering, cf. the Common Crawl-style pipelines in PAPERS.md).

Spark shape: the degree table and rank table are keyed by node; every
iteration is ONE shuffle join (ranks ⋈ edges on src, pre-partitioned so
successive iterations reuse the partitioning) + one aggregation on dst.
Iteration count is fixed and small (10-20); lineage is cut with
localCheckpoint every few rounds like dedup.connected_components, so
the plan does not grow unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank over a directed edge list (duplicates collapse first).

    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the standard correction, so total mass stays n_nodes (within float
    rounding) every iteration; a convergence/mass test pins this.

    Output: node, rank (normalized so ranks sum to n_nodes).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # out-degree per source; broadcast-sized graphs still go through the
    # same joins — Catalyst/AQE picks the physical strategy.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # e / nodes / deg are loop INVARIANTS joined every iteration —
    # without a persist each round re-runs the scan + distinct + degree
    # aggregate, and rounds between checkpoints nest that recompute.
    # Materializing the invariants once is what a production PageRank
    # does with its adjacency table.
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_nodes = nodes.count()

        ranks = nodes.withColumn("rank", F.lit(1.0))
        for i in range(n_iter):
            with_deg = ranks.join(
                deg, ranks["node"] == deg["src"], "left"
            ).select(
                ranks["node"], "rank", F.col("deg")
            )
            # mass from dangling nodes, spread uniformly — kept INSIDE
            # the plan as a one-row broadcast (a per-round collect()
            # would run a full extra job per iteration and force
            # lineage recompute between checkpoints; measured ~2x on
            # the whole operator)
            dangling = with_deg.where(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__m")
            )
            contribs = (
                with_deg.where(F.col("deg").isNotNull())
                .join(e, with_deg["node"] == e["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            base = (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.col("__m") / F.lit(float(n_nodes))
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        base + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        # materialize the result BEFORE releasing the loop invariants
        # (its lineage still references them when the final rounds fall
        # between checkpoints)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        # the invariants are CacheManager entries, not GC-reclaimed —
        # without this a long-lived session invoking graph operators
        # repeatedly accumulates executor memory/disk blocks
        for fr in (e, nodes, deg):
            fr.unpersist()
    return ranks


def pagerank_fixedpoint(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping_pct: int = 85,
    n_iter: int = 6,
    scale: int = 10**12,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank in EXACT integer fixed-point — the engine-portable
    twin of ``pagerank`` (round-10 promotion path for q98): ranks are
    bigints scaled by ``scale`` (default 1e12, i.e. picodecimal), the
    damping multiply is ``*damping_pct // 100``, and every per-edge
    contribution is an integer division ``rank div out_degree``. All
    sums are order-insensitive integer sums, so a fixed iteration
    count reproduces bit-identically in ANY engine — a DuckDB twin is
    just the same update unrolled (windows_signal.py:_PR_FP_SQL).

    Semantics note: the floors truncate ~1 unit per node per division
    (relative error ~n_iter/scale ≈ 6e-12 vs the float operator —
    far below any ranking-relevant gap); dangling mass redistributes
    uniformly like the float variant, also floored. Headroom: a hub's
    incoming sum is bounded by total mass n*scale; the damping
    multiply adds a factor damping_pct — keep n*scale*damping_pct
    under 2^63 (~1e8 nodes at the default scale; past that, lower
    ``scale``). Spark's bigint sum wraps silently past that bound
    while the twin's HUGEINT->BIGINT cast errors loudly — the same
    documented-headroom contract as q598.

    Output: node, rank_fp (bigint, scaled), rank (double, ONE final
    division — the only float in the pipeline).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # same loop-invariant materialization as the float pagerank
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_nodes = nodes.count()
        base = (100 - damping_pct) * scale // 100

        ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
        for i in range(n_iter):
            with_deg = ranks.join(
                deg, ranks["node"] == deg["src"], "left"
            ).select(ranks["node"], "r", F.col("deg"))
            dangling = with_deg.where(F.col("deg").isNull()).agg(
                F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("__dm")
            )
            contribs = (
                with_deg.where(F.col("deg").isNotNull())
                .join(e, with_deg["node"] == e["src"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr("r div deg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").cast("long").alias("c"))
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    F.expr(
                        f"CAST({base} AS BIGINT) + ({damping_pct}"
                        f" * (coalesce(c, CAST(0 AS BIGINT))"
                        f" + __dm div {n_nodes})) div 100"
                    ).alias("r"),
                )
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        # materialize before releasing the loop invariants (same
        # contract as pagerank)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        for fr in (e, nodes, deg):
            fr.unpersist()
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    orient: str = "degree",
) -> DataFrame:
    """Exact triangle count over an undirected graph (edge list in
    either/both directions; duplicates and self-loops collapse first).

    The classic compact-forward scheme: orient every edge from the
    "smaller" endpoint to the "larger", so each triangle is counted
    exactly once as a directed wedge a→b→c closed by a→c. Two hash
    joins on the oriented edge set — never a cross join.

    ``orient='degree'`` orders nodes by (degree, id): the join fan-out
    of a node is then bounded by O(sqrt(m)) oriented out-edges, which is
    what keeps hub nodes from exploding the wedge count at scale
    (Latapy 2008; the standard trick in GraphX/GraphFrames). On a
    power-law graph with a 10^6-degree hub, id-ordering would enumerate
    ~10^12 wedges at that hub; degree-ordering caps it at ~m.
    ``orient='id'`` skips the degree pass — fine for near-regular
    graphs, and the count is identical either way.

    Output: one row, n_triangles (long).
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    if orient == "degree":
        both = und.select("a", "b").unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keyed = (
            both.join(deg.withColumnRenamed("a", "a_"), F.col("a") == F.col("a_"))
            .drop("a_")
            .withColumnRenamed("deg", "deg_a")
            .join(deg.withColumnRenamed("a", "b_").withColumnRenamed("deg", "deg_b"),
                  F.col("b") == F.col("b_"))
            .drop("b_")
        )
        # lower (degree, id) → higher: total order, no two-cycle survives
        oriented = keyed.where(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
        ).select("a", "b")
    elif orient == "id":
        oriented = und  # already a < b
    else:
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    # the oriented edge set is consumed three times (both wedge sides +
    # the closing join) — materialize it once instead of re-running the
    # scan + distinct + degree orientation per consumer
    from pyspark import StorageLevel

    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        e1 = oriented.alias("e1")
        e2 = oriented.alias("e2")
        e3 = oriented.alias("e3")
        wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
            F.col("e1.a").alias("x"), F.col("e2.b").alias("z")
        )
        closed = wedges.join(
            e3, (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b"))
        )
        # materialize the 1-row count so the oriented edge cache can be
        # released before returning (CacheManager entries outlive the
        # call otherwise)
        out = closed.agg(F.count(F.lit(1)).alias("n_triangles")).localCheckpoint(
            eager=True
        )
    finally:
        oriented.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 5,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan 2007) over an undirected edge list: every node adopts the
    most frequent label among its neighbors each round, ties broken by
    the SMALLEST label — fully deterministic, unlike classic
    random-order LPA (same fixed-point family, reproducible runs).

    One join + two aggregates per round, all keyed on node ids —
    the connected-components shape with a frequency vote instead of a
    min. Fixed small iteration count; lineage cut by localCheckpoint
    like pagerank. Communities are label ids (a member node's id).

    Output: node, label.
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # the symmetrized edge list is a loop invariant joined every round
    # — materialize it once (same rationale as pagerank/bfs_hops)
    from pyspark import StorageLevel

    both = both.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        labels = both.select(F.col("a").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        for i in range(n_iter):
            votes = (
                both.join(labels, both["b"] == labels["node"])
                .select(both["a"].alias("node"), "label")
                .groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # most frequent neighbor label, smallest label on ties:
            # min_by over (-n, label) — one aggregate, no window sort.
            # Negating n (always a bigint count) instead of the label
            # keeps the tiebreak type-agnostic: string / date / any
            # orderable node-id type works, where -label would be an
            # ANSI cast error.
            labels = votes.groupBy("node").agg(
                F.expr("min_by(label, struct(-n, label))").alias("label")
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                labels = labels.localCheckpoint(eager=True)
        # materialize before releasing the symmetrized edge cache (the
        # final rounds' lineage references it between checkpoints)
        labels = labels.localCheckpoint(eager=True)
    finally:
        both.unpersist()
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Breadth-first hop distance from a seed set — multi-source BFS,
    the "how far is every node from the trusted core" primitive
    (influence radius, fraud-ring proximity, citation depth).

    Level-synchronous frontier expansion: round k joins the CURRENT
    frontier (nodes first reached at distance k) against the edge list
    and anti-joins the visited set, so each edge is traversed at most
    once per endpoint and per-round work shrinks as the frontier
    saturates — the standard Pregel BFS schedule expressed as DataFrame
    joins. One equi-join + one anti-join + one distinct per round, all
    keyed on node ids; lineage cut by localCheckpoint like pagerank.
    Unreached nodes are absent from the output (callers outer-join and
    fill if they need an explicit infinity).

    At scale: the visited set and frontier are both keyed on node id,
    so successive rounds reuse the shuffle partitioning; the frontier
    is the only frame that grows transiently, and it is bounded by the
    per-level reachable set, never the full edge list.

    Every level is eagerly checkpointed: any sparser cadence nests the
    between-checkpoint rounds quadratically.

    Output: node, hops (0 for seeds).
    """
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # every round joins the SAME deduplicated edge list, and without a
    # persist each round's lineage re-runs the scan + union + distinct
    # (the single most expensive stage here) — and rounds between
    # checkpoints additionally nest the previous rounds' joins, so the
    # recompute multiplied per level. Materialize the edge list once;
    # it is exactly the frame a production BFS would have as its input
    # table. (Measured on q151 at sf0.1: 54.8 s → ~2 s together with
    # the per-round frontier checkpoint below.)
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        visited = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
            "hops", F.lit(0)
        )
        frontier = visited.select("node")
        for k in range(1, max_hops + 1):
            nxt = (
                e.join(frontier, e["a"] == frontier["node"])
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(k))
            )
            # cut EVERY round's lineage: the frontier/visited frames
            # are node-grain (tiny next to the edge list), and an uncut
            # round-k plan re-executes rounds 1..k-1's joins inside
            # round k — the classic iterative-DataFrame blowup. One
            # eager localCheckpoint per level is the Pregel schedule;
            # a sparser cadence only made the nesting quadratic
            # between cuts.
            nxt = nxt.localCheckpoint(eager=True)
            visited = visited.unionByName(nxt)
            frontier = nxt.select("node")
    finally:
        # `visited` is a union of eagerly checkpointed levels + the
        # seed frame — its lineage never references the edge cache, so
        # it can be released without a final materialization
        e.unpersist()
    return visited


def kcore(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k (with their edges) until the remaining
    subgraph — the k-core — is stable. The standard graph-density
    filter (spam-farm/fraud-ring cores, dense community seeds, trust
    backbones).

    Each round is one degree aggregate + one semi join back onto the
    edge list — the edge frame only ever SHRINKS, so per-round cost
    falls monotonically; convergence is detected by comparing the
    surviving-edge count (a cheap count on the already-shrunk frame)
    and the loop exits early, with ``max_rounds`` as the lineage
    bound. localCheckpoint cuts the iterative plan like pagerank /
    connected_components.

    Every peel round is eagerly checkpointed: the convergence count
    fully evaluates each round anyway, so sparser cadences re-ran
    previous peels inside it.

    Output: (node, degree) for nodes in the k-core, with their degree
    WITHIN the core (>= k by construction).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(
            F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
        )
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und
    n_edges = cur.count()
    for i in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.where(F.col("degree") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        )
        # the convergence count below fully evaluates nxt EVERY round —
        # without a per-round cut, rounds between checkpoints re-ran
        # the previous rounds' peels inside that count (and again in
        # the next round). Checkpoint first so the count reads the
        # materialized blocks and the next round starts from them.
        nxt = nxt.localCheckpoint(eager=True)
        n_next = nxt.count()
        if n_next == n_edges:
            cur = nxt
            break
        cur, n_edges = nxt, n_next
    return (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
