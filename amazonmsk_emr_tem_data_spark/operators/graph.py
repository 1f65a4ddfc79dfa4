"""Iterative graph analytics over edge DataFrames (north-star).

The reference has no graph code at all (its 461 lines are Kafka/S3
driver scripts — SURVEY §0); this module fills the link-analysis gap a
training-data pipeline needs: web-graph quality signals (PageRank over
a page/domain link graph is the classic crawl-quality prior, cf.
Page et al. 1999 and Common Crawl's harmonic-centrality releases).

Design rules shared with `operators/dedup.connected_components`:

- **Integer micro-unit arithmetic.** Rank mass is carried as a long
  number of 1e-12 units. Every per-iteration reduction is then a sum
  of longs — exact, order-independent, bit-identical across engine,
  partitioning, and reduction order — so a fixed-iteration run has an
  exact unrolled-CTE SQL twin (float PageRank would drift per
  partitioning). Division is floor-division on positive longs, which
  Spark's `div`, DuckDB's `//`, and Python's `//` all agree on.
- **Driver traffic is model state only**: the node count (one long).
  Everything else stays in DataFrames.
- **Per-iteration `localCheckpoint`** truncates lineage, same as the
  big-graph CC path: state per round is (node, rank) — two longs per
  node; the normalized edge list is computed once and cached.

Scale shape per iteration: one shuffle of the (edge → contribution)
stream keyed by dst (map-side combinable), one broadcast of the 1-row
dangling-mass aggregate, one join back to the node list. At 1000
executors and a 100 TB edge list that is the same MapReduce round
GraphX/Pregel runs; skewed high-in-degree pages cost only on their own
keys (partial aggregation absorbs the fan-in map-side).
"""

from __future__ import annotations

from ..sources.files import checkpoint_stage

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Rank mass carried as units of 1e-12 (total mass == SCALE).
SCALE = 10**12


#: Damping factor d, in percent, and the fixed iteration count of both
#: PageRank variants (their SQL twins unroll the same count).
DAMPING_PCT = 85
N_ITERATIONS = 5


def _rank_rounds(
    edges: DataFrame, ranks: DataFrame, target: Column, n_targets: int
) -> DataFrame:
    """The PageRank loop shared by ``pagerank`` and
    ``personalized_pagerank``: N_ITERATIONS rounds over ``ranks``
    (``node``, ``rank_micro`` and any carried columns). Each round the
    teleport mass and the dangling mass return uniformly to the
    ``n_targets`` nodes where ``target`` holds; every other node gets
    only its in-contributions. Each round's ranks are checkpointed."""
    base = (100 - DAMPING_PCT) * SCALE // (100 * n_targets)
    out_deg = edges.groupBy("src").agg(F.sum("w_edge").alias("w_out"))
    norm_edges = edges.join(out_deg, "src").cache()
    carried = [c for c in ranks.columns if c != "rank_micro"]
    ranks = ranks.transform(checkpoint_stage)
    for _ in range(N_ITERATIONS):
        contribs = (
            norm_edges.join(ranks, norm_edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro * w_edge div w_out").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inc"))
        )
        # dangling mass: rank held by nodes with no out-edges, spread
        # over the targets. 1-row aggregate → broadcast, never a
        # driver trip.
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank_micro"), F.lit(0)).alias("dang"))
        )
        ranks = (
            ranks.select(*carried)
            .join(contribs, "node", "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                *carried,
                (
                    F.when(target, F.lit(base)).otherwise(F.lit(0))
                    + F.expr(f"{DAMPING_PCT} * coalesce(inc, 0L) div 100")
                    + F.when(
                        target,
                        F.expr(
                            f"{DAMPING_PCT} * dang div (100 * {n_targets})"
                        ),
                    ).otherwise(F.lit(0))
                ).cast("long").alias("rank_micro"),
            )
            .transform(checkpoint_stage)
        )
    return ranks


def pagerank(
    edges: DataFrame, nodes: DataFrame, id_col: str = "page"
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution, fixed
    iteration count, exact integer arithmetic, over ``(src, dst,
    w_edge)`` edges.

    Per iteration, with d = DAMPING_PCT/100 and N = |nodes|::

        contrib(u→v) = rank[u] * w(u,v) // w_out(u)
        rank'[v]     = (1-d)*SCALE // N
                       + d * Σ_in contrib // 1
                       + d * dangling_mass // N

    (all divisions floor-divisions on longs — the truncation dust is
    deterministic and identical in the SQL twin). Returns one row per
    node: ``(id_col, rank_micro: long)``.
    """
    n_nodes = nodes.count()  # bounded driver traffic: one scalar
    if n_nodes == 0:
        # empty graph (e.g. a filter matched nothing): empty result,
        # not a divide-by-zero — a poisoned slice must not kill a run
        return nodes.select(
            F.col(id_col), F.lit(0).cast("long").alias("rank_micro")
        )
    ranks = nodes.select(
        F.col(id_col).alias("node"),
        F.lit(SCALE // n_nodes).cast("long").alias("rank_micro"),
    )
    ranks = _rank_rounds(edges, ranks, F.lit(True), n_nodes)
    return ranks.select(F.col("node").alias(id_col), "rank_micro")


def kcore(
    undirected_edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
) -> DataFrame:
    """Bounded-round k-core peeling over a canonical undirected edge
    set (distinct rows with ``a < b``): repeat ``rounds`` times
    {degree in the induced subgraph → drop nodes with degree < k},
    then report every surviving node with its induced degree.

    The classic dense-community/spam-farm filter (a node is in the
    k-core iff it survives full peeling). Rounds are FIXED, not
    run-to-fixpoint, for the same reason PageRank's iterations are:
    a fixed unroll has an exact CTE-chain SQL twin, and the peel
    removes at least one node per non-converged round, so ``rounds``
    bounds convergence depth — the fixture converges well inside 8
    (pinned by the fixpoint test). At 100 TB: each round is one
    explode-degree aggregation plus two semi-joins against the node
    set — the Pregel round shape — with ``localCheckpoint`` truncating
    lineage (the node set is referenced twice per round; without
    materialization the recompute tree doubles each round).

    Returns (n, core_degree): nodes alive after ``rounds`` and their
    degree in the final induced subgraph.
    """
    # r13 (guide §2.4 — shrink the work, not just the shuffle): the
    # peel maintains the INDUCED EDGE SET across rounds instead of
    # re-filtering the full cached edge list per round. Peeling is
    # monotone (nodes_r ⊆ nodes_{r-1}), so
    # E ∩ nodes_r² = E_{r-1} ∩ nodes_r² — filtering last round's
    # survivor edges is provably identical to filtering the originals,
    # and after the first round the semi-joins and degree aggregates
    # run over the (typically >99%-smaller) surviving subgraph rather
    # than |E|. Each round's edge set is eagerly checkpointed (it
    # feeds the degree aggregate AND the next round's semi-joins);
    # the early-exit count then reads materialized partitions.
    cur = undirected_edges.select("a", "b").distinct().transform(checkpoint_stage)
    n_edges = -1
    for _round in range(rounds):
        deg = (
            cur.select(F.explode(F.array("a", "b")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        nodes = deg.filter(F.col("d") >= k).select("n")
        cur = (
            cur.join(nodes, cur["a"] == nodes["n"], "left_semi")
            .join(nodes, cur["b"] == nodes["n"], "left_semi")
            .transform(checkpoint_stage)
        )
        # Fixpoint early-exit: an unchanged edge COUNT means an
        # unchanged edge set (each round's set is a subset of the
        # previous), hence unchanged degrees, hence every remaining
        # round is the identity — same survivors as the fixed unroll
        # (the fixpoint test pins this). The count over the
        # just-checkpointed set is a materialized-partition sum
        # (~80 ms locally); starting at round 1 is net-positive now
        # that skipped rounds no longer rescan |E| but the later
        # rounds they replace are near-free too.
        if _round >= 1 and rounds - _round > 1:
            m_next = cur.count()
            if m_next == n_edges:
                break
            n_edges = m_next
    return (
        cur.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def bfs_hops(
    undirected_edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-round multi-source BFS over a canonical undirected edge
    set: every node reachable from ``seeds`` (a one-column ``n``
    DataFrame) within ``rounds`` hops, labelled with its minimum hop
    distance (seeds get 0). Rounds are FIXED, not run-to-frontier-
    empty, for the same exact-unrolled-CTE-twin reason as kcore/
    pagerank; an empty frontier makes the remaining rounds no-ops.

    Per round: one left-semi join of the frontier onto the bidirected
    edge list (neighbors), one distinct, one anti-join against the
    visited set — the Pregel frontier shape. State per round is a
    (node, dist) pair; ``localCheckpoint`` truncates the union-chain
    lineage (the visited set is referenced twice per round). At
    100 TB the frontier semi-join shuffles node IDs only, never edge
    payloads, and the visited set stays a fraction of the node list.
    """
    edges = undirected_edges.select("a", "b").distinct()
    bidir = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    # distinct() on seeds too: a duplicated seed row would ride the
    # whole union chain into the output (the anti-join only blocks
    # RE-visits, not the initial duplicates)
    dist = (
        seeds.select("n").distinct()
        .select("n", F.lit(0).cast("long").alias("dist"))
        .transform(checkpoint_stage)
    )
    frontier = dist.select("n")
    for i in range(1, rounds + 1):
        nbrs = (
            bidir.join(frontier, bidir["a"] == frontier["n"], "left_semi")
            .select(F.col("b").alias("n"))
            .distinct()
        )
        new = (
            nbrs.join(dist, "n", "left_anti")
            .select("n", F.lit(i).cast("long").alias("dist"))
            .transform(checkpoint_stage)
        )
        dist = dist.unionByName(new).transform(checkpoint_stage)
        frontier = new.select("n")
    return dist


def label_propagation(
    undirected_edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007,
    deterministic variant): labels start as node IDs; each round every
    node adopts the most frequent label among its NEIGHBORS, ties
    broken to the smallest label. Fixed rounds (not run-to-stability)
    keep the exact unrolled-CTE oracle twin, same as kcore/bfs_hops;
    synchronous updates make the result independent of partitioning
    and visit order (the async variant is famously order-dependent).

    Per round: one join of the (node, label) table onto the
    bidirected edge list keyed on the source endpoint, one
    map-side-combinable (node, label) vote count (bounded by |edges|),
    and one per-node argmax window (bounded by a node's distinct
    neighbor labels). ``localCheckpoint`` truncates the per-round
    lineage. At 100 TB each round is the same dst-keyed MapReduce
    shape as a PageRank iteration — votes combine map-side, so
    high-degree hubs cost only on their own keys.
    """
    from pyspark.sql import Window

    edges = undirected_edges.select("a", "b").distinct()
    bidir = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    labels = (
        bidir.select(F.col("a").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("lab"))
        .transform(checkpoint_stage)
    )
    w = Window.partitionBy("n").orderBy(
        F.col("c").desc(), F.col("lab").asc()
    )
    for _ in range(rounds):
        votes = (
            bidir.join(labels, bidir["a"] == labels["n"])
            .select(F.col("b").alias("n"), "lab")
            .groupBy("n", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("n", "lab")
            .transform(checkpoint_stage)
        )
    return labels


def personalized_pagerank(
    edges: DataFrame, nodes: DataFrame, seeds: DataFrame, id_col: str = "page"
) -> DataFrame:
    """Personalized PageRank (random walk with restart): identical to
    ``pagerank`` except BOTH the teleport mass and the dangling mass
    return to the SEED set (one-column ``n`` DataFrame) uniformly,
    instead of to all nodes — so rank measures proximity to the seeds,
    the item-item / trust-propagation relevance score (Haveliwala
    2002; Pixie-style recommendation candidate generation).

    Same exact-integer discipline as pagerank: mass in 1e-12 units,
    floor divisions, fixed iterations ⇒ exact unrolled-CTE twin.
    Non-seed nodes start (and teleport) at 0; an empty seed set
    returns all-zero ranks rather than dividing by zero. Per
    iteration: the dst-keyed contribution shuffle, a 1-row dangling
    aggregate, and a seed-flag join — the PageRank round shape with a
    boolean column extra."""
    n_seeds = seeds.count()  # bounded driver traffic: one scalar
    flagged = nodes.select(F.col(id_col).alias("node")).join(
        seeds.select(F.col("n").alias("node"), F.lit(True).alias("s")),
        "node",
        "left_outer",
    ).select("node", F.coalesce("s", F.lit(False)).alias("is_seed"))
    if n_seeds == 0:
        return flagged.select(
            F.col("node").alias(id_col),
            F.lit(0).cast("long").alias("rank_micro"),
            "is_seed",
        )
    ranks = flagged.select(
        "node",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank_micro"),
    )
    ranks = _rank_rounds(edges, ranks, F.col("is_seed"), n_seeds)
    return ranks.select(
        F.col("node").alias(id_col), "rank_micro", "is_seed"
    )


def per_source_harmonic(
    undirected_edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-round harmonic centrality for a BOUNDED source set:
    per-source BFS (state keyed (src, n)) for ``rounds`` hops, then
    H(s) = Σ_v 1/d(s, v) over the reached nodes — the centrality that
    handles disconnected graphs where closeness breaks (Boldi–Vigna,
    "Axioms for centrality"). The reciprocal rides the integer micro
    grid (10⁶ div d — exact, order-independent), so the per-source
    sum is hash-reproducible cross-engine.

    Rounds are FIXED for the exact unrolled-CTE twin (the bfs_hops
    rule): H is therefore the r-bounded harmonic centrality, the
    standard large-graph practice (a full-diameter sweep is a
    different algorithm — HyperBall — whose sketch the KMV/HLL tier
    already demonstrates). The SOURCE set must be bounded by the
    caller (it multiplies frontier state): per-round cost is one
    (src, n)-keyed frontier join onto the bidirected edge list
    (built once, hash-partitioned on the join key, checkpointed — so
    rounds shuffle only the frontier) + anti-join against visited —
    ≤ |sources|·|nodes| state, node IDs only, never edge payloads;
    lineage truncated per round."""
    edges = undirected_edges.select("a", "b").distinct()
    # Built once, hash-partitioned on the join key, then eagerly
    # localCheckpoint'ed: the checkpoint pins the repartitioning so
    # per-round frontier joins shuffle only the frontier side, and —
    # unlike the r10 `bidir.cache()`, which leaked into
    # session-lifetime executor storage — the blocks are freed by the
    # ContextCleaner when the result goes out of scope. (An r11
    # adjacency-LIST pre-aggregation was tried and rejected: the
    # collect_list arrays of high-degree nodes caused GC pressure and
    # measured 74-86 s vs this shape's 61-66 s at the 100x fixture.)
    bidir = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .repartition(F.col("a"))
        .transform(checkpoint_stage)
    )
    seeds = sources.select("n").distinct()
    reached = seeds.select(
        F.col("n").alias("src"), F.col("n").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).transform(checkpoint_stage)
    frontier = reached
    for t in range(1, rounds + 1):
        nxt = (
            frontier.join(bidir, frontier["node"] == bidir["a"])
            .select("src", F.col("b").alias("node"))
            .distinct()
        )
        new = nxt.join(
            reached, ["src", "node"], "left_anti"
        ).withColumn("dist", F.lit(t).cast("long"))
        reached = reached.unionByName(new).transform(checkpoint_stage)
        frontier = reached.filter(F.col("dist") == t)
    h = (
        reached.filter(F.col("dist") > 0)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(
                F.expr("CAST(1000000 AS BIGINT) div dist")
            ).alias("harmonic_micro"),
        )
    )
    # every source emits a row, reached or not (isolated sources
    # score 0 — harmonic's whole point on disconnected graphs)
    return (
        seeds.select(F.col("n").alias("src"))
        .join(h, "src", "left")
        .select(
            "src",
            F.coalesce("n_reached", F.lit(0).cast("long")).alias(
                "n_reached"
            ),
            F.coalesce(
                "harmonic_micro", F.lit(0).cast("long")
            ).alias("harmonic_micro"),
        )
    )


def hyperball_kmv(
    undirected_edges: DataFrame,
    rounds: int = 2,
    k: int = 8,
) -> DataFrame:
    """HyperBall neighborhood-function sketch (Boldi-Vigna, "In-core
    computation of geometric centralities with HyperBall", 2013) with
    KMV registers instead of HyperLogLog ones: per node, the k
    SMALLEST md5 hashes of the nodes within ``rounds`` hops. The
    register merge (bottom-k of a union) is idempotent, commutative,
    and associative, so after t rounds node v's register is EXACTLY
    bottom-k({h(w) : d(v,w) <= t}) — which is why the DuckDB twin can
    compute balls exactly (unrolled BFS) and take bottom-k, and why
    the registers are mergeable across any partitioning.

    KMV over HLL is deliberate: the k-minimum-values estimator
    (Bar-Yossef et al. 2002) n_hat = (k-1)/u_(k) is a pure integer
    expression on the engines' shared 60-bit md5 grid
    ((k-1)*2^60 div (h_k+1), exact in int64 for k <= 8), where HLL's
    harmonic-mean-of-2^-r registers needs floats. Same sketch tier as
    the KMV distinct-count queries (activity_overlap_kmv).

    Scale shape: state is <= k rows of (node, hash) per node — n*k
    longs total, never the ball itself (the whole point: exact balls
    are Theta(n^2) on dense graphs). Per round: one frontier-free
    join of the register table onto repartitioned+checkpointed EDGE
    ROWS (the per_source_harmonic shape — r12, from r11 ADVICE: the
    r11 collect_list adjacency concentrated a hub's entire
    neighborhood in one aggregation buffer and one explode task,
    exactly the GC-pressure/skew shape the harmonic A/B measured and
    rejected, 74-86s vs 61-66s at 100x; edge rows spread a hub's
    deg(v)*k register emissions across partitions), one distinct, one
    bottom-k window; lineage truncated per round. Balls smaller than
    k are reported EXACTLY (n_regs < k); the estimator only engages
    past k."""
    from pyspark.sql import Window

    from ..functions.text import md5_hash64

    edges = undirected_edges.select("a", "b").distinct()
    bidir = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    adj = (
        bidir.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .repartition("src")
        .transform(checkpoint_stage)
    )
    # r13 (guide §2.4, profiled): nodes derived from `bidir` re-ran the
    # whole edge-derivation subtree (distinct + union + upstream
    # rollup) a second time beside adj's checkpoint job. `adj` holds
    # both directions, so its src column covers every endpoint —
    # identical node set, read from the materialized partitions.
    nodes = adj.select(F.col("src").alias("node")).distinct()
    sk = nodes.select(
        "node",
        md5_hash64(
            F.concat_ws("|", F.lit("hb1"), F.col("node"))
        ).alias("h"),
    ).transform(checkpoint_stage)
    wk = Window.partitionBy("node").orderBy("h")
    for _ in range(rounds):
        nbr = (
            sk.join(adj, sk["node"] == adj["src"])
            .select(F.col("dst").alias("node"), "h")
        )
        # One exchange per round, not two (r13, guide §2.4): the former
        # distinct() exchanged on (node, h) and the bottom-k window
        # re-exchanged on node. dense_rank over the raw union gives
        # equal h equal rank, so rank <= k keeps exactly the k smallest
        # DISTINCT register values (with duplicates), and the trailing
        # dropDuplicates aggregates on (node, h) WITHOUT an exchange —
        # HashPartitioning(node) from the window satisfies the
        # (node, h) clustering (subset rule). Identical register set.
        sk = (
            sk.unionByName(nbr)
            .withColumn("rk", F.dense_rank().over(wk))
            .filter(F.col("rk") <= k)
            .select("node", "h")
            .dropDuplicates(["node", "h"])
            .transform(checkpoint_stage)
        )
    est_sat = F.expr(
        f"CAST({(k - 1) * (1 << 60)} AS BIGINT) div (kmin_max + 1)"
    )
    return (
        sk.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_regs"),
            F.max("h").alias("kmin_max"),
        )
        .select(
            "node",
            "n_regs",
            "kmin_max",
            F.when(
                F.col("n_regs") < k, F.col("n_regs").cast("long")
            ).otherwise(est_sat).alias("est_ball"),
        )
    )
