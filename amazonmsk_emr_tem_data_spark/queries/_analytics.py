"""Round-7 analytics sessions: paths, communities, k-means, survival, audits, sampling."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.graph import DAMPING_PCT, N_ITERATIONS
from ..operators.order_stats import lower_quantiles, running_sum
from ..sources.files import (
    checkpoint_stage,
    ensure_parallelism,
    load_table,
)
from ._core import (
    _EMB_DIM,
    QueryFn,
    _DISC_PRICE_CENTS_SQL,
    _cents,
    _ranked_topk,
    disc_price_cents,
)
from ._northstar import (
    _DENSE_HOURLY_CTES,
    _HASH64_SQL,
    _NORM_SQL,
    _TOKS_SQL,
    _crawl_snapshots,
    _dense_hourly_counts,
)
from ._graph_ann import (
    _BFS_EDGES_CTES,
    _KMV_DOMAIN,
    _KMV_K,
    _LANGID_PRED_CASE,
    _LANGID_SCORED_CTE,
    _kmv_est_union_sql,
    _kmv_pairs_ctes,
    _kmv_pairs_staged,
    _PAGERANK_ROUNDS_SQL,
    _rank_flow_sql,
    _repeat_copurchase_edges,
)


# ---------------------------------------------------------------------------
# round-7 session-6b: weighted shortest paths, label-propagation
# communities, rendezvous resharding, source KL, weighted sampling
# ---------------------------------------------------------------------------


#: Bellman-Ford relaxation rounds of nation_min_latency_paths and its SQL
#: twin.
_LATENCY_ROUNDS = 4


def nation_min_latency_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source weighted shortest paths over the nation logistics
    graph (r7 session-6b): edge (supplier nation → customer nation)
    carries the MINIMUM observed ship delay in days; from nation 0 a
    bounded Bellman-Ford (4 relaxation rounds) labels every reachable
    nation with its cheapest within-4-hops total latency — the
    "fastest route through the supply network" query, extending the
    unweighted BFS tier to min-plus semirings.

    The real work is edge EXTRACTION, not the path search: lineitem ⋈
    orders co-keyed on orderkey, then one custkey shuffle onto
    customer, with supplier broadcast — after which the graph
    collapses to ≤ |nations|² integer-weight rows and every
    relaxation round is a broadcast join over that tiny table. At
    100 TB the iteration costs nothing; the two fact shuffles are the
    whole bill. Delays clamp at ≥ 0 (no negative relaxation), so the
    bounded unroll is monotone; weights and distances are exact longs.
    Reference scope: extends the graph tier (SURVEY §2.4) the same
    way kcore/bfs_hops do — the reference has no graph operators."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("ship_d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("ord_d")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("src")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("dst")
    )
    delays = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "src",
            "dst",
            F.greatest(
                F.datediff("ship_d", "ord_d"), F.lit(0)
            ).cast("long").alias("delay"),
        )
    )
    edges = (
        delays.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("delay").alias("w"))
        # one eager pass extracts the <= |nations|^2 edge table; the
        # relaxation loop below references it 4x and the dist table 2x
        # per round — without the checkpoint the unroll re-runs the
        # two fact shuffles 2^rounds times
        .transform(checkpoint_stage)
    )
    dist = spark.createDataFrame(
        [(0, 0)], "n long, dist long"
    )
    for _ in range(_LATENCY_ROUNDS):
        relaxed = (
            edges.join(
                F.broadcast(dist), edges["src"] == dist["n"]
            )
            .select(
                F.col("dst").alias("n"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .transform(checkpoint_stage)
        )
    return dist.select(F.col("n").alias("nation"), "dist")


_LATENCY_EDGES_CTES = """delays AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         GREATEST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)), 0) AS delay
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
), edges AS MATERIALIZED (
  SELECT src, dst, CAST(MIN(delay) AS BIGINT) AS w
  FROM delays WHERE src <> dst GROUP BY 1, 2
)"""


_LATENCY_ROUND_CTES = "".join(
    f"""
, d{i} AS MATERIALIZED (
  SELECT n, MIN(dist) AS dist FROM (
    SELECT n, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS n, d.dist + e.w AS dist
    FROM edges e JOIN d{i - 1} d ON e.src = d.n
  ) GROUP BY 1
)"""
    for i in range(1, _LATENCY_ROUNDS + 1)
)


_LATENCY_SQL = f"""
WITH {_LATENCY_EDGES_CTES}, d0 AS MATERIALIZED (
  SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS dist
){_LATENCY_ROUND_CTES}
SELECT n AS nation, dist FROM d{_LATENCY_ROUNDS}
"""


#: Label-propagation rounds of the two community queries and their SQL
#: twins.
_LPA_ROUNDS = 4


def part_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007) over
    the repeat-co-purchase part graph (r7 session-6b): labels start as
    node IDs; each of 4 rounds every node adopts the most frequent
    label among its neighbors, ties to the SMALLEST label — the
    deterministic variant of the classic community detector. Completes
    the graph tier: PageRank (mass), k-core (density), BFS (distance),
    connected components (reachability), LPA (communities).

    Per round: one join of the label table onto the bidirected edge
    list (keyed on the source endpoint), a map-side-combinable
    (node, label) vote count, and a per-node argmax window — the vote
    table is bounded by |edges|, the window by a node's degree. Fixed
    rounds keep the exact unrolled-CTE twin (AS MATERIALIZED — DuckDB
    re-inlines each round exponentially otherwise); sync updates make
    the result partition-order-blind."""
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    ue = _repeat_copurchase_edges(li)
    return label_propagation(ue, rounds=_LPA_ROUNDS).select(
        F.col("n").alias("part"), F.col("lab").alias("community")
    )


def _lpa_round_sql(i: int) -> str:
    return f"""
, v{i} AS MATERIALIZED (
  SELECT e.b AS n, l.lab, COUNT(*) AS c
  FROM bidir e JOIN l{i - 1} l ON e.a = l.n
  GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT n, lab FROM (
    SELECT n, lab,
           row_number() OVER (PARTITION BY n
                              ORDER BY c DESC, lab ASC) AS rn
    FROM v{i}
  ) WHERE rn = 1
)"""


_LPA_SQL = f"""
WITH {_BFS_EDGES_CTES}, l0 AS MATERIALIZED (
  SELECT DISTINCT a AS n, a AS lab FROM bidir
){"".join(_lpa_round_sql(i) for i in range(1, _LPA_ROUNDS + 1))}
SELECT n AS part, lab AS community FROM l{_LPA_ROUNDS}
"""


def copurchase_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity contributions of the LPA partition
    over the repeat-co-purchase graph (round 10, r9 VERDICT ask #8 —
    the quality score that completes the graph family: PR/PPR mass,
    k-core density, BFS distance, CC reachability, LPA communities,
    triangles/clustering, and now HOW GOOD the detected communities
    are). For community c: Newman's Q_c = e_c/m − (d_c/2m)², where
    e_c = intra-community edges, d_c = member degree sum, m = |edges|;
    Σ_c Q_c is the partition's modularity (left to the consumer — a
    global float sum is summation-order-dependent, so the engine emits
    the per-community terms with their exact integer inputs instead).

    Exactness: n_nodes/degree_sum/intra_edges/m are exact longs;
    q_contrib is ONE fixed IEEE sequence — e/m (one division),
    d/(2m) (one division), its square (one multiply), one subtract —
    identical in DuckDB, so the hash matches bit-for-bit. No integer
    `div` on a possibly-negative value anywhere (Spark `div` truncates
    toward zero, DuckDB `//` floors — they disagree on negatives; the
    all-double tail avoids that cross-engine trap entirely).

    Scale: the edge list is eagerly checkpointed once (it feeds LPA,
    m, the degree count, and the intra join — 4 consumers, one
    materialization); everything after is hash joins and map-side-
    combined aggregates on node keys. The 1-row m relation broadcasts;
    output is |communities| rows."""
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = _repeat_copurchase_edges(li).transform(checkpoint_stage)
    labels = label_propagation(edges, rounds=_LPA_ROUNDS)
    m_df = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    comm = (
        labels.join(deg, "n")
        .groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    la = labels.select(F.col("n").alias("a"), F.col("lab").alias("lab_a"))
    lb = labels.select(F.col("n").alias("b"), F.col("lab").alias("lab_b"))
    intra = (
        edges.join(la, "a")
        .join(lb, "b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("__c"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    half = F.col("degree_sum") / (F.lit(2) * F.col("m"))
    return (
        comm.join(intra, comm["community"] == intra["__c"], "left_outer")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            "degree_sum",
            F.coalesce("intra_edges", F.lit(0))
            .cast("long")
            .alias("intra_edges"),
            "m",
        )
        .withColumn(
            "q_contrib",
            F.col("intra_edges") / F.col("m") - half * half,
        )
    )


_MODULARITY_SQL = f"""
WITH {_BFS_EDGES_CTES}, l0 AS MATERIALIZED (
  SELECT DISTINCT a AS n, a AS lab FROM bidir
){"".join(_lpa_round_sql(i) for i in range(1, _LPA_ROUNDS + 1))}
, mm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ue
), deg AS (
  SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM bidir GROUP BY 1
), comm AS (
  SELECT l.lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.deg) AS BIGINT) AS degree_sum
  FROM l4 l JOIN deg d ON l.n = d.n
  GROUP BY 1
), intra AS (
  SELECT la.lab AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
  FROM ue e
  JOIN l4 la ON e.a = la.n
  JOIN l4 lb ON e.b = lb.n
  WHERE la.lab = lb.lab
  GROUP BY 1
)
SELECT c.community, c.n_nodes, c.degree_sum,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       mm.m,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) / mm.m
         - (c.degree_sum / (2 * mm.m)) * (c.degree_sum / (2 * mm.m))
         AS q_contrib
FROM comm c
LEFT JOIN intra i ON c.community = i.community
CROSS JOIN mm
"""


#: Rendezvous-rebalance shard counts (old fleet size -> old + 1).
_HRW_OLD = 16


def doc_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) resharding audit (r7
    session-6b): every document hashes once per shard candidate and
    lands on its argmax (Thaler & Ravishankar 1998); growing the fleet
    from 16 to 17 shards must move ONLY the documents whose new winner
    is the added shard — ~1/17 of the corpus, vs ~16/17 under mod-N
    hashing. Output per new shard: doc count and how many arrived by
    rebalance. This is the operator behind consistent cache/storage
    assignment at 100 TB — resharding cost is the fraction moved.

    Exactness: 60-bit md5 scores are collision-free in practice and
    the argmax tie-break never fires; the whole map is projection
    expressions (array of 17 hashes, array_max + array_position), one
    map-side-combinable 17-group aggregate — no joins, no second pass
    over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import md5_hash64

    def score(s: int) -> Column:
        return md5_hash64(
            F.concat_ws(
                "|", F.lit("hrw1"), F.lit(str(s)),
                F.col("doc_id").cast("string"),
            )
        )

    arr = F.array(*[score(s) for s in range(_HRW_OLD + 1)])
    old = F.slice(arr, 1, _HRW_OLD)
    assigned = docs.select(
        (F.array_position(arr, F.array_max(arr)) - 1).alias("shard"),
        (F.array_position(old, F.array_max(old)) - 1).alias("old_shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("shard") != F.col("old_shard")).cast("long")
            ).alias("n_moved"),
        )
    )


_HRW_HASHES_SQL = ", ".join(
    _HASH64_SQL.format(
        x=f"('hrw1' || '|' || '{s}' || '|' || CAST(doc_id AS VARCHAR))"
    )
    for s in range(_HRW_OLD + 1)
)


_HRW_SQL = f"""
WITH arrs AS (
  SELECT list_value({_HRW_HASHES_SQL}) AS arr FROM documents
), assigned AS (
  SELECT CAST(list_position(arr, list_aggregate(arr, 'max')) - 1
              AS BIGINT) AS shard,
         CAST(list_position(arr[1:{_HRW_OLD}],
                            list_aggregate(arr[1:{_HRW_OLD}], 'max')) - 1
              AS BIGINT) AS old_shard
  FROM arrs
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN shard <> old_shard THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM assigned GROUP BY 1
"""


def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy / cross-entropy / KL divergence
    against the whole-corpus distribution (r7 session-6b): the
    data-mixture diagnostic that says WHICH source is
    off-distribution and by how many nats — the pairwise refinement
    of corpus_source_drift's TVD and the source-level twin of
    doc_unigram_logprob's per-doc score. KL(P_src ‖ P_corpus) =
    (1/N_src) Σ_tok s·(ln(s/N_src) − ln(c/T)).

    Determinism: both logs snap to the integer micro-nat grid before
    the s-weighted sums (order-independent longs; the module's
    determinism rule), divisions happen once at the end. Scale: two
    token-keyed map-side-combined aggregates and one join on the
    (source, token) vocabulary — vocabulary-sized relations after the
    first collapse, never token instances."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = corpus.agg(F.sum("c").alias("t"))
    per_src = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("s")
    )
    n_src = per_src.groupBy("source").agg(F.sum("s").alias("n"))
    ln_micro = lambda x: F.round(F.log(x) * F.lit(1000000.0)).cast("long")  # noqa: E731
    j = (
        per_src.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(n_src), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "s",
            F.col("n").alias("n"),
            ln_micro(
                F.col("s").cast("double") / F.col("n").cast("double")
            ).alias("ln_src"),
            ln_micro(
                F.col("c").cast("double") / F.col("t").cast("double")
            ).alias("ln_cor"),
        )
    )
    agg = j.groupBy("source").agg(
        F.max("n").alias("n_tokens"),
        F.sum(F.col("s") * F.col("ln_src")).alias("h_units"),
        F.sum(F.col("s") * F.col("ln_cor")).alias("x_units"),
    )
    denom = F.col("n_tokens").cast("double") * F.lit(1000000.0)
    return agg.select(
        "source",
        "n_tokens",
        (-F.col("h_units").cast("double") / denom).alias("entropy_nats"),
        (-F.col("x_units").cast("double") / denom).alias(
            "cross_entropy_nats"
        ),
        (
            (F.col("h_units") - F.col("x_units")).cast("double") / denom
        ).alias("kl_nats"),
    )


_SOURCE_KL_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
), corpus AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT SUM(c) AS t FROM corpus
), per_src AS (
  SELECT source, tok, COUNT(*) AS s FROM toks GROUP BY 1, 2
), n_src AS (
  SELECT source, SUM(s) AS n FROM per_src GROUP BY 1
), j AS (
  SELECT p.source, p.s, ns.n,
         CAST(round(ln(CAST(p.s AS DOUBLE) / CAST(ns.n AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS ln_src,
         CAST(round(ln(CAST(co.c AS DOUBLE) / CAST(tot.t AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS ln_cor
  FROM per_src p
  JOIN corpus co USING (tok)
  JOIN n_src ns USING (source)
  CROSS JOIN tot
), agg AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n_tokens,
         SUM(s * ln_src) AS h_units, SUM(s * ln_cor) AS x_units
  FROM j GROUP BY 1
)
SELECT source, n_tokens,
       -CAST(h_units AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)
         AS entropy_nats,
       -CAST(x_units AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)
         AS cross_entropy_nats,
       CAST(h_units - x_units AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * 1000000.0) AS kl_nats
FROM agg
"""


#: Sample size of doc_weighted_sample and its SQL twin.
_WEIGHTED_SAMPLE_K = 200


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via the
    Efraimidis-Spirakis exponential race (2006) (r7 session-6b): each
    document draws u ∈ (0,1] from its id hash and competes with key
    −ln(u)/w — the k SMALLEST keys win, selecting longer documents
    (w = n_chars) proportionally more often. The one-pass,
    shuffle-light way to draw a quality- or length-weighted training
    subsample from 100 TB: no global weight total, no prefix sums,
    mergeable across any partitioning (bottom-k of a deterministic
    per-row key compiles to TakeOrderedAndProject's per-partition
    heaps).

    Determinism: u = (h+1)/2⁶⁰ rounds h+1 to double past 2⁵³, but
    both engines perform the IDENTICAL conversion and the divisor is
    an exact power of two, so u is bit-equal; p_micro = round(−ln(u)·10⁶)
    snaps the only float to the micro-nat grid (the engines' ln agree
    far below the grid); key_micro = p_micro·10⁶ div w divides
    POSITIVE integers, where Spark's truncating div == DuckDB's floor
    // (they diverge on negatives — the reason the race runs on
    −ln(u), not ln(u)). Tie-break doc_id."""
    from ..functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    h = md5_hash64(
        F.concat_ws("|", F.lit("esw1"), F.col("doc_id").cast("string"))
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    p_micro = F.round(-F.log(u) * F.lit(1000000.0)).cast("long")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    keyed = docs.select(
        "doc_id",
        "source",
        w.alias("weight"),
        p_micro.alias("p_micro"),
    ).select(
        "doc_id",
        "source",
        "weight",
        F.expr("p_micro * 1000000 div weight").alias("key_micro"),
    )
    return keyed.orderBy(
        F.col("key_micro").asc(), F.col("doc_id").asc()
    ).limit(_WEIGHTED_SAMPLE_K)


_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         GREATEST(n_chars, 1) AS weight,
         CAST(round(-ln((
             {_HASH64_SQL.format(x="('esw1' || '|' || CAST(doc_id AS VARCHAR))")}
             + 1) / 1152921504606846976.0) * 1000000.0) AS BIGINT)
           AS p_micro
  FROM documents
)
SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
       (p_micro * 1000000) // weight AS key_micro
FROM keyed
ORDER BY key_micro ASC, doc_id ASC
LIMIT {_WEIGHTED_SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# round-7 session-6c: Lloyd k-means, Merkle bucket diff, compaction
# planning, EWMA control chart
# ---------------------------------------------------------------------------

_KMEANS_K = 8
_KMEANS_ROUNDS = 3
#: Partial rows per Lloyd round (partitions × k) above which the round
#: reduce runs as a k-row Spark aggregate instead of a driver collect.
_KMEANS_COLLECT_MAX_ROWS = 32768


def _kmeans_fit_centroids(
    emb: DataFrame, rounds: int = _KMEANS_ROUNDS
) -> list[tuple[int, list[float]]]:
    """The shared Lloyd fit: k lowest-id seeds, ``rounds`` fused Arrow
    passes, 1e-9-grid means via the fixed (s/1e9)/n division sequence
    — extracted so medoid selection consumes the EXACT fit (same
    centroids bit-for-bit) kmeans_lloyd_clusters reports on. The input
    frame should be cached by the caller (rounds+1 passes)."""
    from ..operators.clustering import lloyd_round_partials

    init = emb.orderBy("vec_id").limit(_KMEANS_K).collect()
    centroids = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(init)
    ]
    # Scale-adaptive round reduce (r14, r13 VERDICT ask #2): the Arrow
    # pass emits ≤ k partial rows (65 int64 columns) per batch. At
    # local parallelism (~32 partitions → ≤ 256 rows) collecting them
    # and reducing in Python is strictly cheaper than an extra
    # exchange+stage per round (measured: the unconditional k-row
    # aggregate read 1.96 s vs 1.64 s — pure per-round stage latency);
    # at cluster parallelism (10^5-10^6 partitions) the same collect
    # is millions of 65-long rows to the driver PER ROUND — the guide
    # §5 "driver does data work" smell. The switch derives from the
    # INPUT's physical partition count (memoized probe — not a core
    # count, so it scales with data, not with the deployment):
    # above ~4k partials-emitting partitions the reduce runs as a
    # k-row groupBy sum whose agg builds as ONE SQL string/parse and
    # whose collect is bounded at k rows of model state. int64 grid
    # sums are exact under any association, so both reduce orders —
    # and the fixed (s/1e9)/n division sequence — are bit-identical
    # (pinned by test; the oracle hash covers the collect path, the
    # forced-aggregate test covers the other).
    from ..sources.files import plan_partitions

    wide = plan_partitions(emb) * _KMEANS_K > _KMEANS_COLLECT_MAX_ROWS
    sums = ", ".join(f"sum(s{i}) AS s{i}" for i in range(_EMB_DIM))
    for _ in range(rounds):
        part = lloyd_round_partials(emb, centroids, with_grid=True)
        if wide:
            part = part.sparkSession.sql(
                f"SELECT cluster, sum(n) AS n, {sums} FROM {{part}}"
                " GROUP BY cluster",
                part=part,
            )
        acc: dict[int, list[int]] = {}
        for r in part.collect():
            a = acc.setdefault(int(r["cluster"]), [0] * (_EMB_DIM + 1))
            a[0] += r["n"]
            for i in range(_EMB_DIM):
                a[i + 1] += r[f"s{i}"]
        centroids = sorted(
            (
                cid,
                [(a[i + 1] / 1e9) / a[0] for i in range(_EMB_DIM)],
            )
            for cid, a in acc.items()
        )
    return centroids


def kmeans_lloyd_clusters(
    spark: SparkSession, sf_dir: str, rounds: int = _KMEANS_ROUNDS
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (r7 session-6c):
    k=8 centroids seeded from the 8 smallest vec_ids, 3 assignment/
    update rounds, per-cluster size + inertia out — the workhorse
    clustering that underlies IVF coarse quantizers, semantic dedup
    buckets, and topic sharding (this engine's ivf/pq ops consume
    exactly this fit).

    Architecture (the MLlib shape): centroids are MODEL STATE — k·dim
    doubles collected to the driver each round — and every round is
    ONE fused Arrow pass (operators.clustering.lloyd_round_partials):
    assignment, the 1e-6-grid inertia sum, AND the 64 1e-9-grid
    component sums the update needs come out of the same scan as ≤ k
    partial rows per batch (the standard fused Lloyd step, r9 VERDICT
    ask #5 — the old separate final assignment pass is gone; the last
    stats come from a grid-free round over the final centroids). NO
    join, no k× row blowup; the shuffle carries ≤ k·partitions rows
    of longs. The r7–r9 JVM-expression form (F.aggregate fold dots +
    64-column grid aggregate) measured 1.9–2.5 s/round at sf0.1
    because higher-order functions are CodegenFallback (interpreted);
    the Arrow round is 0.6–0.75 s at bit-identical output — see the
    operator docstring for the exactness contract.

    Exactness: d²(x,c) = x·x − 2(x·c) + c·c with every dot a
    sequential left fold (bit-identical to DuckDB list_dot_product);
    centroids ride the 1e-9 grid (the kmeans_fit convention: the
    mean is the fixed (s/1e9)/n division sequence) so the driver
    constants equal the oracle's CTE-computed centroids bit-for-bit;
    argmin ties break to the smallest cluster id; inertia snaps d² to
    the 1e-6 grid before the long sum. The oracle unrolls all three
    rounds as cross-join + argmin-window CTEs.

    The corpus is cached for the rounds+2 passes this fit makes (init
    collect, per-round fused pass, lazy final stats pass) — the
    standard iterative-ML cache, released by session/cache eviction
    (callers own cleanup, per the repo cache convention; the final
    pass still reads it when the caller materializes)."""
    from ..operators.clustering import lloyd_round_partials

    emb = ensure_parallelism(
        load_table(spark, sf_dir, "embeddings")
    ).cache()
    centroids = _kmeans_fit_centroids(emb, rounds)
    final = lloyd_round_partials(emb, centroids, with_grid=False)
    return final.groupBy("cluster").agg(
        F.sum("n").alias("n_vecs"),
        (F.sum("isum").cast("double") / F.lit(1000000.0)).alias(
            "inertia"
        ),
    )


_KM_GRID_SUMS = ", ".join(
    f"SUM(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE)"
    f" * 1000000000.0 + 0.5) AS BIGINT)) AS s{i}"
    for i in range(_EMB_DIM)
)
_KM_GRID_MEANS = ", ".join(
    f"(CAST(s{i} AS DOUBLE) / 1000000000.0) / n_vecs"
    for i in range(_EMB_DIM)
)


def _km_assign_sql(centroids: str, with_embedding: bool) -> str:
    """Nearest-centroid assignment of every embedding against the
    ``centroids`` CTE: (vec_id, [embedding,] cluster, d2) by the
    argmin window (d² ascending, ties to the lowest cluster id)."""
    emb = "embedding, " if with_embedding else ""
    e_emb = "e.embedding, " if with_embedding else ""
    return f"""
  SELECT vec_id, {emb}cluster, d2 FROM (
    SELECT e.vec_id, {e_emb}c.cluster,
           list_dot_product(CAST(e.embedding AS DOUBLE[]),
                            CAST(e.embedding AS DOUBLE[]))
             - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
             + list_dot_product(c.cvec, c.cvec) AS d2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY (list_dot_product(
                                          CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[]))
                                - 2.0 * list_dot_product(
                                          CAST(e.embedding AS DOUBLE[]),
                                          c.cvec)
                                + list_dot_product(c.cvec, c.cvec)) ASC,
                              c.cluster ASC) AS rn
    FROM embeddings e CROSS JOIN {centroids} c
  ) WHERE rn = 1
)"""


def _km_round_sql(r: int) -> str:
    """One assignment (+ argmin window) and one grid-centroid update."""
    return f"""
, a{r} AS MATERIALIZED ({_km_assign_sql(f"c{r - 1}", True)}, c{r} AS MATERIALIZED (
  SELECT cluster, n_vecs, [{_KM_GRID_MEANS}] AS cvec FROM (
    SELECT cluster, COUNT(*) AS n_vecs, {_KM_GRID_SUMS}
    FROM a{r} GROUP BY cluster
  )
)"""


def _kmeans_chain_sql(rounds: int = _KMEANS_ROUNDS, k: int = _KMEANS_K) -> str:
    """c0 → rounds → afinal (vec_id, cluster, d2): the shared prefix
    of the kmeans twin and the medoid twin."""
    return f"""
WITH c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT)
           AS cluster,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id ASC LIMIT {k})
){"".join(_km_round_sql(r) for r in range(1, rounds + 1))}
, afinal AS ({_km_assign_sql(f"c{rounds}", False)}"""


_KMEANS_SQL = _kmeans_chain_sql(_KMEANS_ROUNDS, _KMEANS_K) + """
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(round(d2 * 1000000.0) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS inertia
FROM afinal GROUP BY cluster
"""


#: Checksum buckets of table_checksum_buckets and its SQL twin.
_TCB_BUCKETS = 1024


def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style bucket-checksum table diff (r7 session-6c): both
    snapshots fold each row to a 60-bit hash of (doc_id, content
    fingerprint), XOR the hashes per doc_id-bucket, and compare ONLY
    the 1024 bucket digests — the anti-entropy triage that tells a
    100 TB replica sync WHICH 1/1024th slices differ before any
    row-level work (row-level repair then runs corpus_snapshot_diff on
    just those buckets). Snapshots derive from the fixture by the
    corpus_snapshot_diff rule (doc_id %20 absent-old, %19 absent-new,
    %7 edited, %11 whitespace-only).

    XOR is the right fold: order-independent, overflow-free (a long
    SUM would hit Spark's ANSI overflow at scale), and incremental — a
    row update patches the digest with two XORs, no bucket rescan.
    Emits every bucket with both digests, row counts, and the differs
    flag, so matching buckets double as the audit trail.

    Scale: each side is one map-side-combinable 1024-group aggregate
    over (doc_id, fp) — the shuffle carries 1024 digests, never rows —
    and the final join is 1024×1024-row trivial."""
    from ..functions.text import fingerprint, md5_hash64

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def digest(side: DataFrame, fp_text: Column) -> DataFrame:
        h = md5_hash64(
            F.concat_ws(
                "|",
                F.lit("tcb1"),
                F.col("doc_id").cast("string"),
                F.coalesce(fp_text, F.lit("null")),
            )
        )
        return (
            side.select(
                (F.col("doc_id") % _TCB_BUCKETS).alias("bucket"),
                h.alias("h"),
            )
            .groupBy("bucket")
            .agg(
                F.bit_xor("h").alias("digest"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
        )

    old_docs, new_docs = _crawl_snapshots(docs)
    old = digest(old_docs, fingerprint("text"))
    new = digest(new_docs, fingerprint("text"))
    o = old.select(
        "bucket",
        F.col("digest").alias("digest_old"),
        F.col("n_rows").alias("n_old"),
    )
    n = new.select(
        "bucket",
        F.col("digest").alias("digest_new"),
        F.col("n_rows").alias("n_new"),
    )
    return o.join(n, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        "digest_old",
        "digest_new",
        (
            ~(F.col("digest_old").eqNullSafe(F.col("digest_new")))
        ).alias("differs"),
    )


_TCB_FP = f"md5({_NORM_SQL})"
_TCB_H = _HASH64_SQL.format(
    x=f"('tcb1' || '|' || CAST(doc_id AS VARCHAR) || '|' "
    f"|| COALESCE({_TCB_FP}, 'null'))"
)

_TABLE_CHECKSUM_SQL = f"""
WITH old_side AS (
  SELECT doc_id % {_TCB_BUCKETS} AS bucket, {_TCB_H} AS h
  FROM documents WHERE doc_id % 20 <> 0
), new_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
              WHEN doc_id % 11 = 0 THEN text || '  '
              ELSE text END AS text
  FROM documents WHERE doc_id % 19 <> 0
), new_side AS (
  SELECT doc_id % {_TCB_BUCKETS} AS bucket, {_TCB_H} AS h FROM new_docs
), o AS (
  SELECT bucket, bit_xor(h) AS digest_old,
         CAST(COUNT(*) AS BIGINT) AS n_old
  FROM old_side GROUP BY 1
), n AS (
  SELECT bucket, bit_xor(h) AS digest_new,
         CAST(COUNT(*) AS BIGINT) AS n_new
  FROM new_side GROUP BY 1
)
SELECT COALESCE(o.bucket, n.bucket) AS bucket,
       COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
       digest_old, digest_new,
       NOT (digest_old IS NOT DISTINCT FROM digest_new) AS differs
FROM o FULL OUTER JOIN n ON o.bucket = n.bucket
"""


#: Target bin size of shard_compaction_plan and its SQL twin.
_COMPACTION_TARGET_BYTES = 16384


def shard_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (r7 session-6c): simulated input
    files (doc_id % 199 shards, size = summed n_chars) are packed into
    merged outputs of ~target size by the streaming-compactor rule —
    order files by (size DESC, id), running byte total, output bin =
    prior-cumsum div target. The table-maintenance operator every
    parquet lake needs: 100 TB of drip-fed small files read at
    open()-latency speed until compacted. Emits the bin manifest:
    file count, byte total, and the id range each merged file covers.

    Exactness: pure integer cumsum over a total (size, shard) order.
    Scale: the plan runs on file METADATA (one row per file — listing
    a 100 TB lake is ~10⁶ rows), so the single-partition cumsum window
    is metadata-bounded; the actual rewrite jobs it emits are
    embarrassingly parallel per bin. The %199 shard simulation stands
    in for a real file listing (same shape the zorder/hilbert audits
    use for layout)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    files = docs.groupBy(
        (F.col("doc_id") % 199).alias("file_id")
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))
    w = (
        Window.orderBy(F.col("bytes").desc(), F.col("file_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.select(
        "file_id",
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("cum_before"),
    ).select(
        "file_id",
        "bytes",
        F.expr(f"cum_before div {_COMPACTION_TARGET_BYTES}").cast("long").alias("bin"),
    )
    return planned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min("file_id").cast("long").alias("first_file"),
        F.max("file_id").cast("long").alias("last_file"),
    )


_COMPACTION_SQL = f"""
WITH files AS (
  SELECT doc_id % 199 AS file_id, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1
), planned AS (
  SELECT file_id, bytes,
         (CAST(SUM(bytes) OVER (ORDER BY bytes DESC, file_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - bytes) // {_COMPACTION_TARGET_BYTES} AS bin
  FROM files
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(file_id) AS BIGINT) AS first_file,
       CAST(MAX(file_id) AS BIGINT) AS last_file
FROM planned GROUP BY 1
"""


def event_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the dense per-type hourly grid (r7
    session-6c): an 8-lag truncated exponential smoother (weights
    2⁷…2⁰ over lags 0…7 — halving per hour) tracks each event type's
    arrival rate; hours where the raw count exceeds 2× the smoothed
    level are flagged — the FAST-reacting companion to
    event_rate_spikes' 24 h mean (which needs hours of drift to move)
    and event_cusum_changepoint's slow accumulation. The Roberts
    (1959) EWMA chart, truncated to a fixed FIR so every value is an
    exact integer ratio.

    Exactness: num = Σ 2^(7−j)·cnt₍ₜ₋ⱼ₎ and den = Σ 2^(7−j) over the
    lags that EXIST (the series head uses partial weights, not
    zero-padding) are exact longs from 8 lag() reads; the flag
    compares cnt·den > 2·num in integers; ewma itself is the one
    final IEEE division. Zero-filled grid hours keep silent sources
    visible.

    Scale: one sort per (event_type) window partition — partitions
    are calendar-bounded (_dense_hourly_counts' contract), the same
    shape the spike monitor already pays; no joins."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lags = [F.lag("cnt", j).over(w) for j in range(8)]
    num = reduce(
        lambda a, b: a + b,
        [
            F.coalesce(lags[j], F.lit(0)).cast("long")
            * F.lit(1 << (7 - j))
            for j in range(8)
        ],
    )
    den = reduce(
        lambda a, b: a + b,
        [
            F.when(lags[j].isNotNull(), F.lit(1 << (7 - j)))
            .otherwise(F.lit(0))
            .cast("long")
            for j in range(8)
        ],
    )
    out = _dense_hourly_counts(ev).select(
        "event_type",
        "h",
        "cnt",
        num.alias("num_units"),
        den.alias("den_units"),
    )
    return out.select(
        "event_type",
        "h",
        "cnt",
        "num_units",
        "den_units",
        (
            F.col("num_units").cast("double")
            / F.col("den_units").cast("double")
        ).alias("ewma"),
        (
            F.col("cnt") * F.col("den_units")
            > F.lit(2) * F.col("num_units")
        ).alias("is_high"),
    )


_EWMA_LAG_NUM = " + ".join(
    f"COALESCE(lag(cnt, {j}) OVER w, 0) * {1 << (7 - j)}"
    for j in range(8)
)
_EWMA_LAG_DEN = " + ".join(
    f"(CASE WHEN lag(cnt, {j}) OVER w IS NOT NULL"
    f" THEN {1 << (7 - j)} ELSE 0 END)"
    for j in range(8)
)

_EWMA_SQL = f"""
WITH {_DENSE_HOURLY_CTES}, chart AS (
  SELECT event_type, h, cnt,
         CAST({_EWMA_LAG_NUM} AS BIGINT) AS num_units,
         CAST({_EWMA_LAG_DEN} AS BIGINT) AS den_units
  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)
)
SELECT event_type, h, cnt, num_units, den_units,
       CAST(num_units AS DOUBLE) / CAST(den_units AS DOUBLE) AS ewma,
       cnt * den_units > 2 * num_units AS is_high
FROM chart
"""


# ---------------------------------------------------------------------------
# round-7 session-6d: Kaplan-Meier survival, bitmap DAU/WAU, cohort
# LTV curves, streaming seasonal baseline
# ---------------------------------------------------------------------------


def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of repeat-purchase latency per market
    segment (r7 session-6d): the product-limit estimator (Kaplan &
    Meier 1958) over days from a customer's FIRST order to their
    SECOND — one-order customers are right-censored at the dataset's
    last order date. The churn-analysis primitive: "what fraction of
    a segment hasn't repurchased by day t", correctly using customers
    who simply haven't had time yet (a naive repeat-rate conflates
    them with churn).

    Exactness — no exp(), no float products: survival is emitted as
    log-survival in integer micro-nats, log S(t) = Σ_{t_k ≤ t}
    round(ln((n_k−d_k)/n_k)·10⁶) — each term snaps to the grid before
    the cumulative long sum (the micro-nat convention); when a risk
    set is wiped out (d = n) survival is exactly 0 and log_surv_micro
    goes NULL from that day on (flagged). Risk sets are exact
    integers from one cumulative window.

    Scale: ONE custkey-keyed window pass whose rn ≤ 2 survivors pivot
    to (first, second) dates in the same-keyed aggregate, one
    broadcast of the 1-row max-date, a (segment, day)-grouped
    aggregate whose Σ(d+c) also yields the segment totals (no second
    pass over the joined spans), and a per-segment cumulative window
    over ≤ |days| rows — the order table never joins itself."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od"), "o_orderkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("od").asc(), F.col("o_orderkey").asc()
    )
    # one window pass + one custkey aggregate pivots the first and
    # second order dates out together (the firsts/seconds filter+join
    # formulation scanned the ranked relation twice and re-joined it)
    ranked = orders.withColumn("rn", F.row_number().over(w))
    both = (
        ranked.filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("od"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("od"))).alias("d2"),
        )
    )
    maxd = orders.agg(F.max("od").alias("dmax"))
    spans = both.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        )
        .otherwise(F.datediff("dmax", "d1"))
        .cast("long")
        .alias("dur"),
        F.col("d2").isNotNull().cast("long").alias("event"),
    )
    seg = spans.join(
        cust, spans["o_custkey"] == cust["c_custkey"]
    ).select(F.col("c_mktsegment").alias("segment"), "dur", "event")
    daily = seg.groupBy("segment", "dur").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("event")).cast("long").alias("c"),
    )
    # segment totals fall out of the daily table (Σ d+c) — no second
    # pass over the joined span relation
    totals = daily.groupBy("segment").agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("n_total")
    )
    ww = Window.partitionBy("segment").orderBy("dur")
    prior = (
        F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(
                ww.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).cast("long")
    staged = (
        daily.join(F.broadcast(totals), "segment")
        .select(
            "segment",
            "dur",
            "d",
            "c",
            (F.col("n_total") - prior).alias("n_risk"),
        )
    )
    term = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1000000.0)
        ).cast("long"),
    )
    flagged = staged.select(
        "segment",
        "dur",
        "d",
        "c",
        "n_risk",
        F.max((F.col("d") >= F.col("n_risk")).cast("int"))
        .over(ww.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("wiped"),
        F.sum(term)
        .over(ww.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_term"),
    )
    return flagged.select(
        "segment",
        "dur",
        "d",
        "c",
        "n_risk",
        (F.col("wiped") == 1).alias("survival_zero"),
        F.when(F.col("wiped") == 0, F.col("cum_term"))
        .cast("long")
        .alias("log_surv_micro"),
    )


_KM_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE) ASC,
                                     o_orderkey ASC) AS rn
  FROM orders
), firsts AS (
  SELECT o_custkey, od AS d1 FROM o WHERE rn = 1
), seconds AS (
  SELECT o_custkey, od AS d2 FROM o WHERE rn = 2
), maxd AS (
  SELECT MAX(od) AS dmax FROM o
), spans AS (
  SELECT f.o_custkey,
         CAST(CASE WHEN s.d2 IS NOT NULL
                   THEN date_diff('day', f.d1, s.d2)
                   ELSE date_diff('day', f.d1, m.dmax) END AS BIGINT)
           AS dur,
         CAST(CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS event
  FROM firsts f LEFT JOIN seconds s USING (o_custkey) CROSS JOIN maxd m
), seg AS (
  SELECT c.c_mktsegment AS segment, sp.dur, sp.event
  FROM spans sp JOIN customer c ON sp.o_custkey = c.c_custkey
), daily AS (
  SELECT segment, dur, CAST(SUM(event) AS BIGINT) AS d,
         CAST(SUM(1 - event) AS BIGINT) AS c
  FROM seg GROUP BY 1, 2
), totals AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_total FROM seg GROUP BY 1
), staged AS (
  SELECT daily.segment, dur, d, c,
         n_total - CAST(COALESCE(SUM(d + c) OVER (
             PARTITION BY daily.segment ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM daily JOIN totals ON daily.segment = totals.segment
), flagged AS (
  SELECT segment, dur, d, c, n_risk,
         MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w AS wiped,
         SUM(CASE WHEN n_risk > d THEN
               CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                            / CAST(n_risk AS DOUBLE)) * 1000000.0)
                    AS BIGINT) END) OVER w AS cum_term
  FROM staged
  WINDOW w AS (PARTITION BY segment ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT segment, dur, d, c, n_risk,
       wiped = 1 AS survival_zero,
       CAST(CASE WHEN wiped = 0 THEN cum_term END AS BIGINT)
         AS log_surv_micro
FROM flagged
"""


def user_activity_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index DAU / WAU / stickiness (r7 session-6d): user
    presence per day is packed into 63-bit bucket bitmaps (bucket =
    user_id div 63, bit = user_id mod 63 — bit 63 stays clear because
    DuckDB rejects 1::BIGINT << 63 as signed overflow), daily actives are popcounts,
    and weekly actives are popcounts of the trailing-7-day bitmap OR —
    the roaring-bitmap/groupBitmap pattern that turns COUNT(DISTINCT)
    retention math into bitwise set algebra with |users|/64 longs of
    state per day. Stickiness (DAU/WAU) comes out in truncated ppm.

    Exactness: everything is integer bit manipulation — bit_or is
    order-independent and mergeable, popcount is exact; the trailing
    OR runs on a DENSE (bucket × day) grid (a bucket silent today must
    still contribute its last week to WAU — the sparse-row bug this
    grid exists to kill). Scale: one (bucket, day) shuffle with
    map-side bit_or combine; the grid and windows are
    |users|/64 × |days| — bitmap-sized, never event-sized."""
    # user_id >= 0: Spark's div/pmod and DuckDB's /// % disagree on
    # negatives (truncate vs floor; DuckDB errors on a negative shift
    # count) — the filter makes both sides' semantics identical instead
    # of relying on the fixture never going negative
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & (F.col("user_id") >= 0)
    )
    days = ev.select(
        F.datediff(
            F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("day_num"),
        F.expr("user_id div 63").cast("long").alias("bucket"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 63) AS INT))"
        ).alias("bit"),
    )
    bm = days.groupBy("bucket", "day_num").agg(
        F.bit_or("bit").alias("bm")
    )
    grid = (
        bm.select("bucket")
        .distinct()
        .crossJoin(bm.select("day_num").distinct())
    )
    dense = grid.join(bm, ["bucket", "day_num"], "left").select(
        "bucket",
        "day_num",
        F.coalesce("bm", F.lit(0)).cast("long").alias("bm"),
    )
    w7 = (
        Window.partitionBy("bucket")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    rolled = dense.select(
        "bucket",
        "day_num",
        F.bit_count("bm").cast("long").alias("dau_bits"),
        F.bit_count(F.bit_or("bm").over(w7)).cast("long").alias(
            "wau_bits"
        ),
    )
    agg = rolled.groupBy("day_num").agg(
        F.sum("dau_bits").cast("long").alias("dau"),
        F.sum("wau_bits").cast("long").alias("wau"),
    )
    return agg.select(
        "day_num",
        "dau",
        "wau",
        F.when(
            F.col("wau") > 0,
            F.expr("dau * CAST(1000000 AS BIGINT) div wau"),
        ).alias("stickiness_ppm"),
    )


_BITMAP_SQL = """
WITH pres AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day_num,
         CAST(user_id // 63 AS BIGINT) AS bucket,
         (CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS bit
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND user_id >= 0
), bm AS (
  SELECT bucket, day_num, bit_or(bit) AS bm FROM pres GROUP BY 1, 2
), grid AS (
  SELECT b.bucket, d.day_num
  FROM (SELECT DISTINCT bucket FROM bm) b
  CROSS JOIN (SELECT DISTINCT day_num FROM bm) d
), dense AS (
  SELECT grid.bucket, grid.day_num,
         CAST(COALESCE(bm.bm, 0) AS BIGINT) AS bm
  FROM grid LEFT JOIN bm
    ON grid.bucket = bm.bucket AND grid.day_num = bm.day_num
), rolled AS (
  SELECT bucket, day_num,
         CAST(bit_count(bm) AS BIGINT) AS dau_bits,
         CAST(bit_count(bit_or(bm) OVER (
             PARTITION BY bucket ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS BIGINT)
           AS wau_bits
  FROM dense
), agg AS (
  SELECT day_num, CAST(SUM(dau_bits) AS BIGINT) AS dau,
         CAST(SUM(wau_bits) AS BIGINT) AS wau
  FROM rolled GROUP BY 1
)
SELECT day_num, dau, wau,
       CASE WHEN wau > 0
            THEN (dau * CAST(1000000 AS BIGINT)) // wau END
         AS stickiness_ppm
FROM agg
"""


def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves (r7 session-6d): customers cohort
    by the month of their FIRST order; each cohort's cumulative
    revenue unrolls by month offset — the LTV panel behind payback
    and retention economics, complementing retention_cohorts' user
    counts with money. Months index as y·12+m (exact integer), cents
    grid, one cumulative window per cohort over ≤ |months| rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("long").alias("om"),
        _cents("o_totalprice").alias("rev_cents"),
    )
    w = Window.partitionBy("o_custkey")
    cohorted = orders.withColumn("cohort_m", F.min("om").over(w))
    monthly = cohorted.groupBy(
        "cohort_m", (F.col("om") - F.col("cohort_m")).alias("age")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("rev_cents").alias("rev_cents"),
    )
    wc = (
        Window.partitionBy("cohort_m")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "cohort_m",
        "age",
        "n_orders",
        (
            F.sum("rev_cents").over(wc).cast("double") / F.lit(100.0)
        ).alias("cum_revenue"),
    )


_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS om,
         CAST(round(o_totalprice * 100) AS BIGINT) AS rev_cents
  FROM orders
), cohorted AS (
  SELECT *, MIN(om) OVER (PARTITION BY o_custkey) AS cohort_m FROM o
), monthly AS (
  SELECT cohort_m, om - cohort_m AS age,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(rev_cents) AS rev_cents
  FROM cohorted GROUP BY 1, 2
)
SELECT cohort_m, age, n_orders,
       CAST(CAST(SUM(rev_cents) OVER (
           PARTITION BY cohort_m ORDER BY age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS DOUBLE) / 100.0 AS cum_revenue
FROM monthly
"""


def stream_seasonal_baseline_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the seasonal-anomaly baseline: the
    (event_type, hour-of-day) integer moment table — count, cent sum,
    cent sum-of-squares — kept current by a complete-mode aggregation.
    All three moments are algebraic (plain long sums), so the drained
    state is IDENTICAL to the batch-computed table however ingest was
    micro-batched; event_seasonal_anomaly is exactly this table's
    consumer. See streaming/pipelines.stream_seasonal_baseline."""
    from ..streaming.pipelines import stream_seasonal_baseline

    return stream_seasonal_baseline(spark, sf_dir)


_STREAM_SEASONAL_SQL = """
SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)
                * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss
FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# round-7 session-6e: k-anonymity audit, clamped inventory balance,
# weighted median, top-k with ties
# ---------------------------------------------------------------------------


#: Class size below which customer_k_anonymity (and its SQL twin)
#: flags a quasi-identifier class.
_K_ANON_K = 5


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table (r7 session-6e): under
    the quasi-identifier tuple (nation, market segment, account-balance
    hundred-bucket) every equivalence class smaller than k re-identifies
    its members (Sweeney 2002) — the privacy gate a dataset passes
    BEFORE export/sharing. Emits every class with its size, the
    violation flag, and the share of the table each class puts at risk
    (exact ppm) — the suppression/generalization worklist.

    Exactness: the balance bucket floor-divides cents by 10000 (floor,
    not truncation — negative balances must bucket downward like
    everything else on the grid); shares are integer ppm. Scale: ONE
    map-side-combinable aggregate over the quasi-identifier tuple plus
    a 1-row broadcast total — the audit costs a single scan at any
    table size."""
    cust = load_table(spark, sf_dir, "customer")
    bucket = F.floor(
        _cents("c_acctbal").cast("double") / F.lit(10000.0)
    ).cast("long")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            bucket.alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    )
    total = cust.agg(F.count(F.lit(1)).alias("n_total"))
    return classes.crossJoin(F.broadcast(total)).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_bucket",
        "class_size",
        (F.col("class_size") < _K_ANON_K).alias("violates_k"),
        F.expr(
            "class_size * CAST(1000000 AS BIGINT) div n_total"
        ).alias("share_ppm"),
    )


_K_ANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
                    / 10000.0) AS BIGINT) AS bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer GROUP BY 1, 2, 3
), tot AS (
  SELECT COUNT(*) AS n_total FROM customer
)
SELECT c_nationkey, c_mktsegment, bal_bucket, class_size,
       class_size < {_K_ANON_K} AS violates_k,
       (class_size * CAST(1000000 AS BIGINT)) // n_total AS share_ppm
FROM classes CROSS JOIN tot
"""


def part_stock_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running inventory balance per part (r7 session-6e):
    returned lineitems restock (+qty), everything else draws (−qty),
    and the balance can never go below zero — the classic
    NON-associative running reset that a plain cumulative sum cannot
    express. Solved with the two-window identity
    b_t = S_t − least(0, min_{k≤t} S_k): one cumulative sum and one
    cumulative min over the same (shipdate, orderkey, linenumber)
    total order replace the sequential fold, so the clamp runs as two
    ordinary distributed windows (the same trick implements capped
    counters and drawdown). Emits each part's final balance, total
    draws/restocks, and how many draw events hit an empty shelf.

    Exactness: quantities ride the centi-unit grid (×100 longs), so
    both windows and the clamp identity are exact integer arithmetic;
    the event order is total. Scale: two windows over ONE
    partkey-keyed sort — no self-join, no recursion; partitions are
    per-part event lists."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("sd"),
        F.when(
            F.col("l_returnflag") == "R", _cents("l_quantity")
        )
        .otherwise(-_cents("l_quantity"))
        .alias("dx"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "sd", "l_orderkey", "l_linenumber"
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums = li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "sd",
        "dx",
        F.sum("dx").over(cum).alias("s"),
    )
    staged = sums.select(
        "l_partkey",
        "dx",
        "s",
        F.min("s").over(cum).alias("smin"),
    )
    balanced = staged.select(
        "l_partkey",
        "dx",
        "s",
        (
            F.col("s") - F.least(F.lit(0).cast("long"), F.col("smin"))
        ).alias("bal"),
    )
    agg = balanced.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum("dx").alias("net_dx"),
        F.min("s").alias("min_s"),
        F.sum(F.when(F.col("dx") > 0, F.col("dx")).otherwise(0)).alias(
            "restocked_centi"
        ),
        F.sum(F.when(F.col("dx") < 0, -F.col("dx")).otherwise(0)).alias(
            "drawn_centi"
        ),
        F.sum(
            ((F.col("bal") == 0) & (F.col("dx") < 0)).cast("long")
        ).alias("n_stockouts"),
    )
    # ending balance = S_final - least(0, min S): smin at the last
    # event equals the partition-wide min, so it falls out of the agg
    return agg.select(
        "part",
        (
            F.col("net_dx")
            - F.least(F.lit(0).cast("long"), F.col("min_s"))
        ).alias("ending_centi"),
        "restocked_centi",
        "drawn_centi",
        "n_stockouts",
    )


_STOCK_SQL = """
WITH ev AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS sd,
         CASE WHEN l_returnflag = 'R'
              THEN CAST(round(l_quantity * 100) AS BIGINT)
              ELSE -CAST(round(l_quantity * 100) AS BIGINT) END AS dx
  FROM lineitem
), sums AS (
  SELECT l_partkey, l_orderkey, l_linenumber, sd, dx,
         CAST(SUM(dx) OVER w AS BIGINT) AS s
  FROM ev
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY sd, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), staged AS (
  SELECT l_partkey, dx, s,
         CAST(MIN(s) OVER w AS BIGINT) AS smin
  FROM sums
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY sd, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), balanced AS (
  SELECT l_partkey, dx, s, s - LEAST(CAST(0 AS BIGINT), smin) AS bal
  FROM staged
)
SELECT l_partkey AS part,
       CAST(SUM(dx) AS BIGINT)
         - LEAST(CAST(0 AS BIGINT), CAST(MIN(s) AS BIGINT))
         AS ending_centi,
       CAST(SUM(CASE WHEN dx > 0 THEN dx ELSE 0 END) AS BIGINT)
         AS restocked_centi,
       CAST(SUM(CASE WHEN dx < 0 THEN -dx ELSE 0 END) AS BIGINT)
         AS drawn_centi,
       CAST(SUM(CASE WHEN bal = 0 AND dx < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stockouts
FROM balanced GROUP BY 1
"""


def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median unit price per return flag (r7
    session-6e): the smallest price whose cumulative QUANTITY weight
    reaches half the flag's total — the volume-weighted robust center
    a plain median misses and AVG gets wrong under outliers.

    Computed by operators/order_stats.lower_quantiles over $100 price
    buckets, so the full-data pass is a combine-all-the-way histogram
    and only the median bucket's rows are sorted. The naive one-window
    version sorts the whole table in |flags|=3 partitions — measured
    4.1× at 10× and unbounded at 100 TB.

    Exactness: the rank threshold compares 2·cum ≥ tot in integers (no
    halving division); price/weight ride the cent grid; buckets
    floor-divide non-negative prices."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents("l_extendedprice").alias("price_cents"),
        _cents("l_quantity").alias("w_centi"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bkt", F.expr("price_cents div 10000"))
    med = lower_quantiles(
        li,
        by=["l_returnflag"],
        bucket=["bkt"],
        order=["price_cents", "l_orderkey", "l_linenumber"],
        value="price_cents",
        cuts={"med": (1, 2)},
        weight="w_centi",
    )
    return med.select(
        "l_returnflag",
        (F.col("med").cast("double") / F.lit(100.0)).alias(
            "weighted_median_price"
        ),
        F.col("total").alias("total_weight_centi"),
    )


_WEIGHTED_MEDIAN_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(round(l_quantity * 100) AS BIGINT) AS w_centi,
         l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) // 10000 AS bkt
  FROM lineitem
), hist AS (
  SELECT l_returnflag, bkt, CAST(SUM(w_centi) AS BIGINT) AS bw
  FROM li GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bkt, bw,
         CAST(SUM(bw) OVER (PARTITION BY l_returnflag ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumb,
         CAST(SUM(bw) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
  FROM hist
), locator AS (
  SELECT l_returnflag, MIN(bkt) AS mb,
         MIN_BY(cumb - bw, bkt) AS cum_before,
         MIN(totw) AS totw
  FROM cum WHERE 2 * cumb >= totw GROUP BY 1
), picked AS (
  SELECT li.l_returnflag AS flag, li.price_cents, li.w_centi,
         li.l_orderkey, li.l_linenumber, lo.cum_before, lo.totw
  FROM li JOIN locator lo
    ON li.l_returnflag = lo.l_returnflag AND li.bkt = lo.mb
), hits AS (
  SELECT flag, price_cents, totw,
         cum_before + CAST(SUM(w_centi) OVER (
             PARTITION BY flag
             ORDER BY price_cents, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumw
  FROM picked
)
SELECT flag AS l_returnflag,
       CAST(MIN(price_cents) AS DOUBLE) / 100.0 AS weighted_median_price,
       CAST(MAX(totw) AS BIGINT) AS total_weight_centi
FROM hits WHERE 2 * cumw >= totw
GROUP BY 1
"""


def topk_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order VALUES per priority, ties included (r7 session-6e):
    dense_rank ≤ 3 — the WITH TIES semantics row_number-based top-k
    silently violates (equal-priced orders must both surface or the
    report is arbitrary). Completes the ranking-window coverage:
    row_number (topk_orders_per_priority), ntile (deciles), and now
    dense_rank with ties. Cent-grid prices make rank boundaries
    exact."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        _cents("o_totalprice").alias("price_cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").desc()
    )
    return (
        orders.withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            (F.col("price_cents").cast("double") / F.lit(100.0)).alias(
                "total_price"
            ),
            "rnk",
        )
    )


_TOPK_TIES_SQL = """
SELECT o_orderpriority, o_orderkey,
       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100.0
         AS total_price,
       CAST(dense_rank() OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC)
         AS BIGINT) AS rnk
FROM orders
QUALIFY rnk <= 3
"""


# ---------------------------------------------------------------------------
# round-7 session-6f: two-phase global sequence, KMV set difference,
# Welch's t-test
# ---------------------------------------------------------------------------


#: Doc-id bucket width of doc_global_sequence's two-phase offsets.
_SEQ_BUCKET_WIDTH = 512


def doc_global_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global row numbers over (source, doc_id) order (r7
    session-6f): Spark's row_number() over an unpartitioned window runs
    in ONE task (the classic global-sort trap), and
    monotonically_increasing_id is partition-layout-dependent — this
    is the scalable deterministic alternative. seq is
    operators/order_stats.running_sum over order-aligned buckets
    (source, doc_id div 512), identical to a global row_number
    (zipWithIndex does the same imperatively); the metadata window is
    single-partition but |buckets|-bounded (one row per 512 docs).

    The sort key coalesces a NULL source to '' in BOTH engines: a raw
    NULL would null-reject the offset equi-join (dropping rows AND
    shifting every surviving seq) while the oracle's ORDER BY sorts it
    NULLS LAST — the engine-semantics divergence class the bitmap
    query guards with user_id >= 0."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.coalesce("source", F.lit("")).alias("src_key"),
    ).withColumn("bkt", F.expr(f"doc_id div {_SEQ_BUCKET_WIDTH}"))
    return running_sum(
        docs,
        by=[],
        bucket=["src_key", "bkt"],
        order=["src_key", "doc_id"],
        name="seq",
    ).select("doc_id", "source", "seq")


_GLOBAL_SEQ_SQL = """
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY COALESCE(source, ''), doc_id)
            AS BIGINT) AS seq
FROM documents
"""


def activity_anotb_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / Theta set DIFFERENCE (r7 session-6f): per type pair the
    estimated audience active in A but never in B (and vice versa) —
    the third Theta-sketch set operation (Dasgupta et al. 2016)
    completing union + intersection (activity_overlap_kmv). "How many
    users does segment A reach that B doesn't" is the incremental-
    reach question sketches exist for: answered from the same
    kilobyte sketches, no COUNT(DISTINCT ... WHERE NOT EXISTS) pass.

    Estimator: among the union sketch's kk retained hashes, those in
    sk_a but not sk_b estimate |A∖B| as (j_a_only/kk)·est_union —
    same exactly-representable-numerator argument as the overlap
    query; small sketches take the exact branch. Shares
    _kmv_pairs_staged (bottom-k WindowGroupLimit plan and all)."""
    staged = _kmv_pairs_staged(spark, sf_dir, _KMV_K)
    retained = F.slice(F.col("merged"), 1, _KMV_K)
    j_a = F.size(
        F.array_except(
            F.array_intersect(retained, F.col("sk_a")), F.col("sk_b")
        )
    ).cast("long")
    j_b = F.size(
        F.array_except(
            F.array_intersect(retained, F.col("sk_b")), F.col("sk_a")
        )
    ).cast("long")
    exact = F.size("merged") < _KMV_K
    numer = F.lit(float((_KMV_K - 1) * _KMV_DOMAIN))

    def est(j: Column) -> Column:
        return F.when(exact, j.cast("double")).otherwise(
            (j.cast("double") / F.col("kk").cast("double"))
            * (
                numer
                / F.element_at(
                    F.col("merged"), F.col("kk").cast("int")
                ).cast("double")
            )
        )

    return staged.select(
        "type_a",
        "type_b",
        "kk",
        j_a.alias("j_a_only"),
        j_b.alias("j_b_only"),
        est(j_a).alias("est_a_not_b"),
        est(j_b).alias("est_b_not_a"),
    )


_KMV_ANOTB_EST_SQL = _kmv_est_union_sql(_KMV_K)


_KMV_ANOTB_SQL = f"""
WITH {_kmv_pairs_ctes(_KMV_K)}, c AS (
  SELECT *, CAST(least({_KMV_K}, len(merged)) AS BIGINT) AS kk,
         CAST(len(list_filter(list_intersect(merged[1:{_KMV_K}], sk_a),
                              x -> NOT list_contains(sk_b, x)))
              AS BIGINT) AS j_a_only,
         CAST(len(list_filter(list_intersect(merged[1:{_KMV_K}], sk_b),
                              x -> NOT list_contains(sk_a, x)))
              AS BIGINT) AS j_b_only
  FROM m
)
SELECT type_a, type_b, kk, j_a_only, j_b_only,
       CASE WHEN len(merged) < {_KMV_K} THEN CAST(j_a_only AS DOUBLE)
            ELSE (CAST(j_a_only AS DOUBLE) / CAST(kk AS DOUBLE))
                 * {_KMV_ANOTB_EST_SQL} END AS est_a_not_b,
       CASE WHEN len(merged) < {_KMV_K} THEN CAST(j_b_only AS DOUBLE)
            ELSE (CAST(j_b_only AS DOUBLE) / CAST(kk AS DOUBLE))
                 * {_KMV_ANOTB_EST_SQL} END AS est_b_not_a
FROM c
"""


def welch_t_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Welch's t-test between event types' values (r7
    session-6f): the unequal-variance two-sample test (Welch 1947) —
    the A/B-experiment significance primitive — computed entirely from
    the per-type integer moment table (n, Σcents, Σcents²), so the
    full-data pass is ONE map-side-combinable aggregate and the
    pairwise stage joins |types| moment rows. Emits the t statistic
    and the Welch–Satterthwaite degrees of freedom, both snapped to
    the 1e-6 grid AFTER a fixed double sequence (means/variances from
    exact longs, one sqrt, one division chain — identical text in the
    SQL twin). No p-value: that needs the t CDF; downstream compares
    |t| to the critical value for the emitted dof. Types need n ≥ 2
    and positive variance on BOTH sides."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_cents("value")).alias("s"),
        F.sum(_cents("value") * _cents("value")).alias("ss"),
    ).filter(F.col("n") >= 2)
    a = m.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
        F.lit(1).alias("one"),
    )
    b = m.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
        F.lit(1).alias("one"),
    )
    pairs = a.join(b, "one").filter(F.col("type_a") < F.col("type_b"))

    def mean(s: str, n: str) -> Column:
        return F.col(s).cast("double") / F.col(n).cast("double")

    def var(ss: str, s: str, n: str) -> Column:
        return (
            F.col(ss).cast("double")
            - F.col(s).cast("double")
            * F.col(s).cast("double")
            / F.col(n).cast("double")
        ) / (F.col(n) - 1).cast("double")

    va = var("ssa", "sa", "na")
    vb = var("ssb", "sb", "nb")
    sea = va / F.col("na").cast("double")
    seb = vb / F.col("nb").cast("double")
    t = (mean("sa", "na") - mean("sb", "nb")) / F.sqrt(sea + seb)
    dof = (
        (sea + seb)
        * (sea + seb)
        / (
            sea * sea / (F.col("na") - 1).cast("double")
            + seb * seb / (F.col("nb") - 1).cast("double")
        )
    )
    return pairs.filter((va > 0) & (vb > 0)).select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.round(t * F.lit(1000000.0)).cast("long").alias("t_micro"),
        F.round(dof * F.lit(1000000.0)).cast("long").alias("dof_micro"),
    )


_WELCH_SQL = """
WITH m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1 HAVING COUNT(*) >= 2
), pr AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, a.s AS sa, a.ss AS ssa,
         b.n AS nb, b.s AS sb, b.ss AS ssb
  FROM m a JOIN m b ON a.event_type < b.event_type
), st AS (
  SELECT *,
         (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
            / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
         (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
            / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
  FROM pr
), se AS (
  SELECT *, va / CAST(na AS DOUBLE) AS sea, vb / CAST(nb AS DOUBLE) AS seb
  FROM st WHERE va > 0 AND vb > 0
)
SELECT type_a, type_b, na, nb,
       CAST(round(((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                   - (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
                  / sqrt(sea + seb) * 1000000.0) AS BIGINT) AS t_micro,
       CAST(round((sea + seb) * (sea + seb)
                  / (sea * sea / CAST(na - 1 AS DOUBLE)
                     + seb * seb / CAST(nb - 1 AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS dof_micro
FROM se
"""


# ---------------------------------------------------------------------------
# round-7 session-6g: TextRank keywords, double-billing audit, ABC
# classification
# ---------------------------------------------------------------------------


#: Keywords reported by textrank_keywords and its SQL twin.
_TEXTRANK_TOP_N = 30


def textrank_keywords(
    spark: SparkSession,
    sf_dir: str,
    vocab_cap: int | None = None,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) (r7
    session-6g): PageRank over the word co-occurrence graph — an edge
    per token pair within a ±2 window, weighted by co-occurrence
    count — ranks words by graph centrality rather than RAKE's
    degree/frequency heuristic; the two extractors disagree exactly
    where centrality matters (a rare word bridging frequent phrases).
    Composes the existing integer PageRank operator verbatim: rank
    mass in 1e-12 units, 5 fixed iterations, dangling redistribution —
    so the unrolled-CTE twin reuses _pagerank_iteration_sql unchanged.

    Scale: edge mining is two lead() reads per token (one doc-keyed
    window sort, no token self-join); the graph is vocabulary-sized;
    each iteration is the dst-keyed map-combinable shuffle PageRank
    always pays; top-30 is TakeOrderedAndProject. The measured 100×
    residual is the vocab-graph iteration itself (SCALING.md) —
    ``vocab_cap`` bounds it the standard TextRank way: keep only the
    top-`vocab_cap` words by corpus frequency (ties to the smaller
    word) before building the graph, so iteration cost stops growing
    with vocabulary. Default None = exact uncapped behavior (the
    registry/oracle contract)."""
    from ..functions.text import tokens
    from ..operators.graph import pagerank

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).filter(F.col("w") != "")
    if vocab_cap is not None:
        # deterministic top-N vocabulary (count desc, word asc):
        # TakeOrdered on the vocab-sized relation, broadcast semi-join
        # back — co-occurrence windows then span dropped words, the
        # standard candidate-filter semantics of TextRank
        keep = (
            toks.groupBy("w")
            .agg(F.count(F.lit(1)).alias("wn"))
            .orderBy(F.col("wn").desc(), F.col("w").asc())
            .limit(vocab_cap)
            .select("w")
        )
        toks = toks.join(F.broadcast(keep), "w", "left_semi")
    win = Window.partitionBy("doc_id").orderBy("pos")
    paired = toks.select(
        "w",
        F.lead("w", 1).over(win).alias("n1"),
        F.lead("w", 2).over(win).alias("n2"),
    )
    halves = paired.select(
        F.col("w").alias("src"), F.col("n1").alias("dst")
    ).unionByName(
        paired.select(F.col("w").alias("src"), F.col("n2").alias("dst"))
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    undirected = halves.unionByName(
        halves.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = undirected.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w_edge")
    )
    nodes = toks.select(F.col("w").alias("page")).distinct()
    ranks = pagerank(edges, nodes, id_col="page")
    return _ranked_topk(
        ranks.select(F.col("page").alias("word"), "rank_micro"),
        [F.col("rank_micro").desc(), F.col("word").asc()],
        "rank_micro",
        _TEXTRANK_TOP_N,
        "kw_rank",
    )


_TEXTRANK_SQL = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts({_TOKS_SQL}, 1) AS pos,
         unnest({_TOKS_SQL}) AS w
  FROM documents
), toks2 AS (
  SELECT * FROM toks WHERE w <> ''
), paired AS (
  SELECT w,
         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
  FROM toks2
), halves AS (
  SELECT src, dst FROM (
    SELECT w AS src, n1 AS dst FROM paired
    UNION ALL SELECT w AS src, n2 AS dst FROM paired
  ) WHERE dst IS NOT NULL AND src <> dst
), und AS (
  SELECT src, dst FROM halves
  UNION ALL SELECT dst AS src, src AS dst FROM halves
), edges AS (
  SELECT src, dst, COUNT(*) AS w_edge FROM und GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT w AS page FROM toks2
){_PAGERANK_ROUNDS_SQL}
SELECT word, rank_micro,
       CAST(row_number() OVER (ORDER BY rank_micro DESC, word ASC)
            AS BIGINT) AS kw_rank
FROM (SELECT page AS word, rank_micro FROM r{N_ITERATIONS})
ORDER BY rank_micro DESC, word ASC
LIMIT {_TEXTRANK_TOP_N}
"""


#: Days between same-customer orders that orders_double_billing and
#: its SQL twin report.
_BILLING_WINDOW_DAYS = 3


def orders_double_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat-order / double-billing audit (r7 session-6g):
    consecutive orders from the same customer ≤ 3 days apart are the
    AP-audit candidate set; within it, an EXACT amount match is the
    classic duplicate-invoice flag and the integer amount ratio (ppm)
    grades the near-misses. The candidate window is emitted (not just
    the exact dups) because continuous price domains make exact
    repeats legitimately rare — an exact-only result is vacuously
    empty on this fixture at every SF, the 0-row trap the
    no-vacuous-query gate exists to catch.

    Two windows, no self-join: lag() over the custkey partition
    exposes the ADJACENT previous order (the candidate pair emitted);
    a second lag over (custkey, amount_cents) exposes the previous
    SAME-amount order so `exact_dup_in_window` catches a repeat with
    a different-amount order between them (adjacent-only exact
    matching was a recall hole — r7 ADVICE). The adjacent gap is
    never larger than the same-amount gap, so every window-flagged
    exact dup already appears in the candidate rows. Partitions stay
    customer-bounded; the O(n²)-per-customer pairing is what the lag
    formulation avoids."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        _cents("o_totalprice").alias("amount_cents"),
        F.to_date("o_orderdate").alias("od"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    w_same = Window.partitionBy("o_custkey", "amount_cents").orderBy(
        "od", "o_orderkey"
    )
    flagged = orders.select(
        "o_custkey",
        "amount_cents",
        "od",
        "o_orderkey",
        F.lag("od").over(w).alias("prev_od"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lag("amount_cents").over(w).alias("prev_amount"),
        F.lag("od").over(w_same).alias("prev_same_od"),
    ).filter(
        F.col("prev_od").isNotNull()
        & (F.datediff("od", "prev_od") <= _BILLING_WINDOW_DAYS)
    )
    return flagged.select(
        "o_custkey",
        F.col("prev_key").alias("first_orderkey"),
        F.col("o_orderkey").alias("second_orderkey"),
        F.datediff("od", "prev_od").cast("long").alias("gap_days"),
        (F.col("prev_amount").cast("double") / F.lit(100.0)).alias(
            "first_amount"
        ),
        (F.col("amount_cents").cast("double") / F.lit(100.0)).alias(
            "second_amount"
        ),
        (F.col("amount_cents") == F.col("prev_amount")).alias(
            "exact_amount_dup"
        ),
        (
            F.col("prev_same_od").isNotNull()
            & (F.datediff("od", "prev_same_od") <= _BILLING_WINDOW_DAYS)
        ).alias("exact_dup_in_window"),
        F.expr(
            "least(amount_cents, prev_amount) * CAST(1000000 AS BIGINT)"
            " div greatest(amount_cents, prev_amount)"
        ).alias("amount_ratio_ppm"),
    )


_DOUBLE_BILLING_SQL = f"""
WITH o AS (
  SELECT o_custkey, amount_cents, od, o_orderkey,
         lag(od) OVER w AS prev_od,
         lag(o_orderkey) OVER w AS prev_key,
         lag(amount_cents) OVER w AS prev_amount,
         lag(od) OVER ws AS prev_same_od
  FROM (SELECT o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS amount_cents,
               CAST(o_orderdate AS DATE) AS od, o_orderkey
        FROM orders)
  WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey),
         ws AS (PARTITION BY o_custkey, amount_cents
                ORDER BY od, o_orderkey)
)
SELECT o_custkey,
       prev_key AS first_orderkey, o_orderkey AS second_orderkey,
       CAST(date_diff('day', prev_od, od) AS BIGINT) AS gap_days,
       CAST(prev_amount AS DOUBLE) / 100.0 AS first_amount,
       CAST(amount_cents AS DOUBLE) / 100.0 AS second_amount,
       amount_cents = prev_amount AS exact_amount_dup,
       prev_same_od IS NOT NULL
         AND date_diff('day', prev_same_od, od) <= {_BILLING_WINDOW_DAYS}
         AS exact_dup_in_window,
       (LEAST(amount_cents, prev_amount) * CAST(1000000 AS BIGINT))
         // GREATEST(amount_cents, prev_amount) AS amount_ratio_ppm
FROM o
WHERE prev_od IS NOT NULL AND date_diff('day', prev_od, od) <= {_BILLING_WINDOW_DAYS}
"""


#: Revenue bucket width of part_abc_classes and its SQL twin.
_ABC_BUCKET_CENTS = 10**6


def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification (r7 session-6g): parts
    ranked by revenue; the first 80% of cumulative revenue is class A,
    the next 15% B, the tail C — the 80/15/5 stocking-policy split.
    The global revenue-descending cumulative sum is
    operators/order_stats.running_sum over revenue-range buckets — no
    one-task global window over parts.

    Exactness: per-part revenue sums exactly on the ×10⁴ grid, then
    floors ONCE to the cent grid (positive // — identical both
    engines) so the share multiplications clear long range out past
    500× the sf0.1 fixture; class boundaries compare cum·100 against
    80·total / 95·total in longs (boundary ties go to the smaller
    class letter in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(disc_price_cents()).alias("u")
    ).select(
        "part", F.expr("u div 100").alias("rev_units")
    ).withColumn(
        # descending-order-aligned bucket: higher revenue -> smaller
        # bucket id (negated floor-div of NON-NEGATIVE revenue)
        "bkt", -F.expr(f"rev_units div {_ABC_BUCKET_CENTS}")
    )
    total = rev.agg(F.sum("rev_units").alias("total_units"))
    cum = running_sum(
        rev,
        by=[],
        bucket=["bkt"],
        order=[F.col("rev_units").desc(), F.col("part").asc()],
        name="cum_units",
        weight="rev_units",
    ).crossJoin(F.broadcast(total))
    return cum.select(
        "part",
        (F.col("rev_units").cast("double") / F.lit(100.0)).alias(
            "revenue"
        ),
        # per-myriad, not ppm: cum_units rides the cent grid, so x10^6
        # would overflow a long on large totals; the total_units > 0
        # guard keeps an all-sub-cent corpus (every part floors to 0)
        # NULL in BOTH engines instead of a DuckDB division error
        F.when(
            F.col("total_units") > 0,
            F.expr("cum_units * CAST(10000 AS BIGINT) div total_units"),
        ).alias("cum_permyriad"),
        F.when(
            F.col("cum_units") * 100 <= F.col("total_units") * 80, "A"
        )
        .when(F.col("cum_units") * 100 <= F.col("total_units") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_ABC_SQL = f"""
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS BIGINT) // 100 AS rev_units
  FROM lineitem GROUP BY 1
), b AS (
  SELECT *, -(rev_units // {_ABC_BUCKET_CENTS}) AS bkt FROM rev
), offs AS (
  SELECT bkt,
         CAST(SUM(brev) OVER (ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - brev
           AS BIGINT) AS rev_before
  FROM (SELECT bkt, CAST(SUM(rev_units) AS BIGINT) AS brev
        FROM b GROUP BY 1)
), tot AS (
  SELECT CAST(SUM(rev_units) AS BIGINT) AS total_units FROM rev
), cum AS (
  SELECT part, rev_units,
         rev_before + CAST(SUM(rev_units) OVER (
             PARTITION BY b.bkt
             ORDER BY rev_units DESC, part ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_units
  FROM b JOIN offs USING (bkt)
)
SELECT part, CAST(rev_units AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN total_units > 0
            THEN (cum_units * CAST(10000 AS BIGINT)) // total_units
       END AS cum_permyriad,
       CASE WHEN cum_units * 100 <= total_units * 80 THEN 'A'
            WHEN cum_units * 100 <= total_units * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# round-7 session-6h: negative sampling, classifier calibration
# ---------------------------------------------------------------------------


#: Negatives per customer of customer_negative_parts and its SQL twin,
#: and the candidate oversampling factor they draw them from.
_NEG_K = 4
_NEG_OVERSAMPLE = 12


def customer_negative_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training pairs
    (r7 session-6h): for every customer, k parts they have NEVER
    ordered — the (user, item⁻) half of a contrastive training set.
    Candidates come from a hash permutation (cand_i =
    md5('neg1'|cust|i) mod max_partkey + 1, i = 1..12), are pruned to
    EXISTING parts (semi join), have the customer's purchase history
    anti-joined away, and the first k distinct survivors (by draw
    index, then partkey) win. Hash-derived draws make the sample
    reproducible across runs, partitionings, and engines — the
    property random.choice-style samplers lose at scale.

    Scale: candidate generation is a map-only ×12 expansion of the
    CUSTOMER table (not events); existence and seen-ness are two
    (partkey / cust,part)-keyed joins bounded by |cust|·12 candidate
    rows; negatives per customer are constant. The 1-row max-partkey
    aggregate broadcasts."""
    from ..functions.text import md5_hash64

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    seen = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("cand"),
        )
        .distinct()
    )
    maxpk = part.agg(F.max("p_partkey").alias("maxpk"))
    cands = (
        cust.crossJoin(F.broadcast(maxpk))
        .select(
            "c_custkey",
            F.explode(
                F.sequence(F.lit(1), F.lit(_NEG_OVERSAMPLE))
            ).alias("i"),
            "maxpk",
        )
        .select(
            "c_custkey",
            "i",
            (
                F.pmod(
                    md5_hash64(
                        F.concat_ws(
                            "|",
                            F.lit("neg1"),
                            F.col("c_custkey").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    F.col("maxpk"),
                )
                + 1
            ).alias("cand"),
        )
    )
    existing = cands.join(
        part, cands["cand"] == part["p_partkey"], "left_semi"
    )
    fresh = existing.join(seen, ["c_custkey", "cand"], "left_anti")
    first_draw = fresh.groupBy("c_custkey", "cand").agg(
        F.min("i").alias("draw")
    )
    w = Window.partitionBy("c_custkey").orderBy("draw", "cand")
    return (
        first_draw.withColumn(
            "sample_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("sample_rank") <= _NEG_K)
        .select(
            "c_custkey",
            F.col("cand").alias("p_partkey"),
            F.col("draw").cast("long").alias("draw"),
            "sample_rank",
        )
    )


_NEG_HASH_SQL = _HASH64_SQL.format(
    x="('neg1' || '|' || CAST(c_custkey AS VARCHAR) || '|' "
    "|| CAST(i AS VARCHAR))"
)


_NEGATIVE_PARTS_SQL = f"""
WITH maxpk AS (
  SELECT MAX(p_partkey) AS maxpk FROM part
), cands AS (
  SELECT c_custkey, i, ({_NEG_HASH_SQL} % maxpk) + 1 AS cand
  FROM customer CROSS JOIN maxpk
  CROSS JOIN (SELECT unnest(generate_series(1, {_NEG_OVERSAMPLE})) AS i)
), existing AS (
  SELECT c.* FROM cands c
  WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.cand)
), seen AS (
  SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS cand
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), fresh AS (
  SELECT e.* FROM existing e
  WHERE NOT EXISTS (SELECT 1 FROM seen s
                    WHERE s.c_custkey = e.c_custkey AND s.cand = e.cand)
), first_draw AS (
  SELECT c_custkey, cand, MIN(i) AS draw
  FROM fresh GROUP BY 1, 2
)
SELECT c_custkey, cand AS p_partkey, CAST(draw AS BIGINT) AS draw,
       CAST(row_number() OVER (PARTITION BY c_custkey
                               ORDER BY draw, cand) AS BIGINT)
         AS sample_rank
FROM first_draw
QUALIFY sample_rank <= {_NEG_K}
"""


def langid_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration by confidence margin (r7 session-6h):
    the lang-ID classifier's accuracy bucketed by its MARGIN (top
    stopword-hit score minus runner-up) — the reliability-diagram
    audit that says whether confidence is meaningful (accuracy should
    rise with margin) and where to set an abstention threshold for
    routing low-margin docs to a heavier model. Completes the
    classifier-eval tier: confusion matrix (WHERE it leaks) +
    calibration (WHEN to trust it).

    Exactness: scores and margins are integer hit counts (margin
    buckets capped at 5+); accuracy is integer ppm. One scan, one
    ≤6-row aggregate."""
    from ..functions.text import lang_scores, predicted_lang

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    s = lang_scores("text")
    arr = F.array_sort(
        F.array(s["en"], s["de"], s["fr"], s["es"])
    )
    scored = docs.select(
        "lang",
        predicted_lang("text").alias("pred"),
        F.least(
            F.element_at(arr, 4) - F.element_at(arr, 3), F.lit(5)
        ).cast("long").alias("margin_bucket"),
    )
    agg = scored.groupBy("margin_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            (F.col("lang") == F.col("pred")).cast("long")
        ).alias("n_correct"),
    )
    return agg.select(
        "margin_bucket",
        "n_docs",
        "n_correct",
        F.expr(
            "n_correct * CAST(1000000 AS BIGINT) div n_docs"
        ).alias("accuracy_ppm"),
    )


_LANGID_CALIBRATION_SQL = f"""
WITH {_LANGID_SCORED_CTE}, pred AS (
  SELECT lang, {_LANGID_PRED_CASE} AS pred,
         LEAST(list_sort([s_en, s_de, s_fr, s_es])[4]
               - list_sort([s_en, s_de, s_fr, s_es])[3],
               5) AS margin_bucket
  FROM scored
)
SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       (CAST(SUM(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT)
        * CAST(1000000 AS BIGINT)) // COUNT(*) AS accuracy_ppm
FROM pred GROUP BY 1
"""


# ---------------------------------------------------------------------------
# round-7 session-6i: personalized PageRank recommendations, exact
# median imputation, Neyman-allocation sampling
# ---------------------------------------------------------------------------


#: Recommendations reported by ppr_part_recommendations and its SQL
#: twin.
_PPR_TOP_N = 100


def ppr_part_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized-PageRank item recommendations (r7 session-6i):
    random walk with restart from the seed catalog (parts ≡ 0 mod 53 —
    the BFS query's seed set) over the repeat-co-purchase graph; the
    top-100 non-trivial ranks are the "customers who bought these also
    buy" candidate list (Pixie-style candidate generation). PPR differs
    from global PageRank exactly where recommendations need it: mass
    teleports back to the SEEDS, so rank measures proximity to the
    seed catalog, not global popularity.

    Same integer-mass/fixed-iteration discipline as page_rank_pages;
    the unrolled twin carries the seed-conditional teleport. Top-100
    ties break (rank desc, part asc)."""
    from ..operators.graph import personalized_pagerank

    li = load_table(spark, sf_dir, "lineitem")
    # materialize the co-purchase extraction ONCE: edges, nodes, seeds,
    # and every iteration's out-degree all derive from it — without the
    # checkpoint the pair join re-runs per iteration (measured 16.8 s
    # -> the extraction is the whole bill, the walk is sketch-sized)
    ue = _repeat_copurchase_edges(li).transform(checkpoint_stage)
    bidir = ue.unionByName(
        ue.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    edges = bidir.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.lit(1).alias("w_edge"),
    )
    nodes = bidir.select(F.col("a").alias("page")).distinct()
    seeds = nodes.filter(F.col("page") % 53 == 0).select(
        F.col("page").alias("n")
    )
    ranks = personalized_pagerank(edges, nodes, seeds, id_col="page")
    return _ranked_topk(
        ranks.select(
            F.col("page").alias("part"), "rank_micro", "is_seed"
        ),
        [F.col("rank_micro").desc(), F.col("part").asc()],
        "rank_micro",
        _PPR_TOP_N,
        "rec_rank",
    )


def _ppr_iteration_sql(k: int) -> str:
    """One unrolled PPR round: pagerank's shape with seed-conditional
    teleport and dangling redistribution."""
    return _rank_flow_sql(k) + f""", r{k} AS MATERIALIZED (
  SELECT n.page, n.is_seed,
         CAST(CASE WHEN n.is_seed
                   THEN ({100 - DAMPING_PCT} * 1000000000000) // (100 * ns.n)
                   ELSE 0 END
              + ({DAMPING_PCT} * COALESCE(i.inc, 0)) // 100
              + CASE WHEN n.is_seed
                     THEN ({DAMPING_PCT} * d.dang) // (100 * ns.n)
                     ELSE 0 END AS BIGINT) AS rank_micro
  FROM flagged n CROSS JOIN ns CROSS JOIN d{k} d
  LEFT JOIN i{k} i ON n.page = i.page
)"""


_PPR_SQL = f"""
WITH {_BFS_EDGES_CTES}, edges AS MATERIALIZED (
  SELECT a AS src, b AS dst, 1 AS w_edge FROM bidir
), nodes AS (
  SELECT DISTINCT a AS page FROM bidir
), flagged AS MATERIALIZED (
  SELECT page, page % 53 = 0 AS is_seed FROM nodes
), ns AS (
  SELECT COUNT(*) AS n FROM flagged WHERE is_seed
), outd AS MATERIALIZED (
  SELECT src, CAST(SUM(w_edge) AS BIGINT) AS w_out FROM edges GROUP BY src
), r0 AS MATERIALIZED (
  SELECT page, is_seed,
         CAST(CASE WHEN is_seed THEN 1000000000000 // ns.n
                   ELSE 0 END AS BIGINT) AS rank_micro
  FROM flagged CROSS JOIN ns
){"".join(_ppr_iteration_sql(k) for k in range(1, N_ITERATIONS + 1))}
SELECT part, rank_micro, is_seed,
       CAST(row_number() OVER (ORDER BY rank_micro DESC, part ASC)
            AS BIGINT) AS rec_rank
FROM (SELECT page AS part, rank_micro, is_seed FROM r{N_ITERATIONS})
ORDER BY rank_micro DESC, part ASC
LIMIT {_PPR_TOP_N}
"""


def _type_value_quantiles(
    ev: DataFrame, cuts: dict[str, tuple[int, int]]
) -> DataFrame:
    """Exact per-type lower quantiles of event value: the observed
    (non-NULL) values of ``ev`` on the cent grid, bucketed by $5 and
    tie-broken by event_id, cut by operators/order_stats.
    lower_quantiles into one row per event_type with one cents column
    per ``cuts`` tag. Shared by the imputation, winsorize and
    percentile queries, whose SQL twins build the same ``obs`` CTE."""
    obs = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        _cents("value").alias("v_cents"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 500").alias("bkt"),
    )
    return lower_quantiles(
        obs,
        by=["event_type"],
        bucket=["bkt"],
        order=["v_cents", "event_id"],
        value="v_cents",
        cuts=cuts,
    )


def event_value_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by per-type exact lower median (r7
    session-6i): NULL event values fill with their type's median of
    observed values — the data-repair step before any
    NULL-intolerant consumer (the robust alternative to mean-fill,
    which outliers poison). Emits every event with the filled value
    and a was_imputed flag, so the repair is auditable.

    The median is operators/order_stats.lower_quantiles over $5 value
    buckets: only the median bucket's rows are sorted, never a
    per-type sort of all events (|types| partitions would serialize
    the table). Lower median = smallest v with 2·rank ≥ n, all
    integer on the cent grid."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    medians = _type_value_quantiles(ev, {"med_cents": (1, 2)}).select(
        F.col("event_type").alias("lt"), "med_cents"
    )
    return ev.join(
        F.broadcast(medians), ev["event_type"] == medians["lt"], "left"
    ).select(
        "event_id",
        "event_type",
        "value",
        (
            F.coalesce(_cents("value"), F.col("med_cents")).cast("double")
            / F.lit(100.0)
        ).alias("value_filled"),
        F.col("value").isNull().alias("was_imputed"),
    )


#: Per-event-type $5-bucket histogram of the observed value cents
#: (hist) and its running and total counts (cum), over ``obs``: the
#: first phase of the oracles' exact lower-quantile cut.
_VALUE_CUM_CTES = """hist AS (
  SELECT event_type, bkt, CAST(COUNT(*) AS BIGINT) AS bn
  FROM obs GROUP BY 1, 2
), cum AS (
  SELECT event_type, bkt, bn,
         CAST(SUM(bn) OVER (PARTITION BY event_type ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumn,
         CAST(SUM(bn) OVER (PARTITION BY event_type) AS BIGINT) AS totn
  FROM hist
)"""
#: The non-NULL-type events (ev), their observed values (obs), and
#: _VALUE_CUM_CTES over them.
_EV_VALUE_CUM_CTES = """ev AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_type IS NOT NULL
), obs AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         CAST(round(value * 100) AS BIGINT) // 500 AS bkt
  FROM ev WHERE value IS NOT NULL
), """ + _VALUE_CUM_CTES

_IMPUTATION_SQL = f"""
WITH {_EV_VALUE_CUM_CTES}, locator AS (
  SELECT event_type AS lt, MIN(bkt) AS mb,
         MIN_BY(cumn - bn, bkt) AS n_before, MIN(totn) AS totn
  FROM cum WHERE 2 * cumn >= totn GROUP BY 1
), ranked AS (
  SELECT o.event_type, o.v_cents,
         lo.n_before + CAST(COUNT(*) OVER (
             PARTITION BY o.event_type
             ORDER BY o.v_cents, o.event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS rank,
         lo.totn
  FROM obs o JOIN locator lo ON o.event_type = lo.lt AND o.bkt = lo.mb
), medians AS (
  SELECT event_type AS lt, MIN(v_cents) AS med_cents
  FROM ranked WHERE 2 * rank >= totn GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       CAST(COALESCE(CAST(round(e.value * 100) AS BIGINT), m.med_cents)
            AS DOUBLE) / 100.0 AS value_filled,
       e.value IS NULL AS was_imputed
FROM ev e LEFT JOIN medians m ON e.event_type = m.lt
"""


#: Sample size of neyman_allocation_sample and its SQL twin.
_NEYMAN_BUDGET = 200


def neyman_allocation_sample(
    spark: SparkSession, sf_dir: str, budget: int = _NEYMAN_BUDGET
) -> DataFrame:
    """Neyman-allocated stratified sample (r7 session-6i): a 200-doc
    sample budget split across sources ∝ N_h·σ_h (stratum size ×
    length standard deviation — Neyman 1934), so volatile strata get
    more probes than proportional allocation would give; within each
    stratum the n_h members with the smallest id-hash win
    (deterministic, the stratified_fixed_k_sample rule). The survey-
    design upgrade over proportional sampling when strata differ in
    variance — the estimator-variance-minimizing allocation.

    Determinism: σ comes from exact integer moments with ONE sqrt per
    stratum; weights snap to the 1e-6 grid before the floor-division
    allocation; leftover budget goes to the largest micro-remainders
    (ties to the smaller source name). A stratum smaller than its
    Neyman share saturates at nh; the capped surplus is NOT dropped —
    a second waterfill pass hands it to unsaturated strata in the
    same micro-remainder order (cumulative-spare clamp, one window
    over the |sources|-row allocation), so the sample meets `budget`
    exactly whenever Σ nh ≥ budget (r7 ADVICE: the cap previously
    shrank the sample silently). Every stage is tiny — |sources| rows
    — and the member pick is one rank window per stratum."""
    from ..functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    moments = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    )
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("nh").cast("double")
    ) / F.greatest(F.col("nh") - 1, F.lit(1)).cast("double")
    # +1 floor: an all-constant-length corpus would zero every weight
    # and the allocation division (DuckDB errors on // 0); one micro
    # unit per stratum degrades gracefully toward equal allocation
    weighted = moments.select(
        "source",
        "nh",
        (
            F.round(
                F.col("nh").cast("double")
                * F.sqrt(var)
                * F.lit(1000000.0)
            ).cast("long")
            + F.lit(1)
        ).alias("w_micro"),
    )
    tot = weighted.agg(F.sum("w_micro").alias("tw"))
    alloc = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        F.expr(f"w_micro * CAST({budget} AS BIGINT) div tw").alias(
            "n_base"
        ),
        F.expr(
            f"w_micro * CAST({budget} AS BIGINT) % tw"
        ).alias("rem"),
    )
    leftover = alloc.agg(
        (F.lit(budget) - F.sum("n_base")).cast("long").alias("left")
    )
    wrem = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    capped = (
        alloc.crossJoin(F.broadcast(leftover))
        .withColumn("rr", F.row_number().over(wrem).cast("long"))
        .select(
            "source",
            "nh",
            "rem",
            F.least(
                F.col("n_base")
                + (F.col("rr") <= F.col("left")).cast("long"),
                F.col("nh"),
            ).alias("n_cap"),
        )
        .withColumn("spare", F.col("nh") - F.col("n_cap"))
    )
    surplus = capped.agg(
        (F.lit(budget) - F.sum("n_cap")).cast("long").alias("surplus")
    )
    # waterfill: hand the capped surplus to unsaturated strata in
    # micro-remainder order — extra2 = clamp(surplus - spare-before,
    # 0, spare) via one cumulative window over the strata relation
    w_fill = wrem.rowsBetween(Window.unboundedPreceding, -1)
    final_alloc = (
        capped.crossJoin(F.broadcast(surplus))
        .withColumn(
            "spare_before",
            F.coalesce(F.sum("spare").over(w_fill), F.lit(0)).cast(
                "long"
            ),
        )
        .select(
            "source",
            "nh",
            (
                F.col("n_cap")
                + F.greatest(
                    F.lit(0).cast("long"),
                    F.least(
                        F.col("spare"),
                        F.col("surplus") - F.col("spare_before"),
                    ),
                )
            ).alias("n_alloc"),
        )
    )
    ranked = docs.select(
        "doc_id",
        "source",
        md5_hash64(
            F.concat_ws(
                "|", F.lit("ney1"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    ).withColumn(
        "pick_rank",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("h", "doc_id"))
        .cast("long"),
    )
    return ranked.join(F.broadcast(final_alloc), "source").filter(
        F.col("pick_rank") <= F.col("n_alloc")
    ).select("source", "doc_id", "pick_rank", "n_alloc")


_NEYMAN_HASH_SQL = _HASH64_SQL.format(
    x="('ney1' || '|' || CAST(doc_id AS VARCHAR))"
)


_NEYMAN_SQL = f"""
WITH moments AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss
  FROM documents WHERE source IS NOT NULL GROUP BY 1
), weighted AS (
  SELECT source, nh,
         CAST(round(CAST(nh AS DOUBLE)
                    * sqrt((CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(nh AS DOUBLE))
                           / CAST(GREATEST(nh - 1, 1) AS DOUBLE))
                    * 1000000.0) AS BIGINT) + 1 AS w_micro
  FROM moments
), tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM weighted
), alloc AS (
  SELECT source, nh,
         (w_micro * CAST({_NEYMAN_BUDGET} AS BIGINT)) // tw AS n_base,
         (w_micro * CAST({_NEYMAN_BUDGET} AS BIGINT)) % tw AS rem
  FROM weighted CROSS JOIN tot
), leftover AS (
  SELECT CAST({_NEYMAN_BUDGET} - SUM(n_base) AS BIGINT) AS leftn FROM alloc
), capped AS (
  SELECT source, nh, rem,
         LEAST(n_base + CASE WHEN
                 row_number() OVER (ORDER BY rem DESC, source ASC)
                 <= leftn THEN 1 ELSE 0 END,
               nh) AS n_cap
  FROM alloc CROSS JOIN leftover
), surplus AS (
  SELECT CAST({_NEYMAN_BUDGET} - SUM(n_cap) AS BIGINT) AS surplus FROM capped
), final_alloc AS (
  SELECT source, nh,
         n_cap + GREATEST(CAST(0 AS BIGINT),
                          LEAST(nh - n_cap,
                                surplus - COALESCE(SUM(nh - n_cap) OVER (
                                    ORDER BY rem DESC, source ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0))) AS n_alloc
  FROM capped CROSS JOIN surplus
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_NEYMAN_HASH_SQL}, doc_id) AS pick_rank
  FROM documents WHERE source IS NOT NULL
)
SELECT r.source, r.doc_id, CAST(r.pick_rank AS BIGINT) AS pick_rank,
       CAST(f.n_alloc AS BIGINT) AS n_alloc
FROM ranked r JOIN final_alloc f USING (source)
WHERE r.pick_rank <= f.n_alloc
"""


def event_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (r7 session-6i): event values clamp to
    their type's exact [p5, p95] — the outlier repair that, unlike
    trimming (event_value_trimmed_stats) or dropping, keeps every row
    while bounding leverage; the third member of the robust-repair
    trio (trim / impute / winsorize). Both cut points come from ONE
    operators/order_stats.lower_quantiles call over ($5-bucket, type)
    histograms — never a per-type whole-table sort — and the clamp is
    a broadcast join + least/greatest projection.

    Exactness: cut ranks compare 20·rank ≥ n and 20·rank ≥ 19·n in
    integers (p5/p95 lower quantiles, no float quantile math); values
    ride the cent grid. NULL values pass through unclamped (repair of
    NULLs is event_value_imputation's job)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    cuts = _type_value_quantiles(
        ev, {"lo_cents": (1, 20), "hi_cents": (19, 20)}
    ).select(F.col("event_type").alias("lt"), "lo_cents", "hi_cents")
    # GREATEST/LEAST skip NULLs in both engines, so an unguarded clamp
    # would fabricate value_wins = p5 for NULL-valued events; gate on
    # value IS NOT NULL so NULLs pass through as NULL
    clamped = F.when(
        F.col("value").isNotNull(),
        F.least(
            F.greatest(_cents("value"), F.col("lo_cents")),
            F.col("hi_cents"),
        ),
    )
    return ev.join(
        F.broadcast(cuts), ev["event_type"] == cuts["lt"], "left"
    ).select(
        "event_id",
        "event_type",
        "value",
        (clamped.cast("double") / F.lit(100.0)).alias("value_wins"),
        (
            F.col("value").isNotNull()
            & (
                (_cents("value") < F.col("lo_cents"))
                | (_cents("value") > F.col("hi_cents"))
            )
        ).alias("was_clamped"),
    )


def _value_cut_sql(num: int, den: int, tag: str, out: str) -> str:
    """The {tag}_loc and {tag} CTEs: per event type (lt), the exact
    num/den lower quantile of ``obs`` v_cents cut from ``cum``, as the
    aggregate ``out``."""
    return f"""{tag}_loc AS (
  SELECT event_type AS lt, MIN(bkt) AS mb,
         MIN_BY(cumn - bn, bkt) AS n_before, MIN(totn) AS totn
  FROM cum WHERE {den} * cumn >= {num} * totn GROUP BY 1
), {tag} AS (
  SELECT lt, {out} FROM (
    SELECT o.event_type AS lt, o.v_cents,
           lo.n_before + CAST(COUNT(*) OVER (
               PARTITION BY o.event_type
               ORDER BY o.v_cents, o.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS rank,
           lo.totn
    FROM obs o JOIN {tag}_loc lo
      ON o.event_type = lo.lt AND o.bkt = lo.mb
  ) WHERE {den} * rank >= {num} * totn GROUP BY 1
)"""


def _winsorize_cut_sql(num: int, den: int, tag: str) -> str:
    return _value_cut_sql(num, den, tag, f"MIN(v_cents) AS {tag}_cents")


_WINSORIZE_SQL = f"""
WITH {_EV_VALUE_CUM_CTES}, {_winsorize_cut_sql(1, 20, "lo")}, {_winsorize_cut_sql(19, 20, "hi")},
cuts AS (
  SELECT lo.lt, lo.lo_cents, hi.hi_cents FROM lo JOIN hi USING (lt)
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value IS NOT NULL THEN
         CAST(LEAST(GREATEST(CAST(round(e.value * 100) AS BIGINT),
                             c.lo_cents), c.hi_cents) AS DOUBLE) / 100.0
       END AS value_wins,
       e.value IS NOT NULL
         AND (CAST(round(e.value * 100) AS BIGINT) < c.lo_cents
              OR CAST(round(e.value * 100) AS BIGINT) > c.hi_cents)
         AS was_clamped
FROM ev e LEFT JOIN cuts c ON e.event_type = c.lt
"""


# ---------------------------------------------------------------------------
# round-7 session-6j: inter-event gap histogram, share-of-parent rollup
# ---------------------------------------------------------------------------


def inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time distribution per event type (r7 session-6j):
    the gap between a user's consecutive events, bucketed on a log₂
    scale of seconds — the behavioral-cadence histogram that sets
    sessionization gaps and retention-window choices empirically
    instead of by folklore (the 30-minute session threshold should
    come from THIS curve's valley). Complements autocorrelation
    (periodicity) and spikes (rate) with the micro-cadence view.

    Exactness: gaps are exact microsecond longs from the (ts,
    event_id) total order per user; the log₂ bucket is bit_length of
    whole seconds (pure integer — bucket b holds [2^(b-1), 2^b)
    seconds, bucket 0 = sub-second). One user-keyed window (the
    sessionize sort every behavioral query shares) and one
    map-side-combinable (type, bucket) aggregate."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # bucket = bit length of whole seconds: Spark's conv(s, 10, 2) and
    # DuckDB's bin(s) both render minimal binary (no padding), so the
    # string LENGTH is the highest-set-bit position in both engines
    secs = F.expr("gap_us div 1000000")
    blen = F.when(secs <= 0, F.lit(0).cast("long")).otherwise(
        F.length(F.conv(secs.cast("string"), 10, 2)).cast("long")
    )
    return (
        gaps.select("event_type", blen.alias("gap_bucket"))
        .groupBy("event_type", "gap_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
    )


_INTER_GAP_SQL = """
WITH ev AS (
  SELECT event_type, user_id, ts, event_id FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL
), gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM ev
), bucketed AS (
  SELECT event_type,
         CASE WHEN gap_us // 1000000 <= 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(gap_us // 1000000)) AS BIGINT)
         END AS gap_bucket
  FROM gaps WHERE gap_us IS NOT NULL
)
SELECT event_type, gap_bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps
FROM bucketed GROUP BY 1, 2
"""


def region_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent contribution rollup (r7 session-6j): revenue by
    (region, nation) with each nation's share of its region and each
    region's share of the total, in exact ppm — the contribution
    analysis every OLAP drill-down renders next to the rollup
    (grouping totals alone don't answer "who inside EUROPE moved").
    Shares divide exact cent longs; window totals run over the TINY
    aggregated relation (≤ |nations| rows), never the facts; the fact
    pass is one orderkey-joined scan with dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    facts = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(disc_price_cents()).alias("u"))
        # exact x10^4 sum, floored ONCE to cents: the ppm share math
        # overflows longs on the x10^4 grid past ~10x sf0.1 (the ABC
        # lesson, applied here up front)
        .select(
            "region", "nation", F.expr("u div 100").alias("rev_units")
        )
    )
    wr = Window.partitionBy("region")
    wa = Window.partitionBy()
    # ratios run on a DOLLAR grid (second floor): ppm numerators on
    # cents would overflow longs past ~30x sf0.1 totals; the revenue
    # column keeps cent precision
    staged = facts.select(
        "region",
        "nation",
        "rev_units",
        F.expr("rev_units div 100").alias("rev_d"),
    ).select(
        "region",
        "nation",
        "rev_units",
        "rev_d",
        F.sum("rev_d").over(wr).alias("region_d"),
        F.sum("rev_d").over(wa).alias("total_d"),
    )
    return staged.select(
        "region",
        "nation",
        (F.col("rev_units").cast("double") / F.lit(100.0)).alias(
            "revenue"
        ),
        F.when(
            F.col("region_d") > 0,
            F.expr("rev_d * CAST(1000000 AS BIGINT) div region_d"),
        ).alias("share_of_region_ppm"),
        F.when(
            F.col("total_d") > 0,
            F.expr("region_d * CAST(1000000 AS BIGINT) div total_d"),
        ).alias("region_share_ppm"),
    )


_REGION_SHARE_SQL = f"""
WITH facts AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS BIGINT) // 100 AS rev_units
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
), dollars AS (
  SELECT region, nation, rev_units, rev_units // 100 AS rev_d
  FROM facts
), staged AS (
  SELECT region, nation, rev_units, rev_d,
         CAST(SUM(rev_d) OVER (PARTITION BY region) AS BIGINT)
           AS region_d,
         CAST(SUM(rev_d) OVER () AS BIGINT) AS total_d
  FROM dollars
)
SELECT region, nation,
       CAST(rev_units AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN region_d > 0
            THEN (rev_d * CAST(1000000 AS BIGINT)) // region_d
       END AS share_of_region_ppm,
       CASE WHEN total_d > 0
            THEN (region_d * CAST(1000000 AS BIGINT)) // total_d
       END AS region_share_ppm
FROM staged
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "nation_min_latency_paths": (nation_min_latency_paths, _LATENCY_SQL),
    "part_label_communities": (part_label_communities, _LPA_SQL),
    "copurchase_modularity": (copurchase_modularity, _MODULARITY_SQL),
    "doc_shard_rebalance": (doc_shard_rebalance, _HRW_SQL),
    "source_token_kl": (source_token_kl, _SOURCE_KL_SQL),
    "doc_weighted_sample": (doc_weighted_sample, _WEIGHTED_SAMPLE_SQL),
    "kmeans_lloyd_clusters": (kmeans_lloyd_clusters, _KMEANS_SQL),
    "table_checksum_buckets": (table_checksum_buckets, _TABLE_CHECKSUM_SQL),
    "shard_compaction_plan": (shard_compaction_plan, _COMPACTION_SQL),
    "event_ewma_chart": (event_ewma_chart, _EWMA_SQL),
    "customer_survival_km": (customer_survival_km, _KM_SQL),
    "user_activity_bitmaps": (user_activity_bitmaps, _BITMAP_SQL),
    "cohort_ltv_curves": (cohort_ltv_curves, _COHORT_LTV_SQL),
    "stream_seasonal_baseline": (
        stream_seasonal_baseline_q,
        _STREAM_SEASONAL_SQL,
    ),
    "customer_k_anonymity": (customer_k_anonymity, _K_ANON_SQL),
    "part_stock_balance": (part_stock_balance, _STOCK_SQL),
    "lineitem_weighted_median": (
        lineitem_weighted_median,
        _WEIGHTED_MEDIAN_SQL,
    ),
    "topk_orders_with_ties": (topk_orders_with_ties, _TOPK_TIES_SQL),
    "doc_global_sequence": (doc_global_sequence, _GLOBAL_SEQ_SQL),
    "activity_anotb_kmv": (activity_anotb_kmv, _KMV_ANOTB_SQL),
    "welch_t_event_types": (welch_t_event_types, _WELCH_SQL),
    "textrank_keywords": (textrank_keywords, _TEXTRANK_SQL),
    "orders_double_billing": (orders_double_billing, _DOUBLE_BILLING_SQL),
    "part_abc_classes": (part_abc_classes, _ABC_SQL),
    "customer_negative_parts": (
        customer_negative_parts,
        _NEGATIVE_PARTS_SQL,
    ),
    "langid_margin_calibration": (
        langid_margin_calibration,
        _LANGID_CALIBRATION_SQL,
    ),
    "ppr_part_recommendations": (ppr_part_recommendations, _PPR_SQL),
    "event_value_imputation": (event_value_imputation, _IMPUTATION_SQL),
    "neyman_allocation_sample": (
        neyman_allocation_sample,
        _NEYMAN_SQL,
    ),
    "event_value_winsorize": (event_value_winsorize, _WINSORIZE_SQL),
    "inter_event_gaps": (inter_event_gaps, _INTER_GAP_SQL),
    "region_nation_share": (region_nation_share, _REGION_SHARE_SQL),
}
