"""Late-round queries, the bench headline list, and REGISTRY: the merge
of every domain module's QUERIES table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.clustering import POWER_ITERS
from ..operators.similarity import IVF_N_CELLS, KMEANS_ITERS, SAMPLE_N
from ..sources.files import (
    checkpoint_stage,
    ensure_parallelism,
    load_table,
)
from . import (
    _analytics,
    _core,
    _curation,
    _graph_ann,
    _northstar,
    _round8,
    _timeseries,
    _tpch_corpus,
)
from ._core import _EMB_DIM, QueryFn
from ._northstar import (
    _COS_SQL,
    _EMB_NEAR_DUP_COS,
    _EMB_NEAR_DUP_SQL,
    _JACCARD_PAIRS_SQL,
    _SHINGLE_COMMON_CTES,
    _crawl_snapshots,
)
from ._curation import (
    _curation_stage_ctes,
    _curation_stages,
)
from ._graph_ann import (
    _BFS_EDGES_CTES,
    _IVFPQ_SQL,
    _repeat_copurchase_edges,
)
from ._analytics import (
    _KMEANS_K,
    _KMEANS_ROUNDS,
    _kmeans_chain_sql,
    _kmeans_fit_centroids,
)


# --- bench headline set ----------------------------------------------
#: A representative cross-section of the registry (scan+agg,
#: multi-join, window, codec, and the north-star dedup/similarity/text
#: operators): the default scope of query_cost_attribution.
BENCH_HEADLINE: tuple[str, ...] = (
    "tem_hourly_avg",
    "q1_pricing_summary",
    "revenue_by_segment",
    "nation_revenue",
    "topk_orders_per_priority",
    "running_total_per_customer",
    "dedup_first_event",
    "envelope_roundtrip",
    "json_props_extract",
    "distinct_users_per_type",
    "sessionize_events",
    "asof_latest_order",
    "range_join_order_events",
    "doc_text_features",
    "doc_fingerprint_groups",
    "minhash_lsh_pairs",
    "embedding_knn_join",
    "dedup_clusters",
    "doc_repetition_filter",
    "supplier_revenue_share",
    "doc_decontamination",
    "doc_sequence_packing",
    "nation_market_share",
    "ivf_topk",
    "doc_shuffle_shards",
    "doc_quality_selection",
    "doc_bm25_search",
    "corpus_tfidf_topterms",
    "doc_leakage_safe_split",
    "doc_dup_span_removal",
    "hybrid_rrf_search",
    "doc_winnowing_fingerprints",
    "containment_dup_pairs",
    "gopher_quality_filter",
    "part_skyline",
    "user_distinct_sketch",
    "purchase_attribution",
    "part_kcore_members",
    "session_association_rules",
    "activity_overlap_kmv",
    "kmeans_lloyd_clusters",
    "event_seasonal_anomaly",
    "part_stock_balance",
    "event_value_ohlc",
    "part_copurchase_lift",
    "copurchase_link_prediction",
    "dedup_graph_degree_histogram",
    "simhash_bit_bias",
    "order_fulfillment_latency",
    # round-10 addition: the per-source token-volume monitor (one
    # map-side-combined agg whose folds are the costliest codegen'd
    # text expressions in the tier — a good canary for token-counting
    # throughput regressions). query_cost_attribution itself stays
    # out: it is plan metadata, not data.
    "tokenizer_throughput_by_source",
    # round-10 sessions 1-4: one representative per new tier —
    # contrastive mining (broadcast cross-score), NN-Descent
    # (iterative hash-join rounds), power-iteration PCA (Arrow Gram +
    # driver model), and the double curation chain (the heaviest
    # composition in the registry)
    "embedding_hard_negatives",
    "nn_descent_knn_graph",
    "embedding_top_eigenvector",
    "incremental_curation_delta",
    # round-11 additions: the fit-once/serve-many ANN lifecycle
    # (fit + parquet round-trip + serve — prices the persistence
    # layer on top of the IVF-PQ composition) and the KMV-register
    # HyperBall sketch (iterative bottom-k rounds)
    "ivfpq_persisted_topk",
    "copurchase_hyperball",
    # round-12 additions: the A-ES weighted sampling pair — global
    # (shuffle-free TakeOrderedAndProject canary) and stratified (one
    # window exchange over the stratum key)
    "weighted_priority_sample",
    "stratified_priority_sample",
    # round-13 addition: the streaming ANN ingest composition (persisted
    # quantizer serve + cell-pruned near-dup + generation stores) —
    # prices the full foreachBatch drain end to end
    "stream_ann_ingest_dedup",
)


# ---------------------------------------------------------------------------
# round-10 session 1: contrastive mining, NN-Descent graph ANN,
# covariance power iteration, encoding-artifact audit
# ---------------------------------------------------------------------------


def embedding_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive-training pair mining: per anchor (the deterministic
    1/50 id slice, broadcast), the nearest same-label positive and the
    3 highest-cosine different-label hard negatives — the standard
    batch-mining step before embedding-model finetuning. Corpus scan
    never shuffles; see operators/similarity.hard_negative_mining."""
    from ..operators.similarity import hard_negative_mining

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_mining(emb, anchor_mod=50, k_neg=3)


_HARD_NEG_SQL = f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding AS anchor_vec,
         label AS anchor_label
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 3200
), scored AS (
  SELECT a.anchor_id, a.anchor_label,
         e.vec_id AS cand_id, e.label AS cand_label,
         CASE WHEN e.label = a.anchor_label
              THEN 'pos' ELSE 'neg' END AS role,
         {_COS_SQL.format(a='e.embedding', b='a.anchor_vec')} AS cos_sim
  FROM embeddings e, anchors a
  WHERE e.vec_id <> a.anchor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id, role
    ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT anchor_id, role, CAST(rank AS INT) AS rank,
       cand_id, cand_label, cos_sim
FROM ranked
WHERE (role = 'neg' AND rank <= 3) OR (role = 'pos' AND rank <= 1)
"""


#: Neighbors, refinement rounds, LSH planes and seed of
#: nn_descent_knn_graph and its SQL twin.
_NND_K = 6
_NND_ITERS = 3
_NND_PLANES = 6
_NND_SEED = 77



def nn_descent_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent k-NN graph (k=6, 3 refinement rounds, 6-bit LSH +
    block-ring init) — linear-cost graph-ANN construction; see
    operators/similarity.nn_descent_graph for the scale contract and
    the structureless-data recall plateau measured in
    tests/test_round10.py."""
    from ..operators.similarity import nn_descent_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent_graph(
        emb, k=_NND_K, iters=_NND_ITERS, n_planes=_NND_PLANES, seed=_NND_SEED
    )


def _nn_descent_sql() -> str:
    """Unrolled-CTE DuckDB twin of nn_descent_graph: the SAME seeded
    hyperplane literals (repr round-trips doubles exactly, and the
    fold dot product is bit-identical to list_dot_product), the same
    lead-window ring init, and one CTE block per refinement round."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, _NND_PLANES, _NND_SEED)
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),"
        f" [{', '.join(repr(float(x)) for x in p)}]) >= 0"
        f" THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    lead_cols = ", ".join(
        f"lead(vec_id, {j}) OVER w AS n{j}" for j in range(1, _NND_K + 1)
    )
    unnest_list = ", ".join(f"n{j}" for j in range(1, _NND_K + 1))
    cos = _COS_SQL.format(a="ea.embedding", b="eb.embedding")
    parts = [
        f"WITH b0 AS MATERIALIZED (SELECT vec_id, ({bits}) AS bk FROM embeddings)",
        f"l0 AS MATERIALIZED (SELECT vec_id AS a, {lead_cols} FROM b0"
        " WINDOW w AS (PARTITION BY bk ORDER BY vec_id))",
        # block rings: the geometry-uncorrelated stitch family (see
        # nn_descent_graph — without it descent never leaves its
        # init bucket)
        f"l0s AS MATERIALIZED (SELECT vec_id AS a, {lead_cols}"
        " FROM embeddings WINDOW w AS"
        " (PARTITION BY (vec_id // 256) ORDER BY vec_id))",
        "e0 AS MATERIALIZED (SELECT a, b FROM (SELECT a,"
        f" unnest([{unnest_list}]) AS b FROM l0) WHERE b IS NOT NULL"
        " UNION SELECT a, b FROM (SELECT a,"
        f" unnest([{unnest_list}]) AS b FROM l0s) WHERE b IS NOT NULL)",
    ]
    rev_k = max(1, _NND_K // 2)
    rev_hash = (
        "CAST(('0x' || substring(md5(CAST(b AS VARCHAR) || '|' ||"
        " CAST(a AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    for t in range(1, _NND_ITERS + 1):
        p = t - 1
        parts += [
            # reverse-neighbor ρ-sampling (Dong et al. §2.3, r11): keep
            # rev_k = k div 2 reverse edges per node, ranked by the
            # shared cross-engine md5_hash64 of the reversed edge —
            # bounds per-node und out-degree at k + rev_k so hub hop
            # cost stays linear in in-degree. The reversal happens in
            # an inner subquery with the hash precomputed, so the
            # window's partition/order keys bind unambiguously (r12:
            # the former single-SELECT form relied on DuckDB resolving
            # `b AS a, a AS b` window refs to the BASE columns)
            f"rs{t} AS MATERIALIZED (SELECT ra AS a, rb AS b FROM ("
            "SELECT ra, rb, ROW_NUMBER() OVER ("
            "PARTITION BY ra ORDER BY rh, rb) AS rrk"
            f" FROM (SELECT b AS ra, a AS rb, {rev_hash} AS rh"
            f" FROM e{p})) WHERE rrk <= {rev_k})",
            # UNION ALL: duplicates (mutual-top pairs) are deduped by
            # c{t}'s UNION — mirrors the Spark side dropping its
            # per-round distinct
            f"u{t} AS MATERIALIZED (SELECT a, b FROM e{p}"
            f" UNION ALL SELECT a, b FROM rs{t})",
            f"c{t} AS MATERIALIZED (SELECT a, b FROM u{t} UNION"
            f" SELECT u1.a AS a, u2.b AS b FROM u{t} u1"
            f" JOIN u{t} u2 ON u1.b = u2.a WHERE u1.a <> u2.b)",
            f"s{t} AS MATERIALIZED (SELECT c.a, c.b, {cos} AS cos_sim"
            f" FROM c{t} c JOIN embeddings ea ON ea.vec_id = c.a"
            " JOIN embeddings eb ON eb.vec_id = c.b)",
            f"r{t} AS MATERIALIZED (SELECT a, b, cos_sim, ROW_NUMBER() OVER ("
            " PARTITION BY a ORDER BY cos_sim DESC, b ASC) AS rk"
            f" FROM s{t})",
            f"e{t} AS MATERIALIZED (SELECT a, b FROM r{t} WHERE rk <= {_NND_K})",
        ]
    return (
        ",\n".join(parts)
        + f"\nSELECT a AS vec_id, b AS nbr_id, cos_sim,"
        f" CAST(rk AS INT) AS rank FROM r{_NND_ITERS} WHERE rk <= {_NND_K}"
    )


_NN_DESCENT_SQL = _nn_descent_sql()


def embedding_top_eigenvector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal direction of the embedding covariance via power
    iteration on exact integer grids — one Arrow Gram pass, 64×64
    driver model state, zero data passes per iteration (192 fixed
    rounds; see operators/clustering.top_eigenvector_power for the
    spectral-gap rationale)."""
    from ..operators.clustering import top_eigenvector_power

    emb = load_table(spark, sf_dir, "embeddings")
    return top_eigenvector_power(spark, emb)


def _eigvec_parts(dim: int = 64, iters: int = 192) -> list[str]:
    """Shared CTE prefix for the power-iteration twins: comp/sv/mm →
    the ALGEBRAICALLY-centered integer Gram C' = n·M − s·sᵀ → iters
    unrolled w/mx/v rounds. Every quantity is an exact HUGEINT and
    renormalization is the shared trunc-toward-zero ``//``, so the
    twins reproduce the driver's bigint math bit-for-bit. Consumed by
    _eigvec_sql and _spectral_outliers_sql."""
    parts = [
        "WITH comp AS MATERIALIZED (SELECT vec_id,"
        " generate_subscripts(embedding, 1) - 1 AS dim,"
        " CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)"
        " AS BIGINT) AS e6 FROM embeddings)",
        "cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS n"
        " FROM embeddings)",
        "sv AS MATERIALIZED (SELECT dim, CAST(SUM(e6) AS HUGEINT) AS s"
        " FROM comp GROUP BY 1)",
        "mm AS MATERIALIZED (SELECT a.dim AS j, b.dim AS k,"
        " SUM(CAST(a.e6 AS HUGEINT) * b.e6) AS m"
        " FROM comp a JOIN comp b USING (vec_id) GROUP BY 1, 2)",
        "cc AS MATERIALIZED (SELECT mm.j, mm.k,"
        " (SELECT n FROM cnt) * mm.m - sa.s * sb.s AS cv FROM mm"
        " JOIN sv sa ON sa.dim = mm.j JOIN sv sb ON sb.dim = mm.k)",
        "v0 AS MATERIALIZED (SELECT dim AS j, CAST(1000000 AS HUGEINT) AS vv"
        " FROM sv)",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts += [
            f"w{t} AS MATERIALIZED (SELECT cc.j, SUM(cc.cv * v{p}.vv) AS wv"
            f" FROM cc JOIN v{p} ON v{p}.j = cc.k GROUP BY 1)",
            f"mx{t} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(wv)), 1) AS mv"
            f" FROM w{t})",
            f"v{t} AS MATERIALIZED (SELECT j, (wv * 1000000) //"
            f" (SELECT mv FROM mx{t}) AS vv FROM w{t})",
        ]
    return parts


def _eigvec_sql() -> str:
    parts = _eigvec_parts(_EMB_DIM, POWER_ITERS) + [
        f"wf AS MATERIALIZED (SELECT cc.j, SUM(cc.cv * v{POWER_ITERS}.vv) AS wv"
        f" FROM cc JOIN v{POWER_ITERS} ON v{POWER_ITERS}.j = cc.k GROUP BY 1)",
        f"ray AS (SELECT SUM(v.vv * w.wv) AS num,"
        f" SUM(v.vv * v.vv) AS den FROM v{POWER_ITERS} v"
        " JOIN wf w USING (j))",
        "tr AS (SELECT GREATEST(SUM(cv), 1) AS t FROM cc"
        " WHERE j = k)",
    ]
    return (
        ",\n".join(parts)
        + f"""
SELECT CAST(v.j AS BIGINT) AS dim_idx, CAST(v.vv AS BIGINT) AS eig_e6,
       CAST((((SELECT num FROM ray) // (SELECT den FROM ray))
             * 1000000) // (SELECT t FROM tr) AS BIGINT)
         AS explained_ppm,
       CAST((SELECT t FROM tr) //
            ((SELECT n FROM cnt) * (SELECT n FROM cnt) * {_EMB_DIM})
            AS BIGINT) AS var_mean_e12
FROM v{POWER_ITERS} v"""
    )


_EIGVEC_SQL = _eigvec_sql()


#: classic UTF-8-decoded-as-latin1 / cp1252 artifact markers plus the
#: replacement character — each a fixed string, counted via the exact
#: length-difference identity (no regex needed in either engine)
_MOJIBAKE_PATTERNS: tuple[str, ...] = ("Ã", "Â", "â€", "�")


def doc_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-artifact audit (round 10, data quality):
    counts of classic mojibake markers — 'Ã'/'Â' (UTF-8 bytes decoded
    as Latin-1), 'â€' (cp1252 smart-quote wreckage), and U+FFFD (the
    replacement character a lossy decode leaves behind) — the check a
    crawl pipeline runs before trusting its text extraction. A report
    query: one row per source with doc/artifact counts and a ppm rate,
    non-empty (all-zero) on a clean corpus by design.

    Scale: pure codegen'd string expressions (length-difference
    counting, no regex, no UDF) + ONE map-side-combined aggregate to
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    art = None
    for p in _MOJIBAKE_PATTERNS:
        c = (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(p)))
            )
            / F.lit(len(p))
        ).cast("long")
        art = c if art is None else art + c
    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars_t"),
        art.alias("artifacts"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("artifacts") > 0, 1).otherwise(0)
            ).cast("long").alias("docs_flagged"),
            F.sum("artifacts").alias("artifacts_total"),
            F.sum("n_chars_t").alias("chars_total"),
        )
        .select(
            "source",
            "n_docs",
            "docs_flagged",
            "artifacts_total",
            F.expr(
                "(artifacts_total * CAST(1000000 AS BIGINT))"
                " div GREATEST(chars_total, CAST(1 AS BIGINT))"
            ).alias("artifact_ppm"),
        )
    )


_MOJIBAKE_SQL = """
WITH per_doc AS (
  SELECT source, CAST(length(text) AS BIGINT) AS n_chars_t,
         CAST(
             (length(text) - length(replace(text, 'Ã', '')))
           + (length(text) - length(replace(text, 'Â', '')))
           + (length(text) - length(replace(text, 'â€', ''))) // 2
           + (length(text) - length(replace(text, chr(65533), '')))
         AS BIGINT) AS artifacts
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN artifacts > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_flagged,
       CAST(SUM(artifacts) AS BIGINT) AS artifacts_total,
       CAST((SUM(artifacts) * 1000000)
            // GREATEST(SUM(n_chars_t), 1) AS BIGINT) AS artifact_ppm
FROM per_doc GROUP BY source
"""


def kmeans_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster representatives (round-10 session 2): for each Lloyd
    cell, the MEDOID-style representative — the member vector nearest
    its centroid — plus cell size and mean squared distance. This is
    the "pick one exemplar per semantic cluster" step of cluster-based
    corpus curation (e.g. choosing the document that represents a
    SemDeDup cell), reusing the EXACT kmeans fit the engine's other
    consumers train (same centroids bit-for-bit via
    _kmeans_fit_centroids).

    Scale shape: the fit is the fused-Lloyd model-state iteration;
    selection is ONE further Arrow assignment pass emitting (id, cell,
    d2_e6) rows and ONE map-side-combined aggregate where the medoid
    rides a min(struct(d2_e6, vec_id)) — lexicographic integer min, so
    the combiner carries one tuple per cell and ties break to the
    smallest id, exactly like the twin's padded arg_min key. No join,
    no window over data rows."""
    from ..operators.clustering import assign_rows_with_d2

    emb = ensure_parallelism(
        load_table(spark, sf_dir, "embeddings")
    ).cache()
    centroids = _kmeans_fit_centroids(emb, _KMEANS_ROUNDS)
    rows = assign_rows_with_d2(emb, centroids)
    return (
        rows.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min(F.struct("d2_e6", "vec_id")).alias("md"),
            F.sum("d2_e6").alias("sd"),
        )
        .select(
            "cluster",
            "n_vecs",
            F.col("md.vec_id").alias("medoid_id"),
            F.col("md.d2_e6").alias("medoid_d2_e6"),
            F.expr("sd div n_vecs").alias("mean_d2_e6"),
        )
    )


#: Twin: the shared kmeans chain through afinal, then the HALF_UP
#: 1e-6 snap and a per-cell arg_min on the padded (d2_e6, vec_id)
#: string key — the same total order as Spark's struct min.
_KMEANS_MEDOIDS_SQL = _kmeans_chain_sql(_KMEANS_ROUNDS, _KMEANS_K) + """
, ad AS (
  SELECT vec_id, cluster,
         CAST(round(d2 * 1000000.0) AS BIGINT) AS d2_e6
  FROM afinal
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(arg_min(vec_id,
              lpad(CAST(d2_e6 AS VARCHAR), 12, '0')
              || lpad(CAST(vec_id AS VARCHAR), 12, '0'))
            AS BIGINT) AS medoid_id,
       CAST(MIN(d2_e6) AS BIGINT) AS medoid_d2_e6,
       CAST(SUM(d2_e6) // COUNT(*) AS BIGINT) AS mean_d2_e6
FROM ad GROUP BY cluster
"""


#: Outliers reported by embedding_spectral_outliers and its SQL twin.
_SPECTRAL_TOP_K = 20



def embedding_spectral_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral outliers (round-10 session 2): the 20 vectors with the
    largest residual OFF the corpus's top principal direction — the
    "what doesn't the dominant axis explain" audit that surfaces
    mislabeled/garbage embeddings before they poison an index or a
    training mix. Composes two engine pieces: the power-iteration
    model (operators/clustering.power_model — one Arrow Gram pass,
    driver state) feeds a second scan-side Arrow pass emitting exact
    integer (sq_norm, proj_dot) per vector; the residual
    sq_norm·Σv² − proj² then lives in DECIMAL(38,0) expressions
    (Cauchy-Schwarz keeps it ≥ 0), is ranked exactly, and is emitted
    BIGINT-bounded as resid_e12 = resid div Σv².

    Scale: two corpus passes total (Gram + score), zero joins; the
    top-20 is a TakeOrdered, never a global sort."""
    from ..operators.clustering import power_model, spectral_residual_rows

    emb = load_table(spark, sf_dir, "embeddings")
    model = power_model(emb)
    if model is None:
        return spark.createDataFrame(
            [],
            "vec_id long, rank int, resid_e12 long, sq_norm long,"
            " proj_dot long",
        )
    den = model["den"]
    scored = spectral_residual_rows(emb, model).select(
        "vec_id",
        "sq_norm",
        "proj_dot",
        F.expr(
            f"sq_norm * CAST({den} AS DECIMAL(38,0))"
            " - proj_dot * CAST(proj_dot AS DECIMAL(38,0))"
        ).alias("resid"),
    )
    top = scored.orderBy(
        F.col("resid").desc(), F.col("vec_id").asc()
    ).limit(_SPECTRAL_TOP_K)
    w = Window.orderBy(F.col("resid").desc(), F.col("vec_id").asc())
    return top.select(
        "vec_id",
        F.row_number().over(w).cast("int").alias("rank"),
        F.expr(f"CAST(resid div {den} AS BIGINT)").alias("resid_e12"),
        "sq_norm",
        "proj_dot",
    )


def _spectral_outliers_sql() -> str:
    """Twin: the shared power-iteration chain, then per-vector centered
    integer folds and the exact HUGEINT residual rank."""
    parts = _eigvec_parts(_EMB_DIM, POWER_ITERS) + [
        f"vden AS (SELECT SUM(vv * vv) AS den FROM v{POWER_ITERS})",
        "mu AS MATERIALIZED (SELECT dim,"
        " s // (SELECT n FROM cnt) AS m FROM sv)",
        "cvals AS MATERIALIZED (SELECT c.vec_id, c.dim,"
        " CAST(c.e6 AS HUGEINT) - mu.m AS cv2"
        " FROM comp c JOIN mu ON mu.dim = c.dim)",
        f"pv AS MATERIALIZED (SELECT cv.vec_id,"
        f" SUM(cv.cv2 * cv.cv2) AS sq_norm,"
        f" SUM(cv.cv2 * v.vv) AS proj FROM cvals cv"
        f" JOIN v{POWER_ITERS} v ON v.j = cv.dim GROUP BY 1)",
        "sc AS (SELECT vec_id, sq_norm, proj,"
        " sq_norm * (SELECT den FROM vden) - proj * proj AS resid"
        " FROM pv)",
        "rk AS (SELECT *, ROW_NUMBER() OVER ("
        "ORDER BY resid DESC, vec_id ASC) AS rank FROM sc)",
    ]
    return (
        ",\n".join(parts)
        + f"""
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS INT) AS rank,
       CAST(resid // (SELECT den FROM vden) AS BIGINT) AS resid_e12,
       CAST(sq_norm AS BIGINT) AS sq_norm,
       CAST(proj AS BIGINT) AS proj_dot
FROM rk WHERE rank <= {_SPECTRAL_TOP_K}"""
    )


_SPECTRAL_OUTLIERS_SQL = _spectral_outliers_sql()


#: Distinct sensitive values below which customer_l_diversity (and its
#: SQL twin) flags a class.
_L_DIVERSITY_L = 3


def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (round-10 session 3) — the companion privacy
    gate to customer_k_anonymity: a quasi-identifier class can be
    k-anonymous yet still leak if everyone in it shares the same
    SENSITIVE value (Machanavajjhala et al. 2007). Quasi-id =
    (nation, market segment); sensitive = the customer's order
    priorities. Emits per class: order count, distinct sensitive
    values, Shannon entropy of the sensitive distribution
    (micro-nats, the engine's log convention), and the violates flag
    (distinct < l).

    Scale: customers broadcast into the orders scan, ONE map-side
    combine to |classes|·|priorities| rows, then windows over that
    metadata-sized relation only."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        "c_nationkey",
        "c_mktsegment",
    )
    orders = load_table(spark, sf_dir, "orders")
    cp = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    terms = cp.withColumn(
        "t", F.sum("c").over(w)
    ).withColumn(
        "term_micro",
        F.round(
            -(F.col("c").cast("double") / F.col("t").cast("double"))
            * F.log(
                F.col("c").cast("double") / F.col("t").cast("double")
            )
            * F.lit(1000000.0)
        ).cast("long"),
    )
    return (
        terms.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("c").alias("n_orders"),
            F.count(F.lit(1)).cast("long").alias("distinct_sensitive"),
            F.sum("term_micro").alias("entropy_micro"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_orders",
            "distinct_sensitive",
            "entropy_micro",
            (F.col("distinct_sensitive") < _L_DIVERSITY_L).alias("violates_l"),
        )
    )


_L_DIVERSITY_SQL = f"""
WITH cp AS (
  SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2, 3
), terms AS (
  SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS t
  FROM cp
)
SELECT c_nationkey, c_mktsegment,
       CAST(SUM(c) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS distinct_sensitive,
       CAST(SUM(CAST(round(
           -(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)
           * 1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micro,
       COUNT(*) < {_L_DIVERSITY_L} AS violates_l
FROM terms GROUP BY 1, 2
"""


def embedding_label_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label embedding drift between the two id-parity halves of
    the corpus (round-10 session 3) — the train/holdout geometry
    check: if a label's centroid moves between halves, the embedding
    space is unstable for that class (sampling artifact, upstream
    model change, or contamination) and downstream quantizers/probes
    trained on one half won't transfer. Emits per label: half sizes,
    squared centroid distance (micro², exact), and the largest
    single-dimension gap.

    Exactness: component sums on the micro grid, trunc-div means
    (identical in both engines), integer differences — no float ever
    aggregates. Scale: posexplode + ONE map-side-combined aggregate to
    |labels|·d rows, then a |labels| rollup; no joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode("embedding").alias("dim_idx", "x"),
    ).select(
        "label",
        "even",
        "dim_idx",
        F.expr(
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("e6"),
    )
    g = comp.groupBy("label", "dim_idx").agg(
        F.sum(F.when(F.col("even"), F.col("e6"))).alias("se"),
        F.count(F.when(F.col("even"), F.lit(1))).alias("ne"),
        F.sum(F.when(~F.col("even"), F.col("e6"))).alias("so"),
        F.count(F.when(~F.col("even"), F.lit(1))).alias("no"),
    )
    d = g.select(
        "label",
        "ne",
        "no",
        F.expr(
            "coalesce(se, CAST(0 AS BIGINT)) div GREATEST(ne, 1)"
            " - coalesce(so, CAST(0 AS BIGINT)) div GREATEST(no, 1)"
        ).alias("d"),
    )
    return d.groupBy("label").agg(
        F.max("ne").alias("n_even"),
        F.max("no").alias("n_odd"),
        F.sum(F.expr("d * d")).alias("drift_sq_e12"),
        F.max(F.abs("d")).alias("max_dim_gap_e6"),
    )


_LABEL_DRIFT_SQL = """
WITH comp AS (
  SELECT label, vec_id % 2 = 0 AS even,
         generate_subscripts(embedding, 1) - 1 AS dim_idx,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS BIGINT) AS e6
  FROM embeddings
), g AS (
  SELECT label, dim_idx,
         CAST(SUM(CASE WHEN even THEN e6 END) AS BIGINT) AS se,
         CAST(COUNT(CASE WHEN even THEN 1 END) AS BIGINT) AS ne,
         CAST(SUM(CASE WHEN NOT even THEN e6 END) AS BIGINT) AS so,
         CAST(COUNT(CASE WHEN NOT even THEN 1 END) AS BIGINT) AS no
  FROM comp GROUP BY 1, 2
), d AS (
  SELECT label, ne, no,
         coalesce(se, 0) // GREATEST(ne, 1)
           - coalesce(so, 0) // GREATEST(no, 1) AS d
  FROM g
)
SELECT label,
       CAST(MAX(ne) AS BIGINT) AS n_even,
       CAST(MAX(no) AS BIGINT) AS n_odd,
       CAST(SUM(d * d) AS BIGINT) AS drift_sq_e12,
       CAST(MAX(ABS(d)) AS BIGINT) AS max_dim_gap_e6
FROM d GROUP BY label
"""


def running_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative distinct users per event type by day (round-10
    session 3) — the audience-growth curve. COUNT(DISTINCT) OVER a
    running frame is unsupported in every engine for good reason
    (state grows with the distinct set); the scalable identity is:
    distinct-so-far = Σ first-occurrences, and a user's first
    occurrence day is just MIN(day) — one combine, no window over raw
    events. Emits (event_type, day, new_users, cum_users).

    Scale: ONE (type, user) map-side combine, a (type, day) rollup,
    then the running sum over the metadata-sized |types|·|days|
    relation."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = firsts.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


_RUNNING_DISTINCT_SQL = """
WITH firsts AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY 1, 2
)
SELECT event_type, day, new_users,
       CAST(SUM(new_users) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM daily
"""


#: Trigrams reported by session_event_trigrams and its SQL twin.
_TRIGRAM_TOP_K = 30


def session_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining one order up from the Markov pair
    matrix (round-10 session 4): the top-30 consecutive event-type
    TRIGRAMS across per-user streams, gap-bounded to 24 hours so a
    triple never bridges dormant stretches (the bound is the
    sessionization parameter; the fixture streams are sparse — median
    2-step gap ≈ 17 h — so a web-style 30-min gap would empty them)
    — the "what three-step paths
    do users actually walk" report behind funnel design and bot
    signature hunting (association rules mine unordered itemsets;
    this keeps ORDER, the thing sequences are about).

    Scale shape: ONE shuffle on user_id for the lead() windows (total
    order (ts, event_id), the markov convention), then a map-side
    combine to ≤ |types|³ rows and a top-k rank over that metadata
    relation with a full lexicographic tie-break. Share is integer
    ppm of all gap-valid triples."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .withColumn("ts3", F.lead("ts", 2).over(w))
        .filter(
            F.col("t3").isNotNull()
            & (
                F.unix_timestamp("ts3") - F.unix_timestamp("ts")
                <= 86400
            )
        )
        .groupBy(
            F.col("event_type").alias("t1"), "t2", "t3"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = tri.agg(F.sum("n").alias("total"))
    ranked = tri.crossJoin(F.broadcast(total)).select(
        "t1",
        "t2",
        "t3",
        "n",
        F.expr("n * CAST(1000000 AS BIGINT) div total").alias(
            "share_ppm"
        ),
    )
    wr = Window.orderBy(
        F.col("n").desc(), "t1", "t2", "t3"
    )
    return (
        ranked.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _TRIGRAM_TOP_K)
    )


_TRIGRAM_SQL = f"""
WITH tri AS (
  SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT event_type AS t1,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3,
           lead(ts, 2) OVER w AS ts3, ts
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND event_type IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
  )
  WHERE t3 IS NOT NULL AND epoch(ts3) - epoch(ts) <= 86400
  GROUP BY 1, 2, 3
), tot AS (SELECT SUM(n) AS total FROM tri)
SELECT t1, t2, t3, n,
       CAST(n * 1000000 // (SELECT total FROM tot) AS BIGINT)
         AS share_ppm,
       CAST(rank AS INT) AS rank
FROM (
  SELECT tri.*, ROW_NUMBER() OVER (
    ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC) AS rank
  FROM tri
) WHERE rank <= {_TRIGRAM_TOP_K}
"""


def incremental_curation_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curated-set churn between two crawl snapshots (round-10
    session 4): run the FULL curation chain (quality selection →
    exact dedup → eval withholding → decontamination) on the old and
    new snapshots (the corpus_snapshot_diff derivation rule) and
    report, per source, how many documents entered, left, or stayed
    in the curated set. The number an incremental re-train actually
    needs — and it is NOT derivable from the raw diff: quality
    selection is relative (top 20% per source) and dedup keeps
    min-ids, so an untouched document can fall out of the curated set
    because its NEIGHBORS changed. Membership churn ≥ content churn,
    by design.

    Scale: two curation chains (each the funnel's linear cost) + one
    full-outer join on doc_id over the two CURATED sets (already
    ≤ ~15% of the corpus each) reduced to (id, source) first; the
    report is a |sources|·3 combine."""
    docs = load_table(spark, sf_dir, "documents")
    old_docs, new_docs = _crawl_snapshots(docs)
    *_, clean_old = _curation_stages(spark, sf_dir, docs=old_docs)
    *_, clean_new = _curation_stages(spark, sf_dir, docs=new_docs)
    o = clean_old.select(
        "doc_id", F.col("source").alias("src_o"), F.lit(True).alias("in_old")
    )
    n = clean_new.select(
        "doc_id", F.col("source").alias("src_n"), F.lit(True).alias("in_new")
    )
    j = o.join(n, "doc_id", "full_outer").select(
        F.coalesce("src_o", "src_n").alias("source"),
        F.when(F.col("in_old").isNull(), "entered")
        .when(F.col("in_new").isNull(), "left")
        .otherwise("stayed")
        .alias("status"),
    )
    return j.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


_CURATION_DELTA_SQL = f"""
WITH old_docs AS (
  SELECT * FROM documents WHERE doc_id % 20 <> 0
), new_docs AS (
  SELECT doc_id, lang, source, n_chars,
         CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
              WHEN doc_id % 11 = 0 THEN text || '  '
              ELSE text END AS text
  FROM documents WHERE doc_id % 19 <> 0
),
{_curation_stage_ctes("old_docs", "_o")},
{_curation_stage_ctes("new_docs", "_n")},
j AS (
  SELECT coalesce(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'entered'
              WHEN n.doc_id IS NULL THEN 'left'
              ELSE 'stayed' END AS status
  FROM clean_o o FULL OUTER JOIN clean_n n ON o.doc_id = n.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM j GROUP BY 1, 2
"""


#: BFS rounds of the harmonic-centrality query and its SQL twin.
_HARMONIC_ROUNDS = 4



def part_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-round harmonic centrality over the repeat-co-purchase
    part graph (round-10 session 5) — the centrality member of the
    graph family beside PageRank (global mass), k-core (density),
    clustering coefficient (closure), BFS (seed distance), and
    modularity (partition quality): H(s) = Σ 1/d(s, v), the measure
    that stays meaningful on disconnected co-purchase graphs where
    closeness diverges. Sources are the ≤32-node bounded slice
    {n ≡ 0 mod 53, n < 1696} of graph nodes (state multiplies by
    |sources|, so the bound is the scale contract — the
    hard-negatives lesson applied at design time); 4 fixed rounds,
    micro-grid reciprocals; see operators/graph.per_source_harmonic."""
    from ..operators.graph import per_source_harmonic

    li = load_table(spark, sf_dir, "lineitem")
    ue = _repeat_copurchase_edges(li)
    nodes = ue.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("n")
    ).distinct()
    sources = nodes.filter((F.col("n") % 53 == 0) & (F.col("n") < 1696))
    return per_source_harmonic(ue, sources, rounds=_HARMONIC_ROUNDS)


def _harmonic_sql() -> str:
    parts = [
        f"""WITH {_BFS_EDGES_CTES}, f0 AS MATERIALIZED (
  SELECT DISTINCT n AS src, n AS node
  FROM (SELECT a AS n FROM bidir)
  WHERE n % 53 = 0 AND n < 1696
), v0 AS MATERIALIZED (
  SELECT src, node, CAST(0 AS BIGINT) AS dist FROM f0
)""",
    ]
    for t in range(1, _HARMONIC_ROUNDS + 1):
        p = t - 1
        parts.append(
            f""", nb{t} AS MATERIALIZED (
  SELECT DISTINCT f.src, e.b AS node
  FROM f{p} f JOIN bidir e ON e.a = f.node
), f{t} AS MATERIALIZED (
  SELECT nb.src, nb.node FROM nb{t} nb
  ANTI JOIN v{p} v ON v.src = nb.src AND v.node = nb.node
), v{t} AS MATERIALIZED (
  SELECT src, node, dist FROM v{p}
  UNION ALL SELECT src, node, CAST({t} AS BIGINT) FROM f{t}
)"""
        )
    parts.append(
        f"""
SELECT s.src,
       CAST(coalesce(h.n_reached, 0) AS BIGINT) AS n_reached,
       CAST(coalesce(h.harmonic_micro, 0) AS BIGINT)
         AS harmonic_micro
FROM (SELECT DISTINCT src FROM f0) s LEFT JOIN (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro
  FROM v{_HARMONIC_ROUNDS} WHERE dist > 0 GROUP BY src
) h ON h.src = s.src"""
    )
    return "".join(parts)


_HARMONIC_SQL = _harmonic_sql()




# --- round 11 ---------------------------------------------------------


def _persisted_ann_model(
    spark: SparkSession,
    sf_dir: str,
    components: tuple[str, ...] | None = None,
) -> dict:
    """Fit-or-load the shared persisted ANN model (coarse centroids +
    PQ codebooks) for ``sf_dir``'s embeddings table — the model state
    behind ivfpq_persisted_topk AND stream_ann_ingest_dedup (r13: the
    ingest stream serves the same fit-once quantizer the top-k serving
    path uses, exactly like a production deployment shares one index
    build)."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from ..operators.similarity import (
        kmeans_centroids,
        load_ann_model,
        pq_train,
        save_ann_model,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # fit ONLY when the persisted model is absent — the actual
    # lifecycle (and what the bench prices: warm run fits+saves,
    # measured runs load+serve). The cache key is a CONTENT
    # fingerprint of the embeddings table (resolved path + per-file
    # relpath/mtime_ns/size) plus a params version token, so
    # regenerated fixture data, two datasets sharing a basename, or a
    # fit-recipe change can never serve a stale model (r11 ADVICE
    # medium #2). The dir is per-user (0700, not world-writable), and
    # the fit writes to a unique tmp name renamed into place — rename
    # is atomic, so concurrent fitters either win the rename or serve
    # the winner's (bit-identical: the fits are RNG-free).
    src = os.path.realpath(os.path.join(sf_dir, "embeddings.parquet"))
    h = hashlib.sha256(src.encode())
    paths = [src]
    if os.path.isdir(src):
        paths = [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(src)
            for f in sorted(files)
        ]
    for p in sorted(paths):
        st = os.stat(p)
        rel = os.path.relpath(p, src) if p != src else "."
        h.update(f"|{rel}:{st.st_mtime_ns}:{st.st_size}".encode())
    cache_root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ann_u{getattr(os, 'getuid', lambda: 0)()}",
    )
    os.makedirs(cache_root, mode=0o700, exist_ok=True)
    path = os.path.join(
        cache_root, f"model_v1_k8_m8_ksub16_{h.hexdigest()[:16]}"
    )
    if not os.path.exists(os.path.join(path, "codebooks", "_SUCCESS")):
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        save_ann_model(
            spark,
            tmp,
            centroids=kmeans_centroids(emb, k=IVF_N_CELLS),
            codebooks=pq_train(emb),
        )
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent fitter won the rename; its model is
            # bit-identical — discard ours and serve the winner's
            shutil.rmtree(tmp, ignore_errors=True)
    return load_ann_model(spark, path, components)


def ivfpq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from a PERSISTED model (r10 VERDICT ask #4): fit
    the same RNG-free quantizers as embedding_ivfpq_topk, write them
    to parquet (operators/similarity.save_ann_model), load them back,
    and serve ADC top-5 from the LOADED state — the fit-once/
    serve-many lifecycle a 100 TB deployment actually runs (model
    state lives in the object store; serving jobs never refit).
    Parquet DOUBLE columns round-trip IEEE-754 bit-exactly, so this
    query's oracle is the SAME composed unrolled-CTE twin as the
    fit-path query: a hash match proves the persistence layer is
    lossless end-to-end."""
    from ..operators.similarity import ivfpq_serve

    model = _persisted_ann_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_serve(emb, model["centroids"], model["codebooks"])


#: Hops and KMV register size of copurchase_hyperball and its SQL twin.
_HYPERBALL_ROUNDS = 2
_HYPERBALL_K = 8



def copurchase_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood-function sketch over the repeat
    co-purchase part graph (r11; the sketch the harmonic-centrality
    docstring names as the full-diameter alternative): per part, a
    k=8 KMV register of the nodes within 2 hops, reported as
    (n_regs, kth-min hash, ball-size estimate). Balls under k are
    exact; saturated ones use the integer Bar-Yossef estimator
    (k-1)*2^60 div (h_k+1). The oracle computes 2-hop balls EXACTLY
    (unrolled BFS) and bottom-k's their hashes — equal by the KMV
    merge's losslessness, so the twin doubles as a standing proof the
    distributed sketch evolution loses nothing. See
    operators/graph.hyperball_kmv for the scale contract (state is
    n*k longs; per round one adjacency join + distinct + bottom-k
    window)."""
    from ..operators.graph import hyperball_kmv

    li = load_table(spark, sf_dir, "lineitem")
    ue = _repeat_copurchase_edges(li)
    return hyperball_kmv(ue, rounds=_HYPERBALL_ROUNDS, k=_HYPERBALL_K).select(
        F.col("node").alias("part"), "n_regs", "kmin_max", "est_ball"
    )


def _hyperball_sql() -> str:
    """Exact-ball twin of copurchase_hyperball: unrolled BFS to
    distance <= rounds, then per-node bottom-k of the shared 60-bit
    md5 grid — equal to the iterative KMV merge by associativity/
    idempotence of bottom-k."""
    hb_hash = (
        "CAST(('0x' || substring(md5('hb1|' || CAST(w AS VARCHAR)),"
        " 1, 15)) AS BIGINT)"
    )
    parts = [
        f"WITH {_BFS_EDGES_CTES}",
        "nodesq AS MATERIALIZED (SELECT DISTINCT a AS n FROM bidir)",
        "r0 AS MATERIALIZED (SELECT n AS v, n AS w FROM nodesq)",
    ]
    for t in range(1, _HYPERBALL_ROUNDS + 1):
        p = t - 1
        parts.append(
            f"r{t} AS MATERIALIZED (SELECT v, w FROM r{p}"
            f" UNION SELECT r{p}.v, bidir.b AS w FROM r{p}"
            f" JOIN bidir ON bidir.a = r{p}.w)"
        )
    parts += [
        f"hashed AS MATERIALIZED (SELECT DISTINCT v, {hb_hash} AS h"
        f" FROM r{_HYPERBALL_ROUNDS})",
        "ranked AS MATERIALIZED (SELECT v, h, ROW_NUMBER() OVER ("
        "PARTITION BY v ORDER BY h) AS rk FROM hashed)",
        f"regs AS (SELECT v, h FROM ranked WHERE rk <= {_HYPERBALL_K})",
    ]
    return (
        ",\n".join(parts)
        + f"""
SELECT v AS part, CAST(COUNT(*) AS INT) AS n_regs,
       MAX(h) AS kmin_max,
       CASE WHEN COUNT(*) < {_HYPERBALL_K} THEN CAST(COUNT(*) AS BIGINT)
            ELSE CAST({(_HYPERBALL_K - 1) * (1 << 60)} AS BIGINT) // (MAX(h) + 1)
       END AS est_ball
FROM regs GROUP BY v"""
    )


_HYPERBALL_SQL = _hyperball_sql()


def dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal near-dup agreement audit (r11): join the TEXT
    near-dup relation (MinHash-LSH candidates, exact-verified shingle
    Jaccard >= 0.6) with the EMBEDDING near-dup relation (cosine >=
    0.45) on the canonical pair key and report, per agreement class
    (both / text_only / embedding_only), the pair count and how many
    pairs are same-source — the QA monitor a multi-signal dedup
    pipeline runs before trusting either signal alone (text-only
    pairs = paraphrase-blind shingles; embedding-only = semantic
    near-dups the shingle threshold misses; the both/only ratio per
    source is the drift alarm). Composes the two existing
    exact-verified pair operators; the agreement join keys on pair
    ids only — no text or vector payload moves."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.similarity import cosine_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tp = minhash_lsh_pairs(docs, threshold=0.6, num_hashes=16).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(True).alias("text_dup"),
    )
    ep = cosine_near_dup_pairs(emb, _EMB_NEAR_DUP_COS).select(
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        F.lit(True).alias("emb_dup"),
    )
    j = tp.join(ep, ["id_a", "id_b"], "full_outer")
    src = docs.select("doc_id", "source")
    labelled = (
        j.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("src_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("src_b"),
            ),
            "id_b",
        )
        .select(
            F.when(
                F.col("text_dup") & F.col("emb_dup"), F.lit("both")
            )
            .when(F.col("text_dup"), F.lit("text_only"))
            .otherwise(F.lit("embedding_only"))
            .alias("signal"),
            (F.col("src_a") == F.col("src_b")).alias("same_src"),
        )
    )
    return labelled.groupBy("signal").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("same_src").cast("long")).alias("same_source_pairs"),
    )


_SIGNAL_AGREEMENT_SQL = f"""
WITH tp AS MATERIALIZED ({_JACCARD_PAIRS_SQL}),
ep AS MATERIALIZED ({_EMB_NEAR_DUP_SQL}),
j AS (
  SELECT COALESCE(t.doc_a, e.vec_a) AS id_a,
         COALESCE(t.doc_b, e.vec_b) AS id_b,
         t.doc_a IS NOT NULL AS text_dup,
         e.vec_a IS NOT NULL AS emb_dup
  FROM tp t FULL OUTER JOIN ep e
    ON t.doc_a = e.vec_a AND t.doc_b = e.vec_b
)
SELECT CASE WHEN text_dup AND emb_dup THEN 'both'
            WHEN text_dup THEN 'text_only'
            ELSE 'embedding_only' END AS signal,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN da.source = db.source THEN 1 ELSE 0 END)
            AS BIGINT) AS same_source_pairs
FROM j
JOIN documents da ON da.doc_id = j.id_a
JOIN documents db ON db.doc_id = j.id_b
GROUP BY 1
"""




# --- round 12 ---------------------------------------------------------

#: Weight-quantization cap for weighted_priority_sample: weights are
#: clamped to powers of two 2^0..2^_AES_JMAX, so the A-ES rank key
#: u^(1/2^j) is an iterated-sqrt chain — every op correctly-rounded
#: IEEE, hence bit-identical across engines (libm pow/ln are NOT).
_AES_JMAX = 16


#: Sample size of weighted_priority_sample and its SQL twin.
_AES_N = 100



def weighted_priority_sample(
    spark: SparkSession, sf_dir: str, n: int = _AES_N
) -> DataFrame:
    """Weighted reservoir / priority sampling (Efraimidis-Spirakis
    2006, "Weighted random sampling with a reservoir"): each document
    draws u in (0,1] from the deterministic 60-bit md5 grid and ranks
    by key = u^(1/w); the global top-n by key IS a weighted sample
    without replacement with inclusion probability increasing in w —
    the classic curation shape for "sample 1M docs favoring long /
    high-quality ones" (the one sampling family still missing beside
    systematic/stratified/Neyman/mixture; r11 VERDICT ask #4).

    Weights (n_chars here) are quantized to powers of two,
    w_q = 2^floor(log2(w)) clamped to 2^_AES_JMAX, so the rank key
    u^(1/2^j) evaluates as j chained sqrt() calls: int->double casts,
    division by 2^60, and sqrt are all correctly-rounded IEEE ops, so
    Spark and the DuckDB twin produce bit-identical keys (exp(ln(u)/w)
    would hang cross-engine parity on libm ULPs; quantized-weight
    priority sampling is itself standard practice — the estimator only
    needs the key distribution, and a 2x weight grid shifts inclusion
    odds by at most sqrt(2) in key space). Quantization bands are
    picked by an exact integer CASE chain, never float log2.

    Scale shape: the key is a pure column expression inside the scan
    stage and the global top-n plans as TakeOrderedAndProject —
    per-partition partial top-n, one driver-side merge of n*partitions
    rows, ZERO shuffle (pinned by test_plans). At 100 TB this is one
    map pass; n rows of driver state."""
    return (
        _aes_keyed_docs(spark, sf_dir)
        .select("doc_id", "n_chars", "w_log2", "aes_key")
        .orderBy(F.col("aes_key").desc(), F.col("doc_id").asc())
        .limit(n)
    )


def _aes_keyed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the A-ES rank key as pure column expressions:
    (doc_id, source, n_chars, w_log2, aes_key). Shared by the global
    and the stratified priority samplers; see weighted_priority_sample
    for the bit-exactness argument (iterated sqrt, never libm pow)."""
    return _aes_key_cols(load_table(spark, sf_dir, "documents"))


def _aes_key_cols(docs: DataFrame) -> DataFrame:
    """The A-ES key expressions over any documents-shaped relation —
    also consumed per micro-batch by the streaming reservoir
    (streaming/pipelines.stream_priority_sample), whose merge proof
    rests on this key being a deterministic pure function of the row."""
    from ..functions.text import md5_hash64

    w = F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1))
    j = F.when(w >= F.lit(1 << _AES_JMAX), F.lit(_AES_JMAX))
    for e in range(_AES_JMAX - 1, 0, -1):
        j = j.when(w >= F.lit(1 << e), F.lit(e))
    j = j.otherwise(F.lit(0))
    h = md5_hash64(F.col("doc_id").cast("string"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    s = u
    key = F.when(F.col("w_log2") == 0, s)
    for e in range(1, _AES_JMAX + 1):
        s = F.sqrt(s)
        key = key.when(F.col("w_log2") == e, s)
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        j.cast("int").alias("w_log2"),
    ).withColumn("aes_key", key)


#: Documents per source of stratified_priority_sample and its SQL twin.
_AES_PER_STRATUM = 8


def stratified_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified A-ES priority sampling: the top-``per_stratum``
    documents PER SOURCE by the same weighted rank key — the curation
    shape for "sample N docs per source/language, favoring long ones"
    (quota sampling with within-stratum weight bias; composes the A-ES
    key with the engine's stratified-quota family). Without
    replacement within each stratum by construction.

    Scale shape: one exchange on the stratum key for the ranking
    window, partial top-k nothing — the window's rank filter keeps
    per_stratum rows per source, so the exchange is the only wide op
    and the output is |sources|·k rows (pinned by test_plans). At
    100 TB: one map pass + one shuffle of (id, source, key) triples —
    the document text never moves."""
    w = Window.partitionBy("source").orderBy(
        F.col("aes_key").desc(), F.col("doc_id").asc()
    )
    return (
        _aes_keyed_docs(spark, sf_dir)
        .withColumn("stratum_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("stratum_rank") <= _AES_PER_STRATUM)
        .select(
            "source", "stratum_rank", "doc_id", "n_chars", "aes_key"
        )
    )


def _aes_sql() -> str:
    """DuckDB twin of weighted_priority_sample: the same integer CASE
    banding, the same (h+1)/2^60 grid draw, and the same iterated-sqrt
    key — textually nested sqrt(sqrt(...)) so both engines execute the
    identical correctly-rounded op sequence."""
    w = "GREATEST(COALESCE(n_chars, 1), 1)"
    j_branches = " ".join(
        f"WHEN {w} >= {1 << e} THEN {e}"
        for e in range(_AES_JMAX, 0, -1)
    )
    u = (
        "(CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),"
        " 1, 15)) AS BIGINT) + 1 AS DOUBLE) / "
        f"{float(1 << 60)!r})"
    )
    key_branches = " ".join(
        "WHEN w_log2 = {e} THEN {expr}".format(
            e=e, expr="sqrt(" * e + "u" + ")" * e
        )
        for e in range(1, _AES_JMAX + 1)
    )
    return f"""
WITH drawn AS (
  SELECT doc_id, source,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(CASE {j_branches} ELSE 0 END AS INT) AS w_log2,
         {u} AS u
  FROM documents
),
keyed AS (
  SELECT doc_id, source, n_chars, w_log2,
         CASE {key_branches} ELSE u END AS aes_key
  FROM drawn
)
SELECT doc_id, n_chars, w_log2, aes_key
FROM keyed
ORDER BY aes_key DESC, doc_id ASC
LIMIT {_AES_N}
"""


_AES_SQL = _aes_sql()


def _stratified_aes_sql() -> str:
    """DuckDB twin of stratified_priority_sample: the identical keyed
    CTE (see _aes_sql), ranked per source."""
    base = _AES_SQL
    keyed_cte = base[: base.index(")\nSELECT")] + ")"
    return f"""{keyed_cte}
SELECT source,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY aes_key DESC, doc_id ASC) AS INT) AS stratum_rank,
       doc_id, n_chars, aes_key
FROM keyed
QUALIFY stratum_rank <= {_AES_PER_STRATUM}
"""


_STRATIFIED_AES_SQL = _stratified_aes_sql()


def stream_priority_sample_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming A-ES reservoir drained over the document feed — the
    SAME oracle as the batch sampler: the top-n-by-deterministic-key
    state is a mergeable sketch, so any micro-batching must land on
    the identical 100 rows (bit-exact keys included). See
    streaming/pipelines.stream_priority_sample."""
    from ..streaming.pipelines import stream_priority_sample

    return stream_priority_sample(spark, sf_dir)


#: b-bit minhash audit constants: K signature slots, pair threshold.
_BBIT_K = 16
_BBIT_THRESHOLD = 0.5


def bbit_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minhash resolution audit (Li & König, "b-Bit Minwise
    Hashing", WWW'10): for every exact-Jaccard >= 0.5 pair, compare the
    full-width K=16 minhash estimate against the 2-bit and 1-bit
    truncations with their collision-corrected estimators
    J_hat = (f - 2^-b)/(1 - 2^-b) — the storage/accuracy tradeoff a
    100 TB dedup deployment prices before cutting signature bytes 32x
    (16 longs -> 16 two-bit registers per doc).

    Cross-engine determinism: unlike the production minhash_lsh_pairs
    signatures (xxhash64 — engine-internal, their OUTPUT is what gets
    oracle-checked), the audit's estimates ARE the output, so slots use
    the shared md5 grid: slot i = min over shingles of
    md5_60bit(i || '|' || md5_60bit(shingle)) — the shingle string
    hashes once, the K slot hashes mix the 60-bit long (the same
    hash-once-mix-K shape as the production path; swap md5 for
    xxhash64 to deploy). Estimators are integer ppm with numerators
    clamped non-negative BEFORE the truncating DIV (negative-operand
    DIV is where Spark/DuckDB semantics could diverge).

    Scale shape: shingles explode once, signatures aggregate map-side
    into K longs per doc (the shuffle never carries shingles), and the
    audited pair set joins signatures on the pair keys. Output is one
    row per audited pair. The two bounded relations (audit pairs,
    per-audited-doc signatures) are localCheckpoint-ed because each
    has several downstream consumers — without truncation Catalyst
    re-derives the shingle self-join per consumer and the physical
    plan explodes to 14 shuffles / 94 broadcast joins (r12 VERDICT
    ask #7; same lineage rule as operators/graph.py)."""
    from ..functions.text import md5_hash64
    from ..operators.dedup import ngram_jaccard_pairs, shingled

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        ngram_jaccard_pairs(docs, threshold=_BBIT_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .transform(checkpoint_stage)
    )
    # signatures only for audited endpoints: the K slot hashes are the
    # dense map of this query, and the audit touches few docs — the
    # broadcast semi-join prunes the 16-hashes-per-shingle work to
    # exactly them (results per doc are unchanged; at 100 TB you audit
    # a pair SAMPLE, and this is the shape that makes that cheap)
    aud_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    base = (
        shingled(docs)
        .join(F.broadcast(aud_ids), "doc_id", "left_semi")
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", md5_hash64(F.col("shingle")).alias("bh"))
    )
    sig = base.groupBy("doc_id").agg(
        *[
            F.min(
                md5_hash64(
                    F.concat_ws(
                        "|", F.lit(str(i)), F.col("bh").cast("string")
                    )
                )
            ).alias(f"mh{i}")
            for i in range(_BBIT_K)
        ]
    ).transform(checkpoint_stage)  # one row per audited doc; 2 consumers
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_BBIT_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_BBIT_K)],
    )

    def n_matches(mask: int | None) -> F.Column:
        terms = []
        for i in range(_BBIT_K):
            a, b = F.col(f"a{i}"), F.col(f"b{i}")
            if mask is not None:
                a, b = a.bitwiseAND(mask), b.bitwiseAND(mask)
            terms.append(F.when(a == b, 1).otherwise(0))
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out.cast("long")

    ppm = F.lit(1_000_000)
    joined = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_matches(None).alias("matches_full"),
            n_matches(3).alias("matches_b2"),
            n_matches(1).alias("matches_b1"),
        )
    )
    # Estimator constants derive from _BBIT_K (r12 advice: hardcoded
    # 16/48 would silently skew if K changed while _bbit_sql(k) stayed
    # parameterized): J_hat = (f - 2^-b)/(1 - 2^-b) with f = m/K gives
    # b=2: (4m - K)/(3K) and b=1: (2m - K)/K, clamped before the
    # truncating DIV.
    k = _BBIT_K
    return joined.select(
        "doc_a",
        "doc_b",
        "jaccard",
        "matches_full",
        "matches_b2",
        "matches_b1",
        F.expr(f"1000000 * matches_full DIV {k}").alias("est_full_ppm"),
        F.expr(
            f"1000000 * GREATEST(0L, 4 * matches_b2 - {k}) DIV {3 * k}"
        ).alias("est_b2_ppm"),
        F.expr(
            f"1000000 * GREATEST(0L, 2 * matches_b1 - {k}) DIV {k}"
        ).alias("est_b1_ppm"),
    )


def _bbit_sql() -> str:
    """DuckDB twin of bbit_minhash_audit: the _JACCARD_PAIRS_SQL
    shingle/pair conventions, the shared md5-grid slot hashes, the
    same clamped-integer estimators."""
    h60 = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"
    slot_mins = ",\n         ".join(
        "MIN("
        + h60.format(x=f"'{i}|' || CAST(bh AS VARCHAR)")
        + f") AS mh{i}"
        for i in range(_BBIT_K)
    )
    m_full = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(_BBIT_K)
    )
    m_b2 = " + ".join(
        f"CASE WHEN (a.mh{i} & 3) = (b.mh{i} & 3) THEN 1 ELSE 0 END"
        for i in range(_BBIT_K)
    )
    m_b1 = " + ".join(
        f"CASE WHEN (a.mh{i} & 1) = (b.mh{i} & 1) THEN 1 ELSE 0 END"
        for i in range(_BBIT_K)
    )
    return f"""
WITH {_SHINGLE_COMMON_CTES}, pairs AS (
  SELECT doc_a, doc_b, c / (sa.n + sb.n - c) AS jaccard
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE c / (sa.n + sb.n - c) >= {_BBIT_THRESHOLD}
), basehash AS (
  SELECT doc_id, {h60.format(x="shingle")} AS bh FROM sh
), sig AS (
  SELECT doc_id,
         {slot_mins}
  FROM basehash GROUP BY doc_id
), audited AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         CAST({m_full} AS BIGINT) AS matches_full,
         CAST({m_b2} AS BIGINT) AS matches_b2,
         CAST({m_b1} AS BIGINT) AS matches_b1
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard, matches_full, matches_b2, matches_b1,
       1000000 * matches_full // {_BBIT_K} AS est_full_ppm,
       1000000 * GREATEST(0, 4 * matches_b2 - {_BBIT_K}) // {3 * _BBIT_K} AS est_b2_ppm,
       1000000 * GREATEST(0, 2 * matches_b1 - {_BBIT_K}) // {_BBIT_K} AS est_b1_ppm
FROM audited
"""


_BBIT_SQL = _bbit_sql()


# --- round 13 ---------------------------------------------------------


_ANN_INGEST_THRESHOLD = 0.45


def stream_ann_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN ingest near-dedup (r12 VERDICT ask #6 — the last
    north-star composition gap): embeddings arrive as a stream, each
    micro-batch is assigned to its IVF cell via the PERSISTED coarse
    quantizer (the same fit-once model ivfpq_persisted_topk serves
    from) and near-dup-flagged against the persisted vector store
    within that cell — the embedding twin of
    incremental_ingest_near_dedup. Output: every ingested vector with
    its cell and final canonicity.

    The dup rule (exists a smaller-vec_id same-cell vector with
    cosine >= 0.45, non-recursive) is order-insensitive, so the
    drained state is bit-identical to the batch twin regardless of
    micro-batching/replay/arrival order — which is exactly what this
    query's DuckDB oracle checks (the stream_priority_sample
    pattern): the oracle recomputes the unrolled k-means fit, the
    argmax cell assignment, and the within-cell pair rule over the
    whole corpus at once. Multi-batch, out-of-order, replay, and
    crash schedules are pinned by tests/test_round13.py.

    Scale shape: the model is bounded driver state; per batch the
    store scan is cell-pruned and joined against the BROADCAST
    arrivals (the store never shuffles); state appends are
    micro-batch-sized. See streaming/pipelines.ann_ingest_batch."""
    from ..streaming.pipelines import stream_ann_ingest

    model = _persisted_ann_model(spark, sf_dir, components=("centroids",))
    return stream_ann_ingest(
        spark, sf_dir, model["centroids"], threshold=_ANN_INGEST_THRESHOLD
    )


def _ann_ingest_sql() -> str:
    """DuckDB batch twin of stream_ann_ingest_dedup: the shared
    unrolled Lloyd chain (_kmeans_cte_chain — same params as the
    persisted model fit), argmax cell assignment over all vectors,
    then the non-recursive smaller-id within-cell near-dup rule on the
    raw (un-normalized) embeddings — the _EMB_NEAR_DUP_SQL cosine
    convention."""
    from ._northstar import _COS_SQL
    from ._tpch_corpus import _ASSIGN_SQL, _UNIT_SQL, _kmeans_cte_chain

    return (
        f"""WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw,
         {_UNIT_SQL.format(v='embedding')} AS v
  FROM embeddings
), smp AS (
  SELECT vec_id, v FROM n ORDER BY vec_id LIMIT {SAMPLE_N}
)"""
        + _kmeans_cte_chain("smp", IVF_N_CELLS, KMEANS_ITERS, _EMB_DIM)
        + f""", af AS MATERIALIZED ({_ASSIGN_SQL.format(fit_src='n', src=f'c{KMEANS_ITERS}')})
, dup AS (
  SELECT DISTINCT b.vec_id
  FROM af a
  JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE {_COS_SQL.format(a='na.raw', b='nb.raw')} >= {_ANN_INGEST_THRESHOLD}
)
SELECT af.vec_id, CAST(af.cid AS INT) AS ivf_cell,
       d.vec_id IS NULL AS is_canonical
FROM af LEFT JOIN dup d ON d.vec_id = af.vec_id"""
    )


_ANN_INGEST_SQL = _ann_ingest_sql()


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "embedding_hard_negatives": (
        embedding_hard_negatives,
        _HARD_NEG_SQL,
    ),
    "part_harmonic_centrality": (
        part_harmonic_centrality,
        _HARMONIC_SQL,
    ),
    "session_event_trigrams": (
        session_event_trigrams,
        _TRIGRAM_SQL,
    ),
    "incremental_curation_delta": (
        incremental_curation_delta,
        _CURATION_DELTA_SQL,
    ),
    "customer_l_diversity": (
        customer_l_diversity,
        _L_DIVERSITY_SQL,
    ),
    "embedding_label_centroid_drift": (
        embedding_label_centroid_drift,
        _LABEL_DRIFT_SQL,
    ),
    "running_distinct_users": (
        running_distinct_users,
        _RUNNING_DISTINCT_SQL,
    ),
    "kmeans_cluster_medoids": (
        kmeans_cluster_medoids,
        _KMEANS_MEDOIDS_SQL,
    ),
    "embedding_spectral_outliers": (
        embedding_spectral_outliers,
        _SPECTRAL_OUTLIERS_SQL,
    ),
    "nn_descent_knn_graph": (
        nn_descent_knn_graph,
        _NN_DESCENT_SQL,
    ),
    "embedding_top_eigenvector": (
        embedding_top_eigenvector,
        _EIGVEC_SQL,
    ),
    "doc_mojibake_audit": (doc_mojibake_audit, _MOJIBAKE_SQL),
    "ivfpq_persisted_topk": (ivfpq_persisted_topk, _IVFPQ_SQL),
    "copurchase_hyperball": (copurchase_hyperball, _HYPERBALL_SQL),
    "dedup_signal_agreement": (
        dedup_signal_agreement,
        _SIGNAL_AGREEMENT_SQL,
    ),
    "weighted_priority_sample": (
        weighted_priority_sample,
        _AES_SQL,
    ),
    "stream_ann_ingest_dedup": (
        stream_ann_ingest_dedup,
        _ANN_INGEST_SQL,
    ),
    "stratified_priority_sample": (
        stratified_priority_sample,
        _STRATIFIED_AES_SQL,
    ),
    "stream_priority_sample": (
        stream_priority_sample_q,
        _AES_SQL,
    ),
    "bbit_minhash_audit": (bbit_minhash_audit, _BBIT_SQL),
}


REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    **_core.QUERIES,
    **_northstar.QUERIES,
    **_timeseries.QUERIES,
    **_tpch_corpus.QUERIES,
    **_curation.QUERIES,
    **_graph_ann.QUERIES,
    **_analytics.QUERIES,
    **_round8.QUERIES,
    **QUERIES,
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
