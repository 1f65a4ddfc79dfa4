"""Link-graph rank, keep-best dedup, PQ-ADC, KMV overlap, IVM, incremental curation."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.graph import DAMPING_PCT, N_ITERATIONS
from ..operators.similarity import (
    IVF_N_CELLS,
    IVF_N_PROBE,
    KMEANS_ITERS,
    N_QUERIES,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    SAMPLE_N,
    SHORTLIST_K,
    TOP_K,
)
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
    _dsum,
    _ranked_topk,
    dec_sum,
    disc_price_cents,
)
from ._northstar import (
    _COS_SQL,
    _DENSE_HOURLY_CTES,
    _HASH64_SQL,
    _NORM_SQL,
    _TOKS_SQL,
    _dense_hourly_counts,
)
from ._timeseries import (
    _CC_CTES,
)
from ._tpch_corpus import (
    _ASSIGN_SQL,
    _IVF_SAMPLE_CTES,
    _SPAN_HASH_CTES,
    _UNIT_SQL,
    _kmeans_cte_chain,
    _span_pos_hashes,
)
from ._curation import (
    _BM25_TERMS,
    _BM25_TERMS_SQL,
    _QUALITY_SCORE_SQL,
    _bm25_per_doc_tf,
    _bm25_sql,
    doc_bm25_search,
)


# ---------------------------------------------------------------------------
# round-6 additions: link-graph rank, keep-best dedup, bigram LM,
# semantic decontamination, mixture resampling, PQ-ADC search
# ---------------------------------------------------------------------------


def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jégou et al. 2011) — the fourth
    ANN tier after brute-force / LSH / IVF: the corpus is stored as m=8
    4-bit-ish subspace codes (16 centroids each) and queried through
    per-subspace distance lookups, the memory-side scale path (16×
    narrower scans than raw vectors; composes with IVF cell pruning as
    IVF-PQ at 100 TB). Codebook training is RNG-free (first-4096
    sample, first-k init, 3 fixed L2 Lloyd's rounds) and ENGINE-EXACT
    (sequential-per-dim reductions + 1e-9-grid centroid updates; the
    assignment argmin uses the expanded ``‖c‖² − 2·x·c`` score with
    identical term order in numpy, unrolled Spark codegen, and SQL),
    so encode + ADC have an exact unrolled-CTE DuckDB twin —
    hash-checked like ivf_topk, not recall-tested. ADC distances come
    from the classic per-query lookup table: n_queries×m×ksub doubles
    of driver model state, like BM25's idf."""
    from ..operators.similarity import pq_adc_topk

    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


_PQ_DIST2_SQL = (
    "list_dot_product("
    "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]), "
    "list_transform(generate_series(1, {n}), i -> {a}[i] - {b}[i]))"
)


def _pq_subspace_chain(j: int, dsub: int, ksub: int, iters: int) -> str:
    """Unrolled plain-L2 Lloyd's for subspace ``j`` (1-based) over the
    sample CTE ``smp``: twin of the per-subspace fit in
    operators/similarity.pq_train. p{j}c{iters} holds the final
    codebook; e{j} encodes the full corpus against it. Assignments
    order by the expanded score ``‖c‖² − 2·x·c`` (argmin-equivalent to
    dist², ‖x‖² constant per row; lowest cid on ties — the
    numpy-argmin/first-occurrence rule) — the exact expression
    pq_train/pq_encode accumulate, term by term."""
    off = (j - 1) * dsub
    d2 = (
        "(list_dot_product(c.cvec, c.cvec)"
        " - 2 * list_dot_product(f.sv, c.cvec))"
    )
    parts = [
        f""", s{j}f AS (
  SELECT vec_id, v[{off + 1}:{off + dsub}] AS sv FROM smp
), p{j}c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sv AS cvec
  FROM (SELECT vec_id, sv FROM s{j}f ORDER BY vec_id LIMIT {ksub})
)"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f""", p{j}a{it} AS (
  SELECT vec_id, sv, cid FROM (
    SELECT f.vec_id, f.sv, c.cid,
           row_number() OVER (PARTITION BY f.vec_id
             ORDER BY {d2} ASC, c.cid ASC) AS rn
    FROM s{j}f f, p{j}c{it - 1} c) t
  WHERE rn = 1
), p{j}u{it} AS (
  SELECT cid, list(sm ORDER BY d) AS cvec
  FROM (SELECT cid, t.i AS d,
               (CAST(SUM(CAST(floor(sv[t.i] * 1e9 + 0.5) AS BIGINT))
                     AS BIGINT) / 1e9) / COUNT(*) AS sm
        FROM p{j}a{it}, range(1, {dsub + 1}) t(i) GROUP BY cid, t.i) z
  GROUP BY cid
), p{j}c{it} AS (
  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
  FROM p{j}c{it - 1} p LEFT JOIN p{j}u{it} u USING (cid)
)"""
        )
    parts.append(
        f""", e{j} AS (
  SELECT vec_id, cid AS code{j} FROM (
    SELECT f.vec_id, c.cid,
           row_number() OVER (PARTITION BY f.vec_id
             ORDER BY {d2} ASC, c.cid ASC) AS rn
    FROM (SELECT vec_id, v[{off + 1}:{off + dsub}] AS sv FROM n) f,
         p{j}c{iters} c) t
  WHERE rn = 1
)"""
    )
    return "".join(parts)


_PQ_DSUB = _EMB_DIM // PQ_M
#: The PQ_M per-subspace chains of the PQ oracles, and the codebook
#: joins and the left-associated m-term ADC sum over their codes (the
#: exact order the Spark side adds its fold terms in).
_PQ_CHAINS_SQL = "".join(
    _pq_subspace_chain(j, _PQ_DSUB, PQ_KSUB, PQ_ITERS) for j in range(1, PQ_M + 1)
)
_PQ_BOOK_JOINS_SQL = " ".join(
    f"JOIN p{j}c{PQ_ITERS} b{j} ON e{j}.code{j} = b{j}.cid"
    for j in range(1, PQ_M + 1)
)
_PQ_ADIST_SQL = " + ".join(
    _PQ_DIST2_SQL.format(
        n=_PQ_DSUB,
        a=f"q.qv[{(j - 1) * _PQ_DSUB + 1}:{j * _PQ_DSUB}]",
        b=f"b{j}.cvec",
    )
    for j in range(1, PQ_M + 1)
)
#: Per-query ADC top-{k} over the ``cand`` (query_id, vec_id, adist) CTE.
_ADC_TOPK_SQL = """
SELECT query_id, vec_id, adist, CAST(rank AS INT) AS rank FROM (
  SELECT cand.*, row_number() OVER (PARTITION BY query_id
           ORDER BY adist ASC, vec_id ASC) AS rank
  FROM cand) t
WHERE rank <= {k}"""


def _pq_adc_sql(
    k: int = TOP_K,
) -> str:
    """DuckDB twin of operators/similarity.pq_adc_topk: m unrolled
    per-subspace L2 k-means chains, corpus encoding, and the ADC
    distance sum."""
    enc_joins = " ".join(
        f"JOIN e{j} USING (vec_id)" for j in range(2, PQ_M + 1)
    )
    return f"""WITH n AS (
  SELECT vec_id, {_UNIT_SQL.format(v='embedding')} AS v FROM embeddings
), smp AS (
  SELECT vec_id, v FROM n ORDER BY vec_id LIMIT {SAMPLE_N}
){_PQ_CHAINS_SQL}, qs AS (
  SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.query_id, e1.vec_id, {_PQ_ADIST_SQL} AS adist
  FROM qs q, e1 {enc_joins} {_PQ_BOOK_JOINS_SQL}
){_ADC_TOPK_SQL.format(k=k)}"""


_PQ_ADC_SQL = _pq_adc_sql()


def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 — the full billion-vector ANN composition (Faiss's
    IVFx,PQy family): the spherical coarse quantizer prunes to 3/8
    cells per query, and residual-free ADC over the PQ codes scores
    only the survivors. Both quantizer fits are RNG-free and
    engine-exact, so the ENTIRE pipeline (coarse fit → cell assign →
    PQ fit ×8 → encode → probe → LUT scoring → rank) is one
    hash-checked query against a composed unrolled-CTE oracle — the
    largest oracle in the registry, and the proof the two quantizer
    contracts hold under composition."""
    from ..operators.similarity import ivfpq_topk

    return ivfpq_topk(load_table(spark, sf_dir, "embeddings"))


def _ivfpq_sql() -> str:
    """DuckDB twin of operators/similarity.ivfpq_topk: the spherical
    coarse chain (_kmeans_cte_chain, shared with ivf_topk/semdedup)
    composed with the m per-subspace L2 PQ chains, cell probing, and
    LUT-exact ADC ranking over probed cells only."""
    enc_joins = " ".join(
        f"JOIN e{j} ON e{j}.vec_id = e1.vec_id" for j in range(2, PQ_M + 1)
    )
    chain = _kmeans_cte_chain("smp", IVF_N_CELLS, KMEANS_ITERS, _EMB_DIM)
    assign = _ASSIGN_SQL.format(fit_src="n", src=f"c{KMEANS_ITERS}")
    return f"""{_IVF_SAMPLE_CTES}{chain}, af AS ({assign}){_PQ_CHAINS_SQL}, qs AS (
  SELECT vec_id AS query_id, raw AS qraw, v AS qv FROM n
  WHERE vec_id < {N_QUERIES}
), qc AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_COS_SQL.format(a='q.qraw', b='c.cvec')} DESC,
                      c.cid ASC) AS rn
    FROM qs q, c{KMEANS_ITERS} c) t
  WHERE rn <= {IVF_N_PROBE}
), cand AS (
  SELECT q.query_id, e1.vec_id, {_PQ_ADIST_SQL} AS adist
  FROM qs q
  JOIN qc ON qc.query_id = q.query_id
  JOIN af ON af.cid = qc.cid
  JOIN e1 ON e1.vec_id = af.vec_id
  {enc_joins}
  {_PQ_BOOK_JOINS_SQL}
){_ADC_TOPK_SQL.format(k=TOP_K)}"""


_IVFPQ_SQL = _ivfpq_sql()


def tem_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry gap-filling / resampling — the time-series operator
    the reference's sensor domain actually needs (its `Tem(Avg)` rows
    arrive irregularly; training and dashboarding want a regular
    grid): per user, an hourly grid spanning their history, each grid
    point linearly interpolated between the nearest readings on
    either side.

    Exactness: interpolation runs on integer cents × epoch seconds —
    (prev·(t₂−t) + next·(t−t₁)) div (t₂−t₁) — so results are
    bit-identical across engines and partitionings (no float in the
    formula; the module's integer-grid rule). Plan: grid generation is
    explode(sequence) off a per-user min/max aggregate, then ONE
    user-keyed shuffle where a single sorted window pass computes both
    neighbors (last non-NULL reading ≤ t via the preceding frame,
    first > t via the following frame — same sort order, so one sort,
    two frames). Events at exactly a grid instant sort before it and
    become the `prev` bound, collapsing the formula to their value
    exactly — including a user's LAST reading when it lands on the
    hour (no `next` exists there; the pe == te branch keeps it). Grid
    points strictly outside a user's reading span are dropped
    (nothing to interpolate toward): a user whose only reading is
    off-hour emits no rows. Overflow envelope: |cents| ≤ ~5e4 × a gap of up to a
    YEAR in microseconds (3.2e13) ≈ 1.6e18 < 2^63 — longer gaps than
    that between consecutive readings of one sensor would need the
    formula rebased to millis."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", _cents("value").alias("cents"), "event_id"
    )
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.expr("sequence(t0, t1, interval 1 hour)")
        ).alias("ts"),
    ).select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("cents"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("is_grid"),
    )
    readings = ev.select(
        "user_id", "ts", "cents", "event_id", F.lit(0).alias("is_grid")
    )
    merged = readings.unionByName(grid)
    # exact microsecond integers: Spark's cast-to-long FLOORS
    # sub-second timestamps while DuckDB's CAST(epoch() AS BIGINT)
    # ROUNDS them — unix_micros/epoch_us are exact on both sides
    epoch = F.unix_micros(F.col("ts"))
    order = [F.col("ts").asc(), F.col("is_grid").asc(), F.col("event_id").asc()]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    annotated = merged.select(
        "user_id",
        "ts",
        "is_grid",
        F.last("cents", ignorenulls=True).over(wp).alias("pc"),
        F.last(F.when(F.col("cents").isNotNull(), epoch), ignorenulls=True)
        .over(wp)
        .alias("pe"),
        F.first("cents", ignorenulls=True).over(wn).alias("nc"),
        F.first(F.when(F.col("cents").isNotNull(), epoch), ignorenulls=True)
        .over(wn)
        .alias("ne"),
        epoch.alias("te"),
    )
    # pe == te: a reading sits exactly on the grid instant — emit its
    # value verbatim, even when it is the user's LAST reading (nc is
    # NULL there; the plain both-bounds filter would silently drop a
    # grid point whose value is exactly known). When nc exists the
    # formula reduces to pc anyway ((pc·(ne−te)) div (ne−te)), so the
    # branch only changes the NULL-next case.
    interp = F.when(F.col("pe") == F.col("te"), F.col("pc")).otherwise(
        F.expr("(pc * (ne - te) + nc * (te - pe)) div (ne - pe)")
    )
    return (
        annotated.filter(
            (F.col("is_grid") == 1)
            & F.col("pc").isNotNull()
            & (F.col("nc").isNotNull() | (F.col("pe") == F.col("te")))
        )
        .select(
            "user_id",
            F.col("ts").alias("grid_ts"),
            interp.alias("interp_cents"),
            (interp.cast("double") / F.lit(100.0)).alias("value_interp"),
        )
    )


_GAP_FILL_SQL = """
WITH ev AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
         event_id, 0 AS is_grid
  FROM events
), spans AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
         date_trunc('hour', MAX(ts)) AS t1
  FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts,
         CAST(NULL AS BIGINT) AS cents, CAST(NULL AS BIGINT) AS event_id,
         1 AS is_grid
  FROM spans
), merged AS (
  SELECT * FROM ev UNION ALL BY NAME SELECT * FROM grid
), annotated AS (
  SELECT user_id, ts, is_grid,
         last_value(cents IGNORE NULLS) OVER wp AS pc,
         last_value(CASE WHEN cents IS NOT NULL
                         THEN epoch_us(ts) END IGNORE NULLS)
           OVER wp AS pe,
         first_value(cents IGNORE NULLS) OVER wn AS nc,
         first_value(CASE WHEN cents IS NOT NULL
                          THEN epoch_us(ts) END IGNORE NULLS)
           OVER wn AS ne,
         epoch_us(ts) AS te
  FROM merged
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY ts, is_grid, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, ts AS grid_ts,
       CAST(CASE WHEN pe = te THEN pc
                 ELSE (pc * (ne - te) + nc * (te - pe)) // (ne - pe)
            END AS BIGINT) AS interp_cents,
       CAST(CASE WHEN pe = te THEN pc
                 ELSE (pc * (ne - te) + nc * (te - pe)) // (ne - pe)
            END AS DOUBLE) / 100.0 AS value_interp
FROM annotated
WHERE is_grid = 1 AND pc IS NOT NULL AND (nc IS NOT NULL OR pe = te)
"""


def event_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) telemetry outlier flagging — the resistant
    complement to event_value_outliers' z-score: mean/σ are themselves
    dragged by the outliers they hunt, while median and MAD have a 50%
    breakdown point (Hampel's rule, |x−med| > 3·1.4826·MAD ≈ 3σ under
    normality). The standard pick for sensor fault detection where
    faults corrupt the baseline.

    Exactness: values ride the integer-cents grid; medians interpolate
    exact-integer doubles ((a+b)/2 is exact in binary), so the per-type
    (median, MAD) pair is bit-identical across engines, and the
    robust-z threshold compares identical doubles. mad == 0 types are
    excluded from flagging in both engines by the same predicate (no
    engine-specific x/0 → Inf vs NULL divergence). Scale: two grouped
    exact percentiles over |types| groups (swap percentile_approx at
    100 TB — approx tier verified in approx_sketches) broadcast back
    onto one events scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", _cents("value").alias("cents")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", 0.5).alias("med")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("cents") - F.col("med")), 0.5).alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(dev), "event_type")
        .filter(
            (F.lit(1.4826) * F.col("mad") > 0)
            & (
                F.abs(F.col("cents") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
                > 3.0
            )
        )
        .select(
            "event_id",
            "event_type",
            "value",
            (F.col("med") / 100.0).alias("median_value"),
            (F.col("mad") / 100.0).alias("mad_value"),
            (
                F.abs(F.col("cents") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
            ).alias("robust_z"),
        )
    )


_MAD_OUTLIERS_SQL = """
WITH c AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), m AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med FROM c
  GROUP BY event_type
), d AS (
  SELECT c.event_type, quantile_cont(abs(c.cents - m.med), 0.5) AS mad
  FROM c JOIN m USING (event_type) GROUP BY c.event_type
)
SELECT c.event_id, c.event_type, c.value,
       m.med / 100.0 AS median_value,
       d.mad / 100.0 AS mad_value,
       abs(c.cents - m.med) / (1.4826 * d.mad) AS robust_z
FROM c JOIN m USING (event_type) JOIN d USING (event_type)
WHERE 1.4826 * d.mad > 0
  AND abs(c.cents - m.med) / (1.4826 * d.mad) > 3.0
"""


def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit (Great-Expectations / dbt-test shape):
    one row per constraint with its violation count — zero means the
    constraint HOLDS, a verified guarantee, not a vacuous result.
    Rules span referential integrity (orphan orders), key uniqueness
    (event_id), range checks (|value| ≤ 400), derived-column
    consistency (n_chars == length(text)), and content policy (short
    documents). Scale: each rule is one conditional aggregate or
    broadcast/shuffle anti-join count over its own table — rules
    compose as a union of 1-row aggregates, so adding a rule never
    touches another rule's plan."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def rule(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("rule"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_violations"),
        )

    orphan = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    dup_ids = (
        ev.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_of_range = ev.agg(
        F.count(F.when(F.abs(F.col("value")) > 400, 1)).alias("n")
    )
    nchars_drift = docs.agg(
        F.count(
            F.when(F.col("n_chars") != F.length("text"), 1)
        ).alias("n")
    )
    short_docs = docs.agg(
        F.count(F.when(F.length("text") < 100, 1)).alias("n")
    )
    return (
        rule("orders_custkey_references_customer", orphan)
        .unionByName(rule("event_id_unique", dup_ids))
        .unionByName(rule("event_value_within_range", out_of_range))
        .unionByName(rule("doc_n_chars_consistent", nchars_drift))
        .unionByName(rule("doc_min_length_100", short_docs))
    )


_DATA_QUALITY_SQL = """
SELECT 'orders_custkey_references_customer' AS rule,
       CAST(COUNT(*) AS BIGINT) AS n_violations
FROM orders o WHERE NOT EXISTS (
  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'event_id_unique',
       CAST(COUNT(*) AS BIGINT) FROM (
  SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1) d
UNION ALL
SELECT 'event_value_within_range',
       CAST(COUNT(*) FILTER (abs(value) > 400) AS BIGINT) FROM events
UNION ALL
SELECT 'doc_n_chars_consistent',
       CAST(COUNT(*) FILTER (n_chars <> length(text)) AS BIGINT)
FROM documents
UNION ALL
SELECT 'doc_min_length_100',
       CAST(COUNT(*) FILTER (length(text) < 100) AS BIGINT) FROM documents
"""


def events_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profiling pass (the 'describe my table' engine
    feature): per column — null count, exact distinct count, min/max
    rendered as strings. One scan; the distinct counts are the only
    shuffled aggregates. At 100 TB swap exact COUNT(DISTINCT) for
    approx_count_distinct per column — same plan shape, sketch merge
    instead of expand (the approx tier is verified in
    approx_sketches)."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    profiles = [
        ev.agg(
            F.lit(c).alias("column"),
            F.count(F.when(F.col(c).isNull(), 1)).cast("long").alias("n_nulls"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
            # typed MIN/MAX first, text rendering second — casting
            # before the aggregate would compare lexicographically
            # ("9" > "14") and diverge from the oracle's typed MIN/MAX
            F.min(F.col(c)).cast("string").alias("min_str"),
            F.max(F.col(c)).cast("string").alias("max_str"),
        )
        for c in cols
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


#: NB DuckDB renders timestamps without the trailing zero fraction that
#: Spark's cast-to-string also omits; both cast through the engine's
#: default text form of the typed MIN/MAX (verified identical for the
#: fixture's second-resolution timestamps and plain numerics).
_TABLE_PROFILE_SQL = """
SELECT 'event_id' AS "column",
       CAST(COUNT(*) FILTER (event_id IS NULL) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(MIN(event_id) AS VARCHAR) AS min_str,
       CAST(MAX(event_id) AS VARCHAR) AS max_str
FROM events
UNION ALL
SELECT 'ts', CAST(COUNT(*) FILTER (ts IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT ts) AS BIGINT),
       CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR)
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT),
       CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) FILTER (value IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT),
       CAST(MIN(value) AS VARCHAR), CAST(MAX(value) AS VARCHAR)
FROM events
"""


def page_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient per page over
    the undirected transition graph — the second graph-analytics
    member after PageRank (community structure / spam-farm signals in
    crawl graphs; Watts-Strogatz clustering).

    Scale: the classic degree-ORIENTED enumeration — each undirected
    edge points from its (degree, id)-smaller endpoint to the larger,
    so every triangle is generated exactly once from its smallest
    vertex and the wedge join costs Σ out-deg² = O(m^1.5) instead of
    Σ deg² (the hub-explosion killer: a 10⁶-degree hub contributes
    out-degree ≈ its low-degree neighbors only). Wedge closure is one
    equi-semi-join back to the id-canonical edge set; the coefficient
    is pure long arithmetic (micro units, d≥2 guarded NULL)."""
    trans = _page_transitions(spark, sf_dir)
    # the canonical undirected edge set is referenced by degree
    # computation, orientation, AND wedge closure — cache it (2 longs
    # per edge; the same adjacency GraphX materializes) so the events
    # scan + window + distinct run once, not once per branch
    # eager checkpoint (r13, was cache): degree + orientation + wedge
    # closure all consume it, several through broadcast builds that
    # race a lazy cache and re-run the events scan + window + distinct
    ue = trans.select(
        F.least(F.col("page"), F.col("dst")).alias("a"),
        F.greatest(F.col("page"), F.col("dst")).alias("b"),
    ).distinct().transform(checkpoint_stage)
    # explode, not a 2-way union: one pass over ue instead of two
    # copies of its subtree in the plan
    deg = (
        ue.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    o = (
        ue.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            ).otherwise(F.col("b")).alias("u"),
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.col("b"),
            ).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = o.select(F.col("u"), F.col("v").alias("x"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closure = ue.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tris = wedges.join(
        closure,
        (wedges["x"] == closure["ca"]) & (wedges["y"] == closure["cb"]),
        "left_semi",
    )
    # explode the three roles in ONE pass over the triangle stream —
    # a 3-way union would plan (and at scale, recompute) the wedge
    # join + closure semi-join three times
    per_page = (
        tris.select(F.explode(F.array("u", "x", "y")).alias("page"))
        .groupBy("page")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("n").alias("page"), F.col("d").alias("degree"))
        .join(per_page, "page", "left_outer")
        .select(
            "page",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "2000000 * coalesce(n_triangles, 0L)"
                    " div (degree * (degree - 1))"
                ),
            ).alias("clustering_micro"),
        )
    )


#: The page-transition CTEs of the page-graph oracles: each user's
#: pages (``props.k``) in event order (seq, ps) and their (src, dst)
#: successions (tr).
_PAGE_TRANSITION_CTES = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS page
  FROM events
), ps AS (
  SELECT * FROM seq WHERE page IS NOT NULL
), tr AS (
  SELECT page AS src,
         lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ps
)"""

_PAGE_CLUSTERING_SQL = _PAGE_TRANSITION_CTES + """, ue AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM tr WHERE dst IS NOT NULL AND dst <> src
), deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS n FROM ue UNION ALL SELECT b AS n FROM ue) z GROUP BY n
), o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
              THEN a ELSE b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
              THEN b ELSE a END AS v
  FROM ue JOIN deg da ON ue.a = da.n JOIN deg db ON ue.b = db.n
), tris AS (
  SELECT o1.u, o1.v AS x, o2.v AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
  WHERE EXISTS (SELECT 1 FROM ue WHERE ue.a = o1.v AND ue.b = o2.v)
), per_page AS (
  SELECT page, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS page FROM tris
    UNION ALL SELECT x AS page FROM tris
    UNION ALL SELECT y AS page FROM tris) z
  GROUP BY page
)
SELECT deg.n AS page, deg.d AS degree,
       COALESCE(p.n_triangles, 0) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN CAST((2000000 * COALESCE(p.n_triangles, 0))
                      // (deg.d * (deg.d - 1)) AS BIGINT)
       END AS clustering_micro
FROM deg LEFT JOIN per_page p ON deg.n = p.page
"""


def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the event stream: collapse each
    user's ordered events into validity intervals of their
    event_type attribute — (valid_from, valid_to, is_current) rows,
    the lakehouse slowly-changing-dimension layout MERGE pipelines
    maintain. Same lag→flag→cumsum shape as sessionization: one
    window shuffle on user_id, no joins; a year of history at 100 TB
    is one pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    seg = flagged.withColumn(
        "seg",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grouped = seg.groupBy("user_id", "seg", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    ws = Window.partitionBy("user_id").orderBy("seg")
    return (
        grouped.withColumn("valid_to", F.lead("valid_from").over(ws))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "user_id", "event_type", "valid_from", "valid_to",
            "n_events", "is_current",
        )
    )


_SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS seg
  FROM flagged
), grouped AS (
  SELECT user_id, seg, event_type, MIN(ts) AS valid_from,
         COUNT(*) AS n_events
  FROM seg GROUP BY user_id, seg, event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg)
         AS valid_to,
       n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) IS NULL
         AS is_current
FROM grouped
"""


#: Documents per language of stratified_fixed_k_sample.
_STRATUM_K = 10


def stratified_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k stratified sampling: precisely min(k, |stratum|)
    documents per language, chosen by deterministic hash order — the
    fixed-budget complement of stratified_sample_docs' rate sampling
    (eval-set construction, per-language probes, human-review
    batches need exact counts, not expected counts). Ingest-stable:
    a document's hash never changes, so growing a stratum only ever
    displaces the highest-hash members. One rank window per stratum,
    no global sort."""
    from ..functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    h = md5_hash64(F.concat(F.lit("fix:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", h.alias("draw"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= _STRATUM_K)
        .select("doc_id", "lang", "draw", "sample_rank")
    )


_FIXED_K_SAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_HASH64_SQL.format(x="'fix:' || CAST(doc_id AS VARCHAR)")} AS draw
  FROM documents
)
SELECT doc_id, lang, draw, sample_rank FROM (
  SELECT doc_id, lang, draw,
         CAST(row_number() OVER (PARTITION BY lang
                ORDER BY draw ASC, doc_id ASC) AS BIGINT) AS sample_rank
  FROM h) t
WHERE sample_rank <= 10
"""


#: Output shards of doc_quality_sort_shards.
_SORT_SHARDS = 8


def doc_quality_sort_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL sort at scale without a global sort: emit each document's
    sorted-output shard and position for the total order (quality desc,
    doc_id asc) — the layout step that writes quality-ordered training
    shards (curriculum schedules, best-first truncation) or sorted
    columnar files for data skipping.

    A naive orderBy writes through one task chain; ntile(S) is a
    single-partition window over the corpus. Instead: snap quality to
    the 1e-6 integer grid, aggregate COUNT per DISTINCT grid value
    (map-combinable; |values| ≤ 1e6 regardless of corpus size), take a
    running count over that bounded value table (the only unpartitioned
    window — bounded rows, constant-key'd), derive each value's shard
    as floor(preceding_count · S / n) in pure long arithmetic, and
    broadcast-join the ≤1e6-row (value → shard) map back onto the
    corpus. Rows never shuffle except into their shard; within-shard
    positions are a shard-partitioned rank window. Concatenating shards
    0..S−1, each read in (quality desc, doc_id) order, IS the global
    order — same two-level trick as sequence packing's prefix sum."""
    from ..functions.text import quality_score

    q = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(quality_score("text") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("quality_micro"),
    )
    vals = q.groupBy("quality_micro").agg(F.count(F.lit(1)).alias("c"))
    # bounded window: ≤1e6 value rows; constant non-foldable partition
    # key silences the no-partition warning without changing the plan
    wv = Window.partitionBy(F.pmod(F.col("quality_micro"), F.lit(1))).orderBy(
        F.col("quality_micro").desc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    n_total = q.agg(F.count(F.lit(1)).alias("n"))
    shard_map = (
        vals.withColumn(
            "before", F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long")
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "quality_micro",
            F.expr(f"before * {_SORT_SHARDS} div n").alias("sort_shard"),
        )
    )
    ws = Window.partitionBy("sort_shard").orderBy(
        F.col("quality_micro").desc(), F.col("doc_id").asc()
    )
    return (
        q.join(F.broadcast(shard_map), "quality_micro")
        .select(
            "doc_id",
            "quality_micro",
            "sort_shard",
            F.row_number().over(ws).cast("long").alias("shard_pos"),
        )
    )


_QUALITY_SORT_SHARDS_SQL = f"""
WITH q AS (
  SELECT doc_id,
         CAST(floor(({_QUALITY_SCORE_SQL}) * 1e6 + 0.5) AS BIGINT)
           AS quality_micro
  FROM documents
), nt AS (
  SELECT COUNT(*) AS n FROM q
), vals AS (
  SELECT quality_micro, COUNT(*) AS c FROM q GROUP BY quality_micro
), sh AS (
  SELECT quality_micro,
         CAST((CAST(COALESCE(SUM(c) OVER (ORDER BY quality_micro DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) * 8) // nt.n AS BIGINT) AS sort_shard
  FROM vals CROSS JOIN nt
)
SELECT q.doc_id, q.quality_micro, s.sort_shard,
       CAST(row_number() OVER (PARTITION BY s.sort_shard
              ORDER BY q.quality_micro DESC, q.doc_id ASC) AS BIGINT)
         AS shard_pos
FROM q JOIN sh s USING (quality_micro)
"""


def _page_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with a valid integer `k` property as (page, user_id, ts,
    event_id) — the ONE place the page extraction rule lives, so the
    graph queries' node universe and edge set can never diverge
    (malformed/missing props drop out via try_cast)."""
    ev = load_table(spark, sf_dir, "events")
    page = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return ev.select(
        page.alias("page"), "user_id", "ts", "event_id"
    ).filter(F.col("page").isNotNull())


def _page_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-transition mining shared by the graph queries: per user,
    consecutive events (total order ts, event_id) whose page changes
    yield one (page, dst) row. One window shuffle on user_id."""
    ps = _page_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ps.withColumn("dst", F.lead("page").over(w)).filter(
        F.col("dst").isNotNull() & (F.col("dst") != F.col("page"))
    )


def page_rank_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph quality prior: weighted PageRank over the page
    transition graph mined from the event stream (page = the `k`
    property; an edge src→dst for every consecutive same-user event
    pair that changes page). The crawl-quality signal a web-scale
    corpus build ranks domains/pages with (the reference has no graph
    code at all) — and the registry's representative of the iterative
    Pregel-style algorithm class, alongside connected components.

    Exactness: rank mass is carried in integer 1e-12 units, so every
    reduction is a long sum (order-independent) and the fixed 5
    iterations have an exact unrolled-CTE DuckDB twin — the same
    determinism treatment the IVF quantizer and BPE trainer got.
    Scale: one map-combinable shuffle per iteration keyed by dst page,
    a 1-row broadcast for dangling mass, lineage truncated per round;
    the transition mining is one window shuffle on user_id."""
    from ..operators.graph import pagerank

    ps = _page_stream(spark, sf_dir)
    trans = _page_transitions(spark, sf_dir)
    edges = (
        trans.groupBy(F.col("page").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("w_edge"))
    )
    nodes = ps.select("page").distinct()
    ranks = pagerank(edges, nodes, id_col="page")
    out_deg = edges.groupBy("src").agg(F.sum("w_edge").alias("w_out"))
    return (
        ranks.join(out_deg, ranks["page"] == out_deg["src"], "left_outer")
        .select(
            "page",
            "rank_micro",
            (F.col("rank_micro").cast("double") / F.lit(1e12)).alias("rank"),
            F.coalesce("w_out", F.lit(0)).cast("long").alias("n_out"),
        )
    )


def _rank_flow_sql(k: int) -> str:
    """The inflow (i{k}) and dangling-mass (d{k}) CTEs of rank round k
    over r{k-1}, ``edges`` and ``outd``: the part of an unrolled round
    the PageRank and personalized-PageRank oracles share."""
    p = f"r{k - 1}"
    return f"""
, i{k} AS (
  SELECT e.dst AS page,
         CAST(SUM((r.rank_micro * e.w_edge) // o.w_out) AS BIGINT) AS inc
  FROM {p} r JOIN edges e ON r.page = e.src JOIN outd o ON e.src = o.src
  GROUP BY e.dst
), d{k} AS (
  SELECT CAST(COALESCE(SUM(r.rank_micro), 0) AS BIGINT) AS dang
  FROM {p} r LEFT JOIN outd o ON r.page = o.src WHERE o.src IS NULL
)"""


def _pagerank_iteration_sql(k: int) -> str:
    """One unrolled PageRank round (exact integer twin of
    operators/graph.pagerank)."""
    return _rank_flow_sql(k) + f""", r{k} AS (
  SELECT n.page,
         CAST(({100 - DAMPING_PCT} * 1000000000000) // (100 * nn.n)
              + ({DAMPING_PCT} * COALESCE(i.inc, 0)) // 100
              + ({DAMPING_PCT} * d.dang) // (100 * nn.n) AS BIGINT) AS rank_micro
  FROM nodes n CROSS JOIN nn CROSS JOIN d{k} d LEFT JOIN i{k} i ON n.page = i.page
)"""


#: Unrolled PageRank over the ``edges`` (src, dst, w_edge) and
#: ``nodes`` (page) CTEs: uniform start r0, then N_ITERATIONS rounds.
_PAGERANK_ROUNDS_SQL = """, nn AS (
  SELECT COUNT(*) AS n FROM nodes
), outd AS (
  SELECT src, CAST(SUM(w_edge) AS BIGINT) AS w_out FROM edges GROUP BY src
), r0 AS (
  SELECT page, CAST(1000000000000 // nn.n AS BIGINT) AS rank_micro
  FROM nodes CROSS JOIN nn
)""" + "".join(_pagerank_iteration_sql(k) for k in range(1, N_ITERATIONS + 1))


_PAGERANK_SQL = f"""{_PAGE_TRANSITION_CTES}, edges AS (
  SELECT src, dst, COUNT(*) AS w_edge FROM tr
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT page FROM ps
){_PAGERANK_ROUNDS_SQL}
SELECT r.page, r.rank_micro,
       CAST(r.rank_micro AS DOUBLE) / 1000000000000.0 AS rank,
       CAST(COALESCE(o.w_out, 0) AS BIGINT) AS n_out
FROM r{N_ITERATIONS} r LEFT JOIN outd o ON r.page = o.src
"""


def doc_near_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST near-dup canonicalization: what a production corpus
    build actually runs after clustering — per near-dup cluster keep
    the highest-QUALITY member, not the min-id one (RefinedWeb/FineWeb
    keep the longest/cleanest copy; min-id is only the cheapest
    deterministic choice). Composes the full stack: MinHash-LSH pairs →
    connected components → quality score → per-cluster argmax (rank
    window partitioned by cluster, ties broken doc_id asc).

    Scale: the clustering cost is dedup_clusters' (pairs touch a few
    percent of the corpus); the added work is one map-only quality
    pass, a join on doc_id, and a window partitioned by cluster_id —
    bounded by the largest cluster, never a global sort."""
    from ..functions.text import quality_score
    from ..operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, threshold=0.6).drop("is_canonical")
    quality = docs.select(
        "doc_id", quality_score("text").alias("quality")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("keep_rank", F.row_number().over(w).cast("long"))
        .withColumn("is_kept", F.col("keep_rank") == 1)
        .select(
            "doc_id", "cluster_id", "cluster_size", "quality",
            "keep_rank", "is_kept",
        )
    )


_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_CC_CTES}, q AS (
  SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality FROM documents
)
SELECT c.doc_id, c.cluster_id, s.cluster_size, q.quality,
       CAST(row_number() OVER (PARTITION BY c.cluster_id
              ORDER BY q.quality DESC, c.doc_id ASC) AS BIGINT) AS keep_rank,
       row_number() OVER (PARTITION BY c.cluster_id
         ORDER BY q.quality DESC, c.doc_id ASC) = 1 AS is_kept
FROM comp c JOIN csize s USING (cluster_id) JOIN q USING (doc_id)
"""


def doc_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring — the CCNet/KenLM
    perplexity filter one rung up from doc_unigram_logprob: score each
    document by the mean log of p(w₂|w₁) = 0.75·c(w₁w₂)/c(w₁) +
    0.25·c(w₂)/total under the corpus's own counts (low = unnatural
    token transitions: boilerplate, word salad, wrong language).

    Plan: bigrams are built MAP-ONLY from the token array (transform
    over sequence — no self-join, no positional shuffle); the prob
    table is computed once over DISTINCT bigrams (|vocab²|-bounded,
    in practice ≪ corpus) and the big (doc, bigram) stream joins it on
    the bigram key — one count shuffle + one join shuffle at corpus
    scale. Log-probs snap to the integer micro-nat grid BEFORE the
    per-doc sum (order-invariant long arithmetic, the module rule).
    Residual risk shared with doc_unigram_logprob: ln() is libm-
    dependent in the last ulp; the grid fixes summation order, not
    transcendental drift (see BM25's engine-exact idf for the
    mitigation pattern if this ever flakes)."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    arr = docs.select("doc_id", tokens("text").alias("w"))
    toks = arr.select("doc_id", F.explode("w").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("total"))
    bg = arr.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                " element_at(w, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    probs = (
        bi.join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    F.lit(0.75)
                    * (F.col("c12").cast("double") / F.col("c1").cast("double"))
                    + F.lit(0.25)
                    * (F.col("c2").cast("double") / F.col("total").cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    return (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("logp_micro").cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000.0))
            ).alias("avg_logprob"),
        )
    )


_BIGRAM_LM_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), toks AS (
  SELECT doc_id, unnest(w) AS tok FROM t
), uni AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT COUNT(*) AS total FROM toks
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i + 1])) AS w2
  FROM t WHERE len(w) >= 2
), bi AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
), probs AS (
  SELECT b.w1, b.w2,
         CAST(round(ln(0.75 * (CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
                       + 0.25 * (CAST(u2.c AS DOUBLE) / CAST(tot.total AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS logp_micro
  FROM bi b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok
  CROSS JOIN tot
)
SELECT g.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(p.logp_micro) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_logprob
FROM bg g JOIN probs p ON g.w1 = p.w1 AND g.w2 = p.w2
GROUP BY g.doc_id
"""


#: Cosine at or above which semantic_decontamination flags a document.
_DECONTAM_COS_THRESHOLD = 0.4


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of the n-gram rule in doc_decontamination: a corpus
    vector is contaminated if it is cosine-close to ANY held-out eval
    vector (paraphrased eval leakage that verbatim n-gram overlap
    misses; the Llama/GPT-4-report style embedding contamination
    check). Eval membership: vec_id % 50 == 0 AND vec_id < 1000 —
    deterministic, ingest-stable, and BOUNDED: a benchmark suite is a
    fixed artifact that does not grow with the corpus, and the id cap
    encodes that (without it the 10× scale study measured the
    |corpus|×|eval| product growing 100× — a fixture artifact, but
    the unbounded-eval shape it exposed is exactly what the cap
    forbids; the broadcast stays O(|eval|) at any corpus size).

    Plan shape at 100 TB: the eval side is small by definition →
    broadcast; the corpus scans ONCE and never shuffles its vectors —
    a LEFT broadcast-nested-loop join on the cosine threshold keeps
    every corpus row (clean rows pair with NULL), so no join-back is
    needed, and the only exchange carries the narrow (vec_id, label,
    cos) stream into a map-side-combined aggregate (count + max, both
    order-independent). Every corpus row is emitted with its verdict
    (clean rows carry n_eval_hits=0), so the result is the filterable
    corpus itself — and an EMPTY eval slice degrades to an all-clean
    verdict, not a dropped corpus (edge-corpus contract)."""
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1000)
    eval_vecs = emb.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("eval_emb")
    )
    corpus = ensure_parallelism(emb.filter(~is_eval))
    joined = corpus.join(
        F.broadcast(eval_vecs),
        cosine(F.col("embedding"), F.col("eval_emb")) >= F.lit(_DECONTAM_COS_THRESHOLD),
        "left_outer",
    )
    return (
        joined.select(
            "vec_id",
            "label",
            "eval_id",
            cosine(F.col("embedding"), F.col("eval_emb")).alias("cos_sim"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.count("eval_id").cast("long").alias("n_eval_hits"),
            F.max("cos_sim").alias("max_eval_sim"),
        )
        .select(
            "vec_id",
            "label",
            "n_eval_hits",
            "max_eval_sim",
            (F.col("n_eval_hits") > 0).alias("contaminated"),
        )
    )


_SEMANTIC_DECONTAM_SQL = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS eval_emb FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < 1000
), corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE NOT (vec_id % 50 = 0 AND vec_id < 1000)
), scored AS (
  SELECT c.vec_id,
         {_COS_SQL.format(a='c.embedding', b='e.eval_emb')} AS cos_sim
  FROM corpus c CROSS JOIN ev e
), hits AS (
  SELECT vec_id, COUNT(*) AS n_eval_hits, MAX(cos_sim) AS max_eval_sim
  FROM scored WHERE cos_sim >= 0.4 GROUP BY vec_id
)
SELECT c.vec_id, c.label,
       COALESCE(h.n_eval_hits, 0) AS n_eval_hits,
       h.max_eval_sim,
       COALESCE(h.n_eval_hits, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h USING (vec_id)
"""


def corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the mixture plan corpus_mixture_plan computes: subsample
    each over-represented source down to the uniform token share
    (rate = min(1, total/(n_sources·src_tokens))) with a deterministic
    per-doc hash draw — the downsampling half of data mixing (the
    repeat-epochs half is a read-time multiplier, not a data motion).
    Hash draws make the sample ingest-stable (a doc's fate never
    changes as the corpus grows within a source) and reproducible on
    any worker standalone — the same virtues as doc_corpus_split.

    Rates are integer ppm computed by long floor-division (no float
    path, so the kept set is bit-stable across engines). Plan: one
    map-combinable per-source agg (|sources| rows) → window over those
    few rows → broadcast join back → map-only filter. The corpus
    shuffles ZERO times."""
    from ..functions.text import md5_hash64, token_count

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count("text")).alias("src_tokens")
    )
    rates = per.select(
        "source",
        "src_tokens",
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                "sum(src_tokens) OVER () * 1000000"
                " div (count(*) OVER () * src_tokens)"
            ),
        ).alias("rate_ppm"),
    )
    draw = F.pmod(
        md5_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.lit(1000000),
    )
    return (
        docs.join(F.broadcast(rates.drop("src_tokens")), "source")
        .withColumn("sample_bucket", draw)
        .filter(F.col("sample_bucket") < F.col("rate_ppm"))
        .select("doc_id", "source", "rate_ppm", "sample_bucket")
    )


_MIXTURE_RESAMPLE_SQL = f"""
WITH per AS (
  SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
), rates AS (
  SELECT source,
         CAST(LEAST(1000000,
              (CAST(SUM(src_tokens) OVER () AS BIGINT) * 1000000)
                // (CAST(COUNT(*) OVER () AS BIGINT) * src_tokens))
           AS BIGINT) AS rate_ppm
  FROM per
)
SELECT d.doc_id, d.source, r.rate_ppm,
       {_HASH64_SQL.format(x="'mix:' || CAST(d.doc_id AS VARCHAR)")}
         % 1000000 AS sample_bucket
FROM documents d JOIN rates r USING (source)
WHERE {_HASH64_SQL.format(x="'mix:' || CAST(d.doc_id AS VARCHAR)")}
        % 1000000 < r.rate_ppm
"""


def stream_static_segment_spend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joined to the
    static broadcast `customer` dimension, rolled up per market
    segment (complete mode ⇒ bounded drain equals the batch oracle).
    See streaming/pipelines.stream_static_segment_spend."""
    from ..streaming.pipelines import stream_static_segment_spend

    return stream_static_segment_spend(spark, sf_dir)


_STREAM_STATIC_SQL = f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_purchases,
       {_dsum("e.value")} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1
"""


#: Fixed range predicates the layout query reports pruning stats for:
#: p_partkey ∈ [500, 600] (~5% of the part domain) and
#: l_suppkey ∈ [10, 19] (~10% of the supplier domain).
_ZORDER_PART_RANGE = (500, 600)
_ZORDER_SUPP_RANGE = (10, 19)


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) multidimensional layout audit — the engine's
    data-layout-management pass (Delta/Iceberg `ZORDER BY` compaction,
    re-expressed as pure column algebra; operators/layout.py).

    lineitem rows are assigned a 32-bit Morton code interleaving
    (l_partkey, l_suppkey) — both first order-preservingly scaled onto
    the full 16-bit domain — and range-sharded on the code's top 6 bits
    (64 shards ≅ 64 files of a compaction run). Per shard it emits the
    min/max file statistics a lakehouse format would store, plus
    whether that shard survives min/max pruning for a fixed range
    predicate on EACH key. The point the numbers make: after z-order
    clustering, a selective range filter on EITHER column prunes the
    large majority of shards — a single-key sort gives that on one
    column only.

    Scale: one scan + one 64-group aggregation (map-side combinable);
    the two key maxima are a 1-row driver collect (bounded model
    state). Every expression is BIGINT mask/shift math — bit-identical
    in any engine, fully inside whole-stage codegen. At 100 TB the same
    code is the sort key of a repartitionByRange write; here it feeds
    the stats audit the writer would report.
    """
    from ..operators.layout import morton16

    return _curve_shard_stats(spark, sf_dir, morton16)


def hilbert_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit (r7): the same 64-shard min/max
    statistics report as `zorder_layout_stats`, with the Morton code
    swapped for the Hilbert index (operators/hilbert.py — the 4-state
    FSM form, pure BIGINT lookups in codegen). Identical shard count,
    scaling, and range predicates, so the two queries' pruning columns
    are directly comparable: the Hilbert curve's adjacent-cell walk
    has no Morton seam-jumps, so per-shard bounding boxes are tighter
    and at least as many shards prune (measured in
    tests/test_layout.py)."""
    from ..operators.hilbert import hilbert16

    return _curve_shard_stats(spark, sf_dir, hilbert16)


def _curve_shard_stats(spark: SparkSession, sf_dir: str, curve) -> DataFrame:
    """The shard summary of both layout audits: lineitem's (l_partkey,
    l_suppkey) scaled onto 16 bits, coded by ``curve`` (a 2×16-bit →
    32-bit space-filling-curve Column function), sharded on the code's
    top 6 bits, and summarized per shard with min/max stats and the
    pruning verdict for each key's fixed range."""
    from ..operators.layout import scale_to_16bit

    li = load_table(spark, sf_dir, "lineitem")
    # Bounded driver traffic: the two key maxima (one row).
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    ).collect()[0]
    # floor over a correctly-rounded IEEE double division of identical
    # integers — bit-identical across engines (same argument the oracle
    # relies on; no libm involved).
    code = curve(
        scale_to_16bit(F.col("l_partkey"), mx["mp"]),
        scale_to_16bit(F.col("l_suppkey"), mx["ms"]),
    )
    plo, phi = _ZORDER_PART_RANGE
    slo, shi = _ZORDER_SUPP_RANGE
    return (
        li.select(
            F.shiftright(code, 26).alias("shard_id"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("long").alias("min_part"),
            F.max("l_partkey").cast("long").alias("max_part"),
            F.min("l_suppkey").cast("long").alias("min_supp"),
            F.max("l_suppkey").cast("long").alias("max_supp"),
        )
        .select(
            "shard_id",
            "n_rows",
            "min_part",
            "max_part",
            "min_supp",
            "max_supp",
            (
                (F.col("max_part") >= plo) & (F.col("min_part") <= phi)
            ).alias("scans_for_part_range"),
            (
                (F.col("max_supp") >= slo) & (F.col("min_supp") <= shi)
            ).alias("scans_for_supp_range"),
        )
    )


#: The 16-bit scaled keys of the layout oracles (scale_to_16bit's SQL).
_SCALED_PART_SQL = (
    "CAST(floor(CAST(l_partkey AS BIGINT) * 65536"
    " / (mp + 1.0)) AS BIGINT)"
)
_SCALED_SUPP_SQL = (
    "CAST(floor(CAST(l_suppkey AS BIGINT) * 65536"
    " / (ms + 1.0)) AS BIGINT)"
)


def _curve_shard_sql(coded_ctes: str, coded: str) -> str:
    """DuckDB twin of _curve_shard_stats: the key maxima (mx), the
    curve's ``coded_ctes``, and the per-shard summary over the
    (shard_id, l_partkey, l_suppkey) relation ``coded``."""
    plo, phi = _ZORDER_PART_RANGE
    slo, shi = _ZORDER_SUPP_RANGE
    return f"""
WITH mx AS (
  SELECT CAST(MAX(l_partkey) AS BIGINT) AS mp,
         CAST(MAX(l_suppkey) AS BIGINT) AS ms
  FROM lineitem
){coded_ctes}
SELECT shard_id,
       COUNT(*) AS n_rows,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part,
       CAST(MIN(l_suppkey) AS BIGINT) AS min_supp,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_supp,
       (MAX(l_partkey) >= {plo} AND MIN(l_partkey) <= {phi})
         AS scans_for_part_range,
       (MAX(l_suppkey) >= {slo} AND MIN(l_suppkey) <= {shi})
         AS scans_for_supp_range
FROM {coded}
GROUP BY shard_id
"""


def _zorder_sql() -> str:
    from ..operators.layout import morton16_sql

    morton = morton16_sql(_SCALED_PART_SQL, _SCALED_SUPP_SQL)
    return _curve_shard_sql(
        f""", coded AS (
  SELECT ({morton} >> 26) AS shard_id,
         l_partkey, l_suppkey
  FROM lineitem CROSS JOIN mx
)""",
        "coded",
    )


def _hilbert_sql() -> str:
    from ..operators.hilbert import hilbert16_sql

    steps = hilbert16_sql(_SCALED_PART_SQL, _SCALED_SUPP_SQL, "lineitem CROSS JOIN mx")
    return _curve_shard_sql(
        ",\n" + steps,
        """(SELECT (hd >> 26) AS shard_id, l_partkey, l_suppkey
      FROM hilbert_coded)""",
    )


#: Hashed-feature space size for DSIR importance weights. Small enough
#: that the per-bucket model is trivially bounded driver state (256
#: rows), large enough that bucket collisions mostly average out.
_DSIR_BUCKETS = 256
#: Documents selected by dsir_importance_select and its SQL twin.
_DSIR_K = 100


def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023, arXiv:2302.03169): rank raw-corpus documents by how much
    they look like a target domain, using hashed n-gram features and
    the log-likelihood ratio of two bag-of-buckets models. Here the
    target is the English slice (lang='en') and the proposal is the
    full corpus; the query emits the top-k docs by importance weight —
    the selection a pretraining pipeline would feed the sampler.

    Mechanics: tokens hash into 256 buckets (cross-engine md5 hash);
    per-bucket counts under target and proposal are a 256-row driver
    collect (bounded model state, the k-means/BPE contract); the
    add-one-smoothed log ratio λ_b = ln p_t(b) − ln p_p(b) is computed
    ONCE per bucket on the driver (CPython's math.log — the same libm
    the same-host DuckDB oracle links, the BM25/tf-idf engine-exactness
    rule), micro-gridded to integers, and broadcast back. A document's
    weight is then the SUM of integer λ_micro over its tokens — exact
    integer math, partition- and order-invariant by construction.

    Scale: the explode is the hashed-featurization lower bound; the
    model is 256 rows regardless of corpus size; the final top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort), and
    the rank window runs over the ≤ k surviving rows only.
    """
    import math

    from ..functions.text import md5_hash64, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("token")
    ).select(
        "doc_id",
        "lang",
        F.pmod(md5_hash64(F.col("token")), F.lit(_DSIR_BUCKETS)).alias(
            "bucket"
        ),
    )
    counts = (
        toks.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("p_cnt"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
                "t_cnt"
            ),
        )
        .collect()
    )
    p_tot = sum(r["p_cnt"] for r in counts)
    t_tot = sum(r["t_cnt"] for r in counts)
    lam = [
        (
            r["bucket"],
            math.floor(
                (
                    math.log((r["t_cnt"] + 1.0) / (t_tot + _DSIR_BUCKETS))
                    - math.log((r["p_cnt"] + 1.0) / (p_tot + _DSIR_BUCKETS))
                )
                * 1e6
                + 0.5
            ),
        )
        for r in counts
    ]
    lam_df = spark.createDataFrame(lam, "bucket long, lam_micro long")
    weights = (
        toks.join(F.broadcast(lam_df), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("lam_micro").alias("w_micro"))
    )
    return _ranked_topk(
        weights,
        [F.col("w_micro").desc(), F.col("doc_id").asc()],
        "doc_id",
        _DSIR_K,
        "sel_rank",
    ).select(
        "doc_id",
        (F.col("w_micro") / F.lit(1e6)).alias("weight"),
        "sel_rank",
    )


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKS_SQL}) AS token FROM documents
), bt AS (
  SELECT doc_id, lang,
         {_HASH64_SQL.format(x='token')} % {_DSIR_BUCKETS} AS bucket
  FROM toks
), bc AS (
  SELECT bucket,
         COUNT(*) AS p_cnt,
         COUNT(*) FILTER (WHERE lang = 'en') AS t_cnt
  FROM bt GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(p_cnt) AS BIGINT) AS p_tot,
         CAST(SUM(t_cnt) AS BIGINT) AS t_tot
  FROM bc
), lam AS (
  SELECT bucket,
         CAST(floor((ln((t_cnt + 1.0) / (t_tot + {_DSIR_BUCKETS}))
                     - ln((p_cnt + 1.0) / (p_tot + {_DSIR_BUCKETS})))
                    * 1e6 + 0.5) AS BIGINT) AS lam_micro
  FROM bc CROSS JOIN tot
), w AS (
  SELECT doc_id, CAST(SUM(lam_micro) AS BIGINT) AS w_micro
  FROM bt JOIN lam USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, w_micro / 1e6 AS weight, sel_rank
FROM (
  SELECT doc_id, w_micro,
         CAST(row_number() OVER (ORDER BY w_micro DESC, doc_id ASC)
              AS BIGINT) AS sel_rank
  FROM w) r
WHERE sel_rank <= {_DSIR_K}
"""


def embedding_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist (k'=20) → exact cosine rerank (k=5) — the
    refine stage that completes the ANN tier (brute-force / LSH / IVF
    / PQ / IVF-PQ / refine): quantized scan over-fetches, exact
    scoring of only the shortlist recovers recall. See
    operators/similarity.pq_rerank_topk; the oracle composes the full
    unrolled PQ chain (as a nested-WITH CTE) with the exact-cosine
    rerank, proving the two contracts hold under composition."""
    from ..operators.similarity import pq_rerank_topk

    return pq_rerank_topk(load_table(spark, sf_dir, "embeddings"))


_PQ_RERANK_SQL = f"""
WITH short AS (
{_pq_adc_sql(k=SHORTLIST_K)}
), qv AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id < {N_QUERIES}
), rer AS (
  SELECT s.query_id, s.vec_id,
         {_COS_SQL.format(a='e.embedding', b='q.qvec')} AS cos_sim
  FROM short s
  JOIN embeddings e ON s.vec_id = e.vec_id
  JOIN qv q ON s.query_id = q.query_id
)
SELECT query_id, vec_id, cos_sim, rerank FROM (
  SELECT rer.*,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rerank
  FROM rer) t
WHERE rerank <= {TOP_K}
"""


def doc_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring REMOVAL accounting (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better',
    ExactSubstr): doc_dup_span_frac detects cross-document 8-token
    spans; this query computes what actually gets cut — for each
    document, how many TOKENS are covered by the union of its
    duplicated spans, and the kept remainder a rewrite pass would
    retain.

    The union-of-intervals length is computed without materializing
    per-token rows: duplicated span starts sorted per doc, each start
    contributes ``min(span_len, pos − prev_pos)`` tokens (full span
    length when the gap exceeds it, only the non-overlap otherwise) —
    one lag window over the duplicated positions, exact integer math.

    Scale shape: identical to doc_dup_span_frac up to the dup-hash
    semi join (shuffles carry 64-bit hashes, never text), then one
    doc-partitioned lag window over only the DUPLICATED positions
    (≤ spans per doc) and a map-combinable rollup. keep_frac is a
    single IEEE division of identical integers — bit-stable."""
    from ..functions.text import token_count

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # r13 (guide §2.4, profiled): the tokenize + 8-gram hash pass (the
    # dominant CPU of this query) feeds BOTH the dup aggregation and
    # the semi-join probe side — un-materialized it executed twice
    # (two ~16 s-CPU stages at sf0.1). The checkpoint stores only
    # (doc_id, h, pos, n_tokens) longs — never text — the same
    # hash-array materialization the ExactSubstr pipeline itself makes
    # (Lee et al. 2022 build a full suffix array); linear in corpus
    # tokens, disk-backed, local (no shuffle).
    ex = _span_pos_hashes(docs).transform(checkpoint_stage)
    dup = (
        ex.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_pos = ex.join(dup, "h", "left_semi")
    span_len = F.least(F.lit(8), F.col("n_tokens"))
    wl = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        dup_pos.withColumn(
            "contrib",
            F.coalesce(
                F.least(span_len, F.col("pos") - F.lag("pos").over(wl)),
                span_len,
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").cast("long").alias("covered_tokens"))
    )
    return (
        docs.select("doc_id", token_count("text").alias("n_tokens"))
        .join(cov, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (
                F.col("n_tokens") - F.coalesce("covered_tokens", F.lit(0))
            ).alias("kept_tokens"),
            (
                (
                    F.col("n_tokens") - F.coalesce("covered_tokens", F.lit(0))
                ).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("keep_frac"),
        )
    )


_DUP_SPAN_REMOVAL_SQL = f"""
WITH {_SPAN_HASH_CTES}, dp AS (
  SELECT doc_id, LEAST(8, n_tokens) AS span_len, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hashed WHERE h IN (SELECT h FROM dup)
), cov AS (
  SELECT doc_id,
         CAST(SUM(COALESCE(LEAST(span_len, pos - prev), span_len))
              AS BIGINT) AS covered_tokens
  FROM dp GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_tokens,
       COALESCE(c.covered_tokens, 0) AS covered_tokens,
       b.n_tokens - COALESCE(c.covered_tokens, 0) AS kept_tokens,
       CAST(b.n_tokens - COALESCE(c.covered_tokens, 0) AS DOUBLE)
         / CAST(b.n_tokens AS DOUBLE) AS keep_frac
FROM base b LEFT JOIN cov c USING (doc_id)
"""


#: Cutoff splitting the orders table into the "already-materialized"
#: base and the "newly-arrived" delta for the incremental-refresh demo
#: (inside every fixture's date span, so both sides are non-empty).
_INCR_CUTOFF = "1996-01-01"


def orders_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: refresh a monthly
    revenue rollup by MERGING the stored base aggregate with the
    partial aggregate of only the newly-arrived delta — never
    re-scanning history. The query executes the refresh algebra
    end-to-end: base partials (orders < cutoff) ⊎ delta partials
    (orders ≥ cutoff) → re-aggregate the union of partials per month.
    The DuckDB twin computes the same months directly over the full
    table, proving merge(partials) ≡ full recompute — the contract
    incremental refresh rests on.

    Works because every aggregate here is decomposable: COUNT and the
    cent-grid SUM merge by addition (the same map-side-combine algebra
    Spark's partial aggregation uses inside one job, applied ACROSS
    jobs). AVG is derived from the merged sums, never averaged
    directly. At 100 TB the base side is a stored table of |months|
    rows and only the delta scans — refresh cost tracks the delta."""
    orders = load_table(spark, sf_dir, "orders")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("cents"),
        )

    # NULL dates route to the delta side explicitly: a bare pair of
    # `< cutoff` / `>= cutoff` filters drops NULL rows from BOTH sides
    # (NULL comparisons are NULL), which would silently break the
    # merge ≡ full-recompute contract on any nullable-date source.
    base = partials(orders.filter(F.col("o_orderdate") < _INCR_CUTOFF))
    delta = partials(
        orders.filter(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") >= _INCR_CUTOFF)
        )
    )
    return (
        base.unionAll(delta)
        .groupBy("order_year", "order_month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "order_year",
            "order_month",
            "n_orders",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            (
                F.col("cents").cast("double")
                / F.col("n_orders")
                / 100.0
            ).alias("avg_price"),
        )
    )


_INCR_AGG_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS avg_price
FROM orders
GROUP BY 1, 2
"""


#: Heavy keys reported by key_skew_report and its SQL twin.
_SKEW_TOP_K = 20


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: per-customer order counts ranked
    against the uniform expectation — the report that DECIDES whether
    a downstream join needs salting (operators/skew.py) or AQE skew
    handling. Emits the top-k heavy keys with their share in ppm and
    a skew factor (key count ÷ mean count, floored to an integer
    micro-ratio so the report is bit-stable cross-engine).

    Scale: one map-combinable count per key, a 1-row global broadcast
    (n_keys, n_rows), and a TakeOrderedAndProject top-k — the
    diagnostic costs one aggregation over the fact table, which is
    the cheapest question you can ask before a multi-TB shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_orders").alias("n_rows"),
    )
    # integer floor-division in BOTH engines (Spark `div` / DuckDB `//`)
    # — a double-division-then-cast would truncate in Spark but round
    # in DuckDB. skew_micro derives from the already-floored share_ppm
    # (share × n_keys), NOT (n_orders·1e6·n_keys) div n_rows: the
    # latter's numerator overflows int64 at production key counts
    # (2e6 orders × 1e6 × 5e9 keys ≈ 1e22 ≫ 2^63 — Spark would wrap
    # silently, DuckDB would error); share_ppm ≤ 1e6 keeps the product
    # ≤ 1e6·|keys|, in-range for any plausible corpus.
    scored = per_key.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "n_orders",
        F.expr(
            "(n_orders * CAST(1000000 AS BIGINT)) div n_rows"
        ).alias("share_ppm"),
        F.expr(
            "((n_orders * CAST(1000000 AS BIGINT)) div n_rows) * n_keys"
        ).alias("skew_micro"),
    )
    return _ranked_topk(
        scored,
        [F.col("n_orders").desc(), F.col("o_custkey").asc()],
        "o_custkey",
        _SKEW_TOP_K,
        "heavy_rank",
    ).select("o_custkey", "n_orders", "share_ppm", "skew_micro", "heavy_rank")


_KEY_SKEW_SQL = f"""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n_orders) AS BIGINT) AS n_rows
  FROM per_key
), scored AS (
  SELECT o_custkey, n_orders,
         CAST((n_orders * 1000000) // n_rows AS BIGINT) AS share_ppm,
         CAST(((n_orders * 1000000) // n_rows) * n_keys AS BIGINT)
           AS skew_micro
  FROM per_key CROSS JOIN tot
)
SELECT o_custkey, n_orders, share_ppm, skew_micro, heavy_rank
FROM (
  SELECT scored.*,
         CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey ASC)
              AS BIGINT) AS heavy_rank
  FROM scored) t
WHERE heavy_rank <= {_SKEW_TOP_K}
"""


def _query_tfidf_ranks(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Second retrieval signal for the hybrid fusion: query-scoped
    tf·idf (BM25 without length normalization or saturation — a
    genuinely different ranking of the same candidate pool). Score is
    PURE integer math: idf_micro = floor(ln(N/df)·1e6 + 0.5) computed
    once per query term on the driver (the BM25 engine-exactness
    rule), then score_micro = Σ tf·idf_micro.

    Scale/cost shape (r7): reuses the SAME cached per-doc tf relation
    as doc_bm25_search (`_bm25_per_doc_tf` — identical plan, so the
    CacheManager dedupes the two persists to one entry and
    hybrid_rrf_search tokenizes the corpus once, not three times); the
    stats collect is ONE map-side-combined 1-row aggregate, and the
    score is a pure per-row integer expression feeding
    TakeOrderedAndProject — no explode, no join, no wide shuffle."""
    import math

    per_doc = _bm25_per_doc_tf(spark, sf_dir)
    n = len(_BM25_TERMS)
    st = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(n)
        ],
    ).collect()[0]
    n_docs = st["n_docs"]
    idf_micro = [
        math.floor(math.log(n_docs / st[f"df_{i}"]) * 1e6 + 0.5) for i in range(n)
    ]
    score_micro = None
    for i in range(n):
        term_s = F.col(f"tf_{i}") * F.lit(idf_micro[i])
        score_micro = term_s if score_micro is None else score_micro + term_s
    any_match = None
    for i in range(n):
        m = F.col(f"tf_{i}") > 0
        any_match = m if any_match is None else any_match | m
    scored = per_doc.filter(any_match).select(
        "doc_id", score_micro.alias("score_micro")
    )
    return _ranked_topk(
        scored,
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        "doc_id",
        k,
        "sem_rank",
    ).select("doc_id", "sem_rank")


#: Fused results of hybrid_rrf_search and its SQL twin, and the depth
#: of each ranker's list they fuse.
_RRF_K = 10
_RRF_POOL = 20


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009, the fusion every production RAG stack runs over its lexical
    + vector rankers): two independent top-``pool`` rankings of the
    same fixed query — BM25 and raw query tf·idf — fused by
    rrf(d) = Σ_systems 1/(60 + rank_system(d)), re-ranked, top-k.

    RRF here is INTEGER: each reciprocal lands on the micro grid as
    1000000 div (60 + rank) before the sum (floor-div in both
    engines), so fusion scores and the fused order are bit-identical
    cross-engine. Ranker membership is preserved in the output
    (nullable per-system ranks) — the debugging surface a fusion
    deployment actually needs.

    Scale: each ranker is its own TakeOrderedAndProject top-pool
    (per-partition heaps over the posting-list-bounded candidates);
    the fusion's full-outer join and final rank run over ≤ 2·pool
    rows — model-state-sized no matter the corpus."""
    lex = doc_bm25_search(spark, sf_dir, k=_RRF_POOL).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = _query_tfidf_ranks(spark, sf_dir, k=_RRF_POOL)
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.expr("CAST(1000000 AS BIGINT) div (60 + lex_rank)"),
                    F.lit(0),
                )
                + F.coalesce(
                    F.expr("CAST(1000000 AS BIGINT) div (60 + sem_rank)"),
                    F.lit(0),
                )
            ).alias("rrf_micro"),
        )
    )
    return _ranked_topk(
        fused,
        [F.col("rrf_micro").desc(), F.col("doc_id").asc()],
        "doc_id",
        _RRF_K,
        "fused_rank",
    ).select("doc_id", "lex_rank", "sem_rank", "rrf_micro", "fused_rank")


_HYBRID_RRF_SQL = f"""
WITH lex AS (
{_bm25_sql(_RRF_POOL)}
), sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
                AS BIGINT) AS sem_rank
    FROM (
      SELECT t.doc_id,
             CAST(SUM(t.tf * CAST(floor(ln(CAST(n.n_docs AS DOUBLE) / d.df)
                  * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
      FROM (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
        WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, term
      ) t
      JOIN (SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
            WHERE term IN ({_BM25_TERMS_SQL})
            GROUP BY term) d USING (term)
      CROSS JOIN (SELECT COUNT(*) AS n_docs FROM documents) n
      GROUP BY t.doc_id
    ) s
  ) r
  WHERE sem_rank <= {_RRF_POOL}
), fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rank AS lex_rank,
         s.sem_rank,
         COALESCE(1000000 // (60 + l.rank), 0)
           + COALESCE(1000000 // (60 + s.sem_rank), 0) AS rrf_micro
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_micro, fused_rank FROM (
  SELECT fused.*,
         CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC)
              AS BIGINT) AS fused_rank
  FROM fused) t
WHERE fused_rank <= {_RRF_K}
"""


def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (r7): revenue of orders placed
    by high-balance BUILDING-segment customers, with the orders scan
    pruned by an explicit broadcast Bloom bitset BEFORE any join — the
    hand-built form of Spark's runtime-filter rule, for the 100 TB case
    where the qualifying dimension is too big to broadcast as rows but
    its key MEMBERSHIP fits in kilobytes.

    Plan shape: (1) one tiny shuffle builds the 2^16-bit bitset
    distributed (`bit_or` word aggregation, <=1024 rows collected —
    bounded model state, key-count independent); (2) the fact side
    filters through pure codegen'd integer probes UNDER its exchange,
    so only the matching sliver (~9% here) shuffles; (3) the exact
    left-semi join against the key set removes Bloom false positives,
    making the result bit-identical to the un-pruned join — verified by
    the oracle, which is the PLAIN semi-join (the Bloom stage must be
    invisible in the output). `tests/test_property.py` pins the
    no-false-negative guarantee; `tests/test_joins.py` pins
    prune == exact on the fixture."""
    from ..operators.bloom import bloom_might_contain, build_bloom_words

    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000.0)
    )
    keys = cust.select("c_custkey")
    words = build_bloom_words(keys, "c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    pruned = orders.filter(bloom_might_contain(words, F.col("o_custkey")))
    survivors = pruned.join(
        F.broadcast(keys),
        pruned["o_custkey"] == keys["c_custkey"],
        "left_semi",
    )
    return survivors.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("revenue"),
    )


_BLOOM_PRUNE_SQL = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {_dsum("o_totalprice")} AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000.0)
GROUP BY o_orderpriority
"""


def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (r7): parts not dominated on
    (cheaper price, larger size) — dominance = price <= AND size >=
    with at least one strict. The naive formulation is the O(n²)
    NOT-EXISTS self-join (the oracle runs exactly that at sf0.01); the
    Spark plan is the O(n log n) two-phase decomposition that survives
    100 TB:

    1. Band the price axis ($10 bands on the integer-cent grid, so
       equal prices never straddle a band) and compute each band's max
       size — a bounded aggregate (#bands rows, not data rows).
    2. Running max over STRICTLY-CHEAPER bands via a window over that
       tiny band table (single-partition is fine: it sorts #bands
       rows), broadcast back.
    3. Within each band — windows partitioned by band, never a global
       single-partition sort over the data — a RANGE frame to
       (current-1) gives the max size among strictly-cheaper same-band
       parts, and the price-peer frame (RANGE 0..0) catches equal-price
       larger-size dominators.

    A part survives iff no strictly-cheaper part (either source) has
    size >= mine and no equal-price part has size > mine. Exact — the
    banding is a partitioning of the sort order, not an approximation
    (operators/frontier.py; property-tested vs brute-force dominance in
    tests/test_property.py)."""
    from ..operators.frontier import pareto_frontier_2d

    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_name",
        _cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return pareto_frontier_2d(p, "price_cents", "size").select(
        "p_partkey", "p_name", "price_cents", "size"
    )


_PART_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, p_name,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT p_partkey, p_name, price_cents, size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_cents <= a.price_cents AND b.size >= a.size
    AND (b.price_cents < a.price_cents OR b.size > a.size)
)
"""


def user_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM/HLL register-sketch cardinality (r7): distinct users per
    event type estimated through 64 max-rho registers, reported next to
    the exact count and the measured error — the kilobytes-of-state
    answer to COUNT(DISTINCT) that merges across shards, days, and
    micro-batches (registers combine by MAX — the streaming twin drains
    to the identical state).

    Determinism: registers derive from the 60-bit md5 fold; rho =
    lowest-set-bit position via log2(w & -w) — IEEE-exact on powers of
    two, so both engines compute bit-identical registers
    (functions/sketch.py). The estimator is alpha·m²·2^40 / S with S an
    exact BIGINT (empty registers contribute 2^40 via the zero-filled
    grid); no libm transcendental feeds the hash.

    Scale: the register agg is map-side combinable to <= |types|·64
    rows; the dense grid is |types|×64; the exact COUNT(DISTINCT) here
    is the sf0.01-affordable ground truth column — at 100 TB you ship
    ONLY the sketch and drop the exact branch."""
    from ..functions.sketch import (
        M_REGISTERS,
        fm_register,
        register_estimate,
        register_term,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    regs = (
        ev.select("event_type", fm_register(F.col("user_id")).alias("c"))
        .groupBy("event_type", F.col("c.j").alias("j"))
        .agg(F.max("c.rho").alias("rho"))
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(M_REGISTERS - 1))).alias(
                "j"
            ),
        )
    )
    dense = grid.join(regs, ["event_type", "j"], "left").select(
        "event_type", "j", F.coalesce(F.col("rho"), F.lit(0)).alias("rho")
    )
    sketch = dense.groupBy("event_type").agg(
        F.sum(register_term(F.col("rho"))).alias("s_terms"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_regs"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = register_estimate(F.col("s_terms"))
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            est.alias("est"),
            F.round(
                F.lit(1000000.0)
                * (est - F.col("n_exact")).cast("double")
                / F.col("n_exact")
            )
            .cast("long")
            .alias("err_ppm"),
            "n_zero_regs",
        )
    )


_SKETCH_H_SQL = _HASH64_SQL.format(
    x="('dsk1' || '|' || CAST(user_id AS VARCHAR))"
)

#: registers CTE shared by the batch sketch and its streaming twin —
#: must mirror functions/sketch.fm_register exactly.
_SKETCH_REGS_CTES = f"""ev AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), hashed AS (
  SELECT event_type, {_SKETCH_H_SQL} AS h FROM ev
), regs AS (
  SELECT event_type,
         h % 64 AS j,
         MAX(CASE WHEN h // 64 = 0 THEN 55
             ELSE CAST(log2((h // 64) & -(h // 64)) AS BIGINT) + 1
             END) AS rho
  FROM hashed GROUP BY 1, 2
)"""

_DISTINCT_SKETCH_SQL = f"""
WITH {_SKETCH_REGS_CTES}, grid AS (
  SELECT event_type, j
  FROM (SELECT DISTINCT event_type FROM ev)
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
), dense AS (
  SELECT g.event_type, g.j, COALESCE(r.rho, 0) AS rho
  FROM grid g LEFT JOIN regs r ON g.event_type = r.event_type AND g.j = r.j
), sketch AS (
  SELECT event_type,
         SUM(CAST(power(2, 40 - least(rho, 40)) AS BIGINT)) AS s_terms,
         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_regs
  FROM dense GROUP BY 1
), exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1
)
SELECT event_type, n_exact,
       CAST(round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(1099511627776 AS DOUBLE)
                  / CAST(s_terms AS DOUBLE)) AS BIGINT) AS est,
       CAST(round(1000000.0
                  * CAST(CAST(round(CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(1099511627776 AS DOUBLE)
                               / CAST(s_terms AS DOUBLE)) AS BIGINT)
                         - n_exact AS DOUBLE)
                  / n_exact) AS BIGINT) AS err_ppm,
       n_zero_regs
FROM sketch JOIN exact USING (event_type)
"""


def stream_user_distinct_sketch_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming FM/HLL register state == the batch registers bit-for-
    bit (complete-mode MAX agg merges micro-batch partials) — the
    batch-side SQL twin doubles as the micro-batching-invariance proof.
    See streaming/pipelines.stream_user_distinct_sketch."""
    from ..streaming.pipelines import stream_user_distinct_sketch

    out = stream_user_distinct_sketch(spark, sf_dir)
    return out.select("event_type", F.col("j").cast("long").alias("j"), "rho")


_STREAM_SKETCH_SQL = f"""
WITH {_SKETCH_REGS_CTES}
SELECT event_type, j, rho FROM regs
"""


def value_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable binned-quantile sketch (r7): p50/p90/p99 upper bounds
    of event value per type from a fixed-width $5 histogram — the
    sketch family that completes CMS (count-merge) and the FM registers
    (max-merge) with the bounded-bin form every monitoring stack ships:
    bin counts SUM across shards/micro-batches, and the quantile read
    is a tiny post-pass over <=100 bins per type.

    Guarantee (pinned by a property test): the true q-quantile lies in
    [ub - width, ub) — bins are floor-division half-open intervals, so
    the error is bounded by the bin width by construction, at any
    scale, with |types|·|bins| state.

    Exactness: all integer — cents grid, integer bin ids, and the rank
    threshold compares 100·cum >= q·n instead of ceil(q·n/100). One
    (type, bin) shuffle with map-side combine, one per-type window over
    bin counts (<=100 rows per partition), one final agg."""
    width = 500  # cents
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    # floor (not truncating) division so negative values bin into
    # (ub - width, ub] like everything else — DuckDB's integer // and
    # a plain cast both truncate toward zero, which would silently
    # widen bin 0 to 2·width-1 cents around the origin.
    hist = (
        ev.select(
            "event_type",
            F.floor(_cents("value") / width).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_all = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(w_all).alias("n"),
        F.sum("cnt").over(w_cum).alias("cum"),
    )
    ub = (F.col("bin") + 1) * width

    def q_ub(q: int) -> Column:
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * q, ub)
        ).alias(f"p{q}_ub_cents")

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_values"),
        q_ub(50),
        q_ub(90),
        q_ub(99),
        F.count(F.lit(1)).alias("n_bins"),
    )


_QUANTILE_HIST_SQL = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), hist AS (
  SELECT event_type, CAST(floor(vc / 500.0) AS BIGINT) AS bin, COUNT(*) AS cnt
  FROM ev GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type) AS n,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_values,
       MIN(CASE WHEN cum * 100 >= n * 50 THEN (bin + 1) * 500 END)
         AS p50_ub_cents,
       MIN(CASE WHEN cum * 100 >= n * 90 THEN (bin + 1) * 500 END)
         AS p90_ub_cents,
       MIN(CASE WHEN cum * 100 >= n * 99 THEN (bin + 1) * 500 END)
         AS p99_ub_cents,
       COUNT(*) AS n_bins
FROM cum GROUP BY 1
"""


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (r7): every purchase credited to the
    user's most recent non-purchase event at-or-before purchase time —
    the point-in-time-correct enrichment (no future leakage) that
    feature pipelines and marketing attribution both need, composed
    from the union-merge as-of join (operators/joins.py): ONE shuffle
    of purchases+touches on user_id, one sort per user, no inequality
    join and no per-user fan-out.

    Tie semantics (pinned by the oracle): a touch at exactly the
    purchase timestamp counts; among equal-timestamp touches the
    greatest event_id wins. Purchases with no prior touch land in the
    'none' bucket with a zero gap sum."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("touch_us"),
        F.col("event_id").alias("touch_eid"),
    )
    enriched = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["touch_type", "touch_us", "touch_eid"],
        tie_break="touch_eid",
    )
    return enriched.groupBy(
        F.coalesce(F.col("touch_type"), F.lit("none")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dec_sum("value").alias("attributed_revenue"),
        F.coalesce(
            F.sum(F.unix_micros("ts") - F.col("touch_us")), F.lit(0)
        )
        .cast("long")
        .alias("total_gap_us"),
    )


_ATTRIBUTION_SQL = f"""
WITH ev AS (
  SELECT * FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), purchases AS (
  SELECT user_id, ts, event_id, value FROM ev
  WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id, ts, event_id, event_type FROM ev
  WHERE event_type <> 'purchase'
), ranked AS (
  SELECT p.event_id AS pid, t.event_type AS touch_type, t.ts AS tts,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM purchases p
  JOIN touches t ON t.user_id = p.user_id AND t.ts <= p.ts
), picked AS (
  SELECT p.value, p.ts AS pts, r.touch_type, r.tts
  FROM purchases p
  LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.pid = p.event_id
)
SELECT COALESCE(touch_type, 'none') AS touch_type,
       COUNT(*) AS n_purchases,
       {_dsum("value")} AS attributed_revenue,
       CAST(COALESCE(SUM(epoch_us(pts) - epoch_us(tts)), 0) AS BIGINT)
         AS total_gap_us
FROM picked GROUP BY 1
"""


def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS trend (r7): least-squares slope + intercept of each
    nation's monthly order revenue over the dense 1996–1997 grid — the
    per-group regression a KPI dashboard fits, computed the
    shuffle-once way: closed-form slope from five exact integer sums
    (n, Σx, Σy, Σxy, Σx²) instead of any iterative fit.

    Exactness: revenue on the cent grid, month index x = 0..23, all
    sums BIGINT (exact while a nation's two-year revenue stays under
    ~1.6e16 cents; past that the n·Σxy product saturates 2^53 and both
    engines keep identical double precision); the only float math is
    the final two divisions, identical IEEE sequence in both engines.
    Zero-filled months (and order-less nations, via the grid LEFT
    join) are real zero observations — a nation that went silent
    trends DOWN, it doesn't vanish.

    Scale: orders joins the customer dim on its key (shuffle at real
    scale, AQE-handled), nation broadcast; the monthly rollup is
    map-side combined to |nations|×24 rows and everything after is
    model-state sized."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            "n_name",
            (
                (F.year("o_orderdate") - 1996) * 12
                + F.month("o_orderdate")
                - 1
            )
            .cast("long")
            .alias("mi"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("n_name", "mi")
        .agg(F.sum("cents").alias("y"))
    )
    grid = (
        nation.select("n_name")
        .select(
            "n_name",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("mi0"),
        )
        .select("n_name", F.col("mi0").cast("long").alias("mi"))
    )
    dense = grid.join(monthly, ["n_name", "mi"], "left").select(
        "n_name", "mi", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    agg = dense.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("mi").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("mi") * F.col("y")).alias("sxy"),
        F.sum(F.col("mi") * F.col("mi")).alias("sx2"),
    )
    den = F.col("n_months") * F.col("sx2") - F.col("sx") * F.col("sx")
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "n_name",
        "n_months",
        F.col("sy").alias("total_cents"),
        F.round(num.cast("double") / den.cast("double"))
        .cast("long")
        .alias("slope_cents_per_month"),
        F.round(
            (
                F.col("sy").cast("double")
                - (num.cast("double") / den.cast("double")) * F.col("sx")
            )
            / F.col("n_months")
        )
        .cast("long")
        .alias("intercept_cents"),
    )


_NATION_TREND_SQL = """
WITH monthly AS (
  SELECT n_name,
         CAST((year(o_orderdate) - 1996) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS mi,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= DATE '1996-01-01'
    AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
), grid AS (
  SELECT n_name, CAST(j AS BIGINT) AS mi
  FROM nation
  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS j)
), dense AS (
  SELECT g.n_name, g.mi, COALESCE(m.y, 0) AS y
  FROM grid g LEFT JOIN monthly m ON g.n_name = m.n_name AND g.mi = m.mi
), agg AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(mi) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(mi * y) AS BIGINT) AS sxy,
         CAST(SUM(mi * mi) AS BIGINT) AS sx2
  FROM dense GROUP BY 1
)
SELECT n_name, n_months, sy AS total_cents,
       CAST(round(CAST(n_months * sxy - sx * sy AS DOUBLE)
                  / CAST(n_months * sx2 - sx * sx AS DOUBLE))
            AS BIGINT) AS slope_cents_per_month,
       CAST(round((CAST(sy AS DOUBLE)
                   - (CAST(n_months * sxy - sx * sy AS DOUBLE)
                      / CAST(n_months * sx2 - sx * sx AS DOUBLE)) * sx)
                  / n_months) AS BIGINT) AS intercept_cents
FROM agg
"""


def event_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point localization (r7): for each event type, the
    hour where the cumulative deviation from the series mean peaks —
    the classic argmax-|CUSUM| estimator of a level shift in the
    arrival-rate series, over the same dense zero-filled grid the
    autocorrelation and spike monitors use.

    Exact integer math: with n hours, running count C_i and total T,
    the mean-centered cusum scaled by n is  n·C_i − i·T  (a BIGINT —
    no division anywhere until the reported pre/post means). The
    change point is the earliest hour attaining the max |cusum|;
    pre/post level estimates come out in milli-events/hour (one
    rounded division each, identical IEEE both engines; post level is
    NULL when the argmax is the final hour).

    Scale: cusum and ranking are two window passes over the SAME
    calendar-bounded per-type partitions (|hours| rows, not |events|);
    everything upstream is the shared dense-grid rollup."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w_ord = Window.partitionBy("event_type").orderBy("h")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("event_type")
    cum = _dense_hourly_counts(ev).select(
        "event_type",
        "h",
        F.sum("cnt").over(w_run).alias("cum"),
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_hours"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    scored = cum.withColumn(
        "cusum_scaled",
        F.col("n_hours") * F.col("cum") - F.col("i") * F.col("total"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("h").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            "n_hours",
            "total",
            F.abs(F.col("cusum_scaled")).alias("max_abs_cusum_scaled"),
            F.round(F.lit(1000.0) * F.col("cum") / F.col("i"))
            .cast("long")
            .alias("pre_level_milli"),
            F.when(
                F.col("n_hours") > F.col("i"),
                F.round(
                    F.lit(1000.0)
                    * (F.col("total") - F.col("cum"))
                    / (F.col("n_hours") - F.col("i"))
                ).cast("long"),
            ).alias("post_level_milli"),
        )
    )


_CUSUM_SQL = f"""
WITH {_DENSE_HOURLY_CTES}, cum AS (
  SELECT event_type, h,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY h
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
              AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM dense
), scored AS (
  SELECT *, n_hours * cum - i * total AS cusum_scaled FROM cum
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum_scaled) DESC, h ASC) AS rk
  FROM scored
)
SELECT event_type, h AS change_hour, n_hours, total,
       abs(cusum_scaled) AS max_abs_cusum_scaled,
       CAST(round(1000.0 * cum / i) AS BIGINT) AS pre_level_milli,
       CASE WHEN n_hours > i THEN
         CAST(round(1000.0 * (total - cum) / (n_hours - i)) AS BIGINT)
       END AS post_level_milli
FROM picked WHERE rk = 1
"""


def session_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over sessions (r7): for every
    ordered event-type pair (a → b), the fraction of sessions
    containing both (support), the fraction of a-sessions that also
    contain b (confidence), and the independence ratio (lift) — the
    classic co-engagement mining the Markov-transition matrix does NOT
    give (transitions see only adjacent pairs; rules see co-presence
    anywhere in the session).

    Sessionization is the engine's standard 30-min-gap lag/flag/cumsum
    (one user_id window). The per-session type set is a distinct over
    (user, seg, type) — bounded by |types| per session — and the pair
    fan-out is a self-equi-join on the session key, ≤ |types|² rows
    per session. Metrics are truncated integer ppm (positive DIV, same
    in both engines); the lift numerator 10^6·n_ab·N stays BIGINT-exact
    to ~10^12 sessions. Session count N rides along as a broadcast
    single-row aggregate — zero driver actions."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn(
            "new_s",
            # micros-exact gap compare: cast-to-long truncates to whole
            # seconds and silently merges a 1800.4s gap the oracle
            # splits (edge event 19 pins the fractional boundary)
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    > 1_800_000_000
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "seg",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    st = seg.select("user_id", "seg", "event_type").distinct()
    n_per_type = st.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    totals = (
        st.select("user_id", "seg")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    b = st.select(
        F.col("user_id").alias("b_user"),
        F.col("seg").alias("b_seg"),
        F.col("event_type").alias("consequent"),
    )
    pairs = (
        st.join(
            b,
            (st["user_id"] == b["b_user"])
            & (st["seg"] == b["b_seg"])
            & (st["event_type"] != b["consequent"]),
        )
        .groupBy(
            F.col("event_type").alias("antecedent"), "consequent"
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    enriched = (
        pairs.join(
            F.broadcast(
                n_per_type.select(
                    F.col("event_type").alias("antecedent"),
                    F.col("n_t").alias("n_a"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                n_per_type.select(
                    F.col("event_type").alias("consequent"),
                    F.col("n_t").alias("n_b"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(totals))
    )
    return enriched.select(
        "antecedent",
        "consequent",
        "n_ab",
        F.expr("1000000 * n_ab DIV n_sessions").alias("support_ppm"),
        F.expr("1000000 * n_ab DIV n_a").alias("confidence_ppm"),
        F.expr("(1000000 * n_ab * n_sessions) DIV (n_a * n_b)").alias(
            "lift_ppm"
        ),
    )


_ASSOC_RULES_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seg
  FROM flagged
), st AS (
  SELECT DISTINCT user_id, seg, event_type FROM seg
), n_per_type AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM st GROUP BY 1
), totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM (SELECT DISTINCT user_id, seg FROM st)
), pairs AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.seg = b.seg
   AND a.event_type <> b.event_type
  GROUP BY 1, 2
)
SELECT antecedent, consequent, n_ab,
       1000000 * n_ab // n_sessions AS support_ppm,
       1000000 * n_ab // na.n_t AS confidence_ppm,
       (1000000 * n_ab * n_sessions) // (na.n_t * nb.n_t) AS lift_ppm
FROM pairs
JOIN n_per_type na ON na.event_type = antecedent
JOIN n_per_type nb ON nb.event_type = consequent
CROSS JOIN totals
"""


def corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (r7): the materialization step of lexical
    retrieval — per term, document frequency, collection frequency,
    and the posting list as a sorted array of zero-padded
    ``doc_id:tf`` entries (padded so lexicographic array order IS
    numeric doc order in both engines; real systems delta-encode this
    — the padded-string form keeps the oracle bit-comparable).

    BM25/tf-idf QUERY this structure implicitly per search; building
    it once and sharding by term is how a 100 TB corpus serves many
    queries. Plan: one (term, doc) map-side-combined rollup, one term
    shuffle for the collect_list — the same two exchanges as any
    grouped agg. Posting arrays are capped at 1000 entries (df keeps
    the true count; heavy-term lists are the known cost center of any
    inverted index and get their own sharding in production — the cap
    bounds row width here, pinned by the oracle applying the same
    slice). The capped list is emitted comma-JOINED as one string
    (not ``array<string>``): the padded entries already make
    lexicographic order numeric order, and a flat string keeps the
    row hashable by any pandas/Arrow canonicalizer downstream (the
    r7 driver harness could not hash a list column)."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # 12-digit pad: lpad TRUNCATES when the input is longer (both
    # engines), which would silently misorder postings past 1e12 ids;
    # 12 digits covers any realistic doc-id domain
    posting = F.concat(
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        F.lit(":"),
        F.col("tf").cast("string"),
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list(posting)), 1, 1000), ","
        ).alias("postings"),
    )


_INVERTED_INDEX_SQL = f"""
WITH tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  GROUP BY 1, 2
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(
         (list(lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':'
               || CAST(tf AS VARCHAR)
               ORDER BY doc_id))[1:1000], ',') AS postings
FROM tf GROUP BY 1
"""


def event_value_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-trimmed) mean per event type (r7): drop the lowest
    and highest floor(n/20) values by deterministic rank (cent value,
    then event_id) and average the rest — the outlier-insensitive
    level estimate, reported next to the plain mean so the gap IS the
    tail influence. One sort per type; everything on the integer cent
    grid, the two means rounded once to milli-cents (identical IEEE
    both engines)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("vc", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "event_id", _cents("value").alias("vc")
    ).select(
        "event_type",
        "vc",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    k = (F.col("n") / 20).cast("long")
    kept = ranked.filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
    return kept.groupBy("event_type").agg(
        F.max("n").alias("n_values"),
        F.count(F.lit(1)).alias("n_kept"),
        F.round(
            F.lit(1000.0) * F.sum("vc") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("trimmed_mean_milli_cents"),
    )


_TRIMMED_STATS_SQL = """
WITH ranked AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS vc,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY CAST(round(value * 100) AS BIGINT),
                                          event_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), kept AS (
  SELECT * FROM ranked
  WHERE rn > n // 20 AND rn <= n - n // 20
)
SELECT event_type,
       MAX(n) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(round(1000.0 * SUM(vc) / COUNT(*)) AS BIGINT)
         AS trimmed_mean_milli_cents
FROM kept GROUP BY 1
"""


def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-spend deciles (r7) via NTILE — the remaining
    ranking-window family member (row_number/rank/dense_rank/
    percent_rank/cume_dist are covered elsewhere): decile cut on total
    order spend with a total deterministic order (spend desc, custkey
    asc — NTILE splits ties across buckets, so the tie-break IS the
    semantics), then per-decile count, revenue share, and the spend
    boundaries. Two exchanges: the customer rollup and the 10-row
    final agg; the NTILE window is a single sort over |customers|
    rollup rows, not order rows."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("spend_cents")
    )
    # pmod(custkey, 1) == constant 0 partition key (the _ranked_topk
    # trick): NTILE needs the total order, and the window input is the
    # |customers| rollup, not order rows. At true 100 TB dimension
    # cardinality the decile cut moves to broadcast quantile
    # boundaries; NTILE's tie-splitting semantics are the point here.
    w = Window.partitionBy(F.pmod(F.col("o_custkey"), F.lit(1))).orderBy(
        F.col("spend_cents").desc(), F.col("o_custkey").asc()
    )
    tiled = spend.select(
        "o_custkey",
        "spend_cents",
        F.ntile(10).over(w).cast("long").alias("decile"),
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_cents").alias("decile_spend_cents"),
        F.max("spend_cents").alias("max_spend_cents"),
        F.min("spend_cents").alias("min_spend_cents"),
    )


_SPEND_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders GROUP BY 1
), tiled AS (
  SELECT o_custkey, spend_cents,
         CAST(ntile(10) OVER (ORDER BY spend_cents DESC, o_custkey ASC)
              AS BIGINT) AS decile
  FROM spend
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(spend_cents) AS BIGINT) AS decile_spend_cents,
       MAX(spend_cents) AS max_spend_cents,
       MIN(spend_cents) AS min_spend_cents
FROM tiled GROUP BY 1
"""


#: Benford expected first-digit shares, ppm: round(1e6·log10(1 + 1/d)).
#: Computed ONCE in Python and embedded as the same literals in the
#: Spark expression and the SQL twin, so no engine evaluates log10.
_BENFORD_EXPECTED_PPM: list[int] = [
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
]


def orders_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (r7): the leading-digit distribution
    of order totals against Benford's law — the classic
    fabricated-data / unit-mixing detector a data-quality suite runs
    over money columns. Deviation is reported per digit in exact ppm;
    the expected shares are Python-precomputed literals (no runtime
    log10 in either engine).

    One map-side-combined 9-group aggregate; the total rides along as
    a broadcast single-row aggregate — zero driver actions."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
    )
    digit = F.substring(
        _cents("o_totalprice").cast("string"), 1, 1
    ).cast("long")
    counts = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    total = orders.agg(F.count(F.lit(1)).alias("n_total"))
    expected = F.element_at(
        F.lit(_BENFORD_EXPECTED_PPM), F.col("digit").cast("int")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.expr("1000000 * n_orders DIV n_total").alias("observed_ppm"),
            expected.cast("long").alias("expected_ppm"),
            (
                F.expr("1000000 * n_orders DIV n_total")
                - expected.cast("long")
            ).alias("deviation_ppm"),
        )
    )


_BENFORD_SQL = f"""
WITH base AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM base GROUP BY 1
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM base
)
SELECT digit, n_orders,
       1000000 * n_orders // n_total AS observed_ppm,
       CAST(({_BENFORD_EXPECTED_PPM})[CAST(digit AS INT)] AS BIGINT)
         AS expected_ppm,
       1000000 * n_orders // n_total
         - CAST(({_BENFORD_EXPECTED_PPM})[CAST(digit AS INT)] AS BIGINT)
         AS deviation_ppm
FROM counts CROSS JOIN total
"""


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (r7): the labeled language vs the
    n-gram classifier's prediction, with per-label row shares in ppm —
    the audit that tells a corpus pipeline WHERE its lang filter
    leaks (which labels get mistaken for which), not just the overall
    accuracy. One scan, one |langs|² aggregate; per-label totals via a
    window over the tiny confusion relation."""
    from ..functions.text import predicted_lang

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    cm = (
        docs.select("lang", predicted_lang("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cm.withColumn(
        "lang_total", F.sum("n_docs").over(w)
    ).select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr("1000000 * n_docs DIV lang_total").alias("row_share_ppm"),
        (F.col("lang") == F.col("pred_lang")).alias("is_match"),
    )


#: Shared lang-ID twin fragments (confusion matrix + margin
#: calibration): ONE copy of the stopword regex scores and the
#: en>de>fr>es argmax, so the two oracles can never desynchronize
#: against functions/text.lang_scores (the _kmv_pairs_ctes rule).
_LANGID_SCORED_CTE = rf"""scored AS (
  SELECT lang,
         CAST(len(regexp_extract_all({_NORM_SQL},
              '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS s_en,
         CAST(len(regexp_extract_all({_NORM_SQL},
              '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
         CAST(len(regexp_extract_all({_NORM_SQL},
              '\b(le|la|les|et|est)\b')) AS BIGINT) AS s_fr,
         CAST(len(regexp_extract_all({_NORM_SQL},
              '\b(el|los|las|y|es)\b')) AS BIGINT) AS s_es
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
)"""

_LANGID_PRED_CASE = """CASE
    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
    WHEN s_fr >= s_es THEN 'fr'
    ELSE 'es' END"""

_LANGID_CONFUSION_SQL = f"""
WITH {_LANGID_SCORED_CTE}, pred AS (
  SELECT lang, {_LANGID_PRED_CASE} AS pred_lang
  FROM scored
), cm AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT lang, pred_lang, n_docs,
       1000000 * n_docs
         // CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS row_share_ppm,
       lang = pred_lang AS is_match
FROM cm
"""


def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall audit (r7): how much of the exact
    full-dimension cosine top-10 survives when vectors are truncated
    to their first 16 dimensions — the measurement behind the modern
    store-short/rerank-long embedding serving pattern (MRL): if
    overlap@10 is high, the short prefix can serve first-stage
    retrieval at 1/4 the bandwidth.

    One pass scores both similarities per (query, candidate) pair
    (5 broadcast queries × corpus — the corpus never shuffles), two
    rank windows per query, and the overlap is the count of candidates
    ranked ≤ 10 under BOTH metrics. Ties broken by vec_id; the dot
    products are the engine's bit-identical fold."""
    from ..operators.similarity import cosine

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        cosine(F.col("embedding"), F.col("qv")).alias("cf"),
        cosine(
            F.slice(F.col("embedding"), 1, 16), F.slice(F.col("qv"), 1, 16)
        ).alias("ct"),
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("cf").desc(), F.col("vec_id").asc()
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("ct").desc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return (
        ranked.filter((F.col("rf") <= 10) & (F.col("rt") <= 10))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
        .select(
            "qid",
            "overlap_at_10",
            (F.col("overlap_at_10") * 100000).alias("recall_ppm"),
        )
    )


_MATRYOSHKA_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.qid, a.vec_id,
         {_COS_SQL.format(a='a.embedding', b='q.qv')} AS cf,
         {_COS_SQL.format(a='(a.embedding[1:16])', b='(q.qv[1:16])')} AS ct
  FROM embeddings a CROSS JOIN q
), ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cf DESC, vec_id ASC) AS rf,
         row_number() OVER (PARTITION BY qid
                            ORDER BY ct DESC, vec_id ASC) AS rt
  FROM scored
)
SELECT qid,
       CAST(COUNT(*) AS BIGINT) AS overlap_at_10,
       CAST(COUNT(*) AS BIGINT) * 100000 AS recall_ppm
FROM ranked WHERE rf <= 10 AND rt <= 10
GROUP BY qid
"""


#: k-core order, peel rounds and kNN edge cap of part_kcore_members and
#: its SQL twin.
_KCORE_K = 2
_KCORE_ROUNDS = 8
_KCORE_KNN = 50


def part_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the repeat-co-purchase graph (r7): parts co-ordered
    in >= 2 distinct orders form an edge; nodes surviving 8 rounds of
    degree-< 2 peeling remain, with their induced degree — the third
    graph-analytics member after PageRank and triangle clustering
    (k-core is the classic dense-region / fringe filter: leaves and
    chains peel away, cyclic cores remain; at sf0.1 the peel removes
    >99% of nodes, so the survivors ARE the signal).

    The repeat-count threshold makes the graph sparse enough to have a
    genuine fringe (the raw one-co-order graph is near-complete on the
    synthetic fixture — every node trivially in every core). Fixed
    rounds for an exact unrolled-CTE oracle, same treatment as
    PageRank's iterations; full peel converges in <= 5 rounds at every
    fixture SF (fixpoint pinned in tests/test_clustering.py).

    r9 sparsification (the 10×-study lever link prediction already
    applied): the peel runs over the kNN-sparsified graph — each node
    keeps its 50 strongest co-purchase edges, an edge survives if
    either endpoint keeps it — because the RAW repeat-edge set
    densifies ~33× on a 10×-replicated corpus (more orders push more
    pairs over the w ≥ 2 line) and the peel rides that growth. The
    cap drops only low-weight edges of super-degree hubs, which a
    density analysis (k-core) can afford to ignore: a node with > 50
    repeat-co-purchase partners is in the dense region under any cap
    ≥ k. Deterministic (w desc, neighbor asc), mirrored in the SQL
    twin.

    Scale: the co-occurrence pair build is the per-order self-join
    (fan-out bounded by lines-per-order²); the sparsified edge list
    is ≤ |V|·50; each peel round is one explode-degree aggregate +
    two semi-joins — the Pregel round shape, lineage truncated per
    round (operators/graph.kcore)."""
    from ..operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    ue = _knn_sparsify_edges(_repeat_copurchase_edges_w(li), knn=_KCORE_KNN)
    return kcore(ue, k=_KCORE_K, rounds=_KCORE_ROUNDS).select(
        F.col("n").alias("part"), "core_degree"
    )


def _kcore_round_sql(i: int, k: int) -> str:
    p = f"n{i - 1}"
    # AS MATERIALIZED: DuckDB inlines CTEs by default, and each round
    # references the previous one several times — un-materialized, the
    # chain re-expands the base scan exponentially (observed as fd
    # exhaustion at 8 rounds).
    return f"""
, e{i} AS MATERIALIZED (
  SELECT a, b FROM ue
  WHERE a IN (SELECT n FROM {p}) AND b IN (SELECT n FROM {p})
), d{i} AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT a AS n FROM e{i} UNION ALL SELECT b FROM e{i})
  GROUP BY 1
), n{i} AS MATERIALIZED (
  SELECT n FROM d{i} WHERE d >= {k}
)"""


_KCORE_SQL = f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT least(a.l_partkey, b.l_partkey) AS a,
         greatest(a.l_partkey, b.l_partkey) AS b,
         COUNT(*) AS w
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), rep AS (
  SELECT a, b, w FROM pairs WHERE w >= 2
), bidir AS (
  SELECT a AS src, b AS dst, w FROM rep
  UNION ALL SELECT b, a, w FROM rep
), kept AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY w DESC, dst ASC) AS rk
    FROM bidir
  ) WHERE rk <= {_KCORE_KNN}
), ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM kept
), n0 AS MATERIALIZED (
  SELECT DISTINCT n
  FROM (SELECT a AS n FROM ue UNION ALL SELECT b FROM ue)
){"".join(_kcore_round_sql(i, _KCORE_K) for i in range(1, _KCORE_ROUNDS + 1))}
SELECT n AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (
  SELECT a AS n FROM ue
  WHERE a IN (SELECT n FROM n{_KCORE_ROUNDS}) AND b IN (SELECT n FROM n{_KCORE_ROUNDS})
  UNION ALL
  SELECT b FROM ue
  WHERE a IN (SELECT n FROM n{_KCORE_ROUNDS}) AND b IN (SELECT n FROM n{_KCORE_ROUNDS})
)
GROUP BY 1
"""


def segment_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini concentration of customer spend (r7): the
    inequality coefficient over each market segment's customer-spend
    distribution — the concentration monitor that says whether a
    segment's revenue rides on a few whales (G→1) or a broad base
    (G→0), from the classic rank formula
    G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending spend.

    Exact integer rank sums on the cent grid (Σ i·xᵢ stays BIGINT to
    ~10⁹ customers × $10⁶ spends); ties ordered (spend, custkey) so
    ranks are total in both engines; the two final divisions are the
    only float ops, identical IEEE sequence. Windows partition by
    segment — the rank pass is dimension-rollup-sized, never order
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("spend_cents"))
        .join(
            customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spend_cents").asc(), F.col("o_custkey").asc()
    )
    ranked = spend.select(
        "c_mktsegment",
        "spend_cents",
        F.row_number().over(w).cast("long").alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_cents").alias("total_cents"),
        F.sum(F.col("i") * F.col("spend_cents")).alias("rank_sum"),
    )
    gini = (
        F.lit(2.0) * F.col("rank_sum").cast("double")
        / (F.col("n_customers").cast("double") * F.col("total_cents"))
        - (F.col("n_customers") + 1).cast("double") / F.col("n_customers")
    )
    # total == 0 (possible under refunds/zero-price data) would divide
    # to NaN, where Spark's cast and DuckDB's CAST diverge — NULL it.
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "total_cents",
        F.when(
            F.col("total_cents") > 0,
            F.round(F.lit(1000000.0) * gini).cast("long"),
        ).alias("gini_ppm"),
    )


_SPEND_GINI_SQL = """
WITH spend AS (
  SELECT o_custkey, c_mktsegment,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, spend_cents,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY spend_cents ASC, o_custkey ASC)
              AS BIGINT) AS i
  FROM spend
), agg AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(spend_cents) AS BIGINT) AS total_cents,
         CAST(SUM(i * spend_cents) AS BIGINT) AS rank_sum
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n_customers, total_cents,
       CASE WHEN total_cents > 0 THEN
         CAST(round(1000000.0 * (
           2.0 * CAST(rank_sum AS DOUBLE)
             / (CAST(n_customers AS DOUBLE) * total_cents)
           - CAST(n_customers + 1 AS DOUBLE) / n_customers
         )) AS BIGINT)
       END AS gini_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# round-7 session-6: KMV overlap sketch, join-view IVM, multi-source
# BFS, seasonal anomaly, RAKE keyword extraction
# ---------------------------------------------------------------------------

#: KMV sketch size (bottom-k). Estimator constant (k−1)·2⁶⁰ is a
#: 6-significant-bit integer times a power of two — exactly
#: representable as a double, so both engines divide identical
#: numerators (single correctly-rounded IEEE op ⇒ bit-equal).
_KMV_K = 64
_KMV_DOMAIN = 1 << 60


def _kmv_pairs_staged(
    spark: SparkSession, sf_dir: str, k: int = _KMV_K
) -> DataFrame:
    """Shared KMV pair stage (overlap + A-not-B queries): per-type
    bottom-k sketches of distinct (user, day) hashes, canonical
    (type_a < type_b) pairs, the sorted merged union sketch, and
    kk = min(k, |merged|). The bottom-k rank filter compiles to
    WindowGroupLimit (map-side pre-trim, pinned by plan contract);
    the pairing joins |types| sketch rows, never events."""
    from ..functions.text import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    items = ev.select(
        "event_type",
        md5_hash64(
            F.concat_ws(
                "|",
                F.lit("kmv1"),
                F.col("user_id").cast("string"),
                F.date_format("ts", "yyyy-MM-dd"),
            )
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    sk_rows = items.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    sketches = sk_rows.groupBy("event_type").agg(
        F.sort_array(F.collect_list("h")).alias("sk"),
        F.count(F.lit(1)).cast("long").alias("sz"),
    )
    a = sketches.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("sz").alias("sz_a"),
        F.lit(1).alias("one"),
    )
    b = sketches.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("sz").alias("sz_b"),
        F.lit(1).alias("one"),
    )
    pairs = a.join(b, "one").filter(F.col("type_a") < F.col("type_b"))
    merged = F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b")))
    return pairs.select(
        "type_a",
        "type_b",
        "sk_a",
        "sk_b",
        "sz_a",
        "sz_b",
        merged.alias("merged"),
    ).select(
        "*",
        F.least(F.lit(k), F.size("merged")).cast("long").alias("kk"),
    )


def activity_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap across event types via KMV
    (bottom-k / Theta) distinct sketches (r7 session-6): each type
    keeps only the k smallest 60-bit hashes of its distinct
    (user, day) activity pairs; for a pair of types the k smallest of
    the merged hash sets estimate |A∪B| ≈ (k−1)·D / h₍ₖ₎ (Bar-Yossef
    et al. 2002), and the fraction of those union-sketch members
    present in BOTH input sketches estimates the intersection — the
    Theta-sketch set algebra (Dasgupta et al. 2016). This is the
    kilobytes-per-segment answer to "how much do my segments overlap"
    that COUNT(DISTINCT) pairwise self-joins cannot give at 100 TB.

    Determinism: hashes are the cross-engine md5 fold; the estimator
    divides two exactly-representable doubles once, and the
    intersection path multiplies two correctly-rounded quotients in a
    fixed order — bit-identical in the DuckDB twin. Sketches smaller
    than k switch to the exact branch (the sketch IS the set).

    Scale: the per-type bottom-k is a rank window that Spark 3.5+
    executes as WindowGroupLimit — every map task pre-trims to its
    local k before the one |types|-key shuffle (pinned by plan
    contract); the pairwise stage joins |types| sketch ROWS (k longs
    each), never data. Reference scope: the reference has no sketch
    tier at all (SURVEY §0); this extends §2.5's approx-sketch row."""
    staged = _kmv_pairs_staged(spark, sf_dir, _KMV_K).select(
        "*",
        F.size(
            F.array_intersect(
                F.array_intersect(
                    F.slice(F.col("merged"), 1, _KMV_K), F.col("sk_a")
                ),
                F.col("sk_b"),
            )
        )
        .cast("long")
        .alias("j_common"),
    )
    exact = F.size("merged") < _KMV_K
    numer = F.lit(float((_KMV_K - 1) * _KMV_DOMAIN))
    est_union = F.when(
        exact, F.size("merged").cast("double")
    ).otherwise(
        numer / F.element_at(F.col("merged"), F.col("kk").cast("int")).cast("double")
    )
    est_inter = F.when(exact, F.col("j_common").cast("double")).otherwise(
        (F.col("j_common").cast("double") / F.col("kk").cast("double"))
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
        "sz_a",
        "sz_b",
        "kk",
        "j_common",
        est_union.alias("est_union"),
        est_inter.alias("est_inter"),
    )


_KMV_H_SQL = _HASH64_SQL.format(
    x="('kmv1' || '|' || CAST(user_id AS VARCHAR) || '|' "
    "|| strftime(ts, '%Y-%m-%d'))"
)


def _kmv_pairs_ctes(k: int) -> str:
    """Shared SQL twin of _kmv_pairs_staged: per-type bottom-k
    sketches and canonical merged pairs, ending in relation ``m``
    (type_a/type_b, sk_a/sk_b, sz_a/sz_b, merged). Both KMV twins
    build on this so the sketch stage (salt, trim, merge) can never
    desynchronize between them — and ``k`` interpolates so a
    non-default Python-side k keeps its oracle pairing."""
    return f"""items AS (
  SELECT DISTINCT event_type, {_KMV_H_SQL} AS h
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM items
), sk AS (
  SELECT event_type, list(h ORDER BY h ASC) AS sk,
         CAST(count(*) AS BIGINT) AS sz
  FROM ranked WHERE rn <= {k} GROUP BY 1
), pr AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.sk AS sk_a, b.sk AS sk_b, a.sz AS sz_a, b.sz AS sz_b
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), m AS (
  SELECT *, list_sort(list_distinct(sk_a || sk_b)) AS merged FROM pr
)"""


def _kmv_est_union_sql(k: int) -> str:
    return (
        f"(CAST({k - 1} AS DOUBLE) * CAST({_KMV_DOMAIN} AS DOUBLE)"
        " / CAST(list_extract(merged, kk) AS DOUBLE))"
    )


_ACTIVITY_KMV_SQL = f"""
WITH {_kmv_pairs_ctes(_KMV_K)}, c AS (
  SELECT *, CAST(least({_KMV_K}, len(merged)) AS BIGINT) AS kk,
         CAST(len(list_intersect(
                list_intersect(merged[1:{_KMV_K}], sk_a), sk_b)) AS BIGINT)
           AS j_common
  FROM m
)
SELECT type_a, type_b, sz_a, sz_b, kk, j_common,
       CASE WHEN len(merged) < {_KMV_K} THEN CAST(len(merged) AS DOUBLE)
            ELSE {_kmv_est_union_sql(_KMV_K)} END AS est_union,
       CASE WHEN len(merged) < {_KMV_K} THEN CAST(j_common AS DOUBLE)
            ELSE (CAST(j_common AS DOUBLE) / CAST(kk AS DOUBLE))
                 * {_kmv_est_union_sql(_KMV_K)} END AS est_inter
FROM c
"""


def order_lineitem_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join-aggregate view (r7
    session-6): the per-order revenue view γ(O ⋈ L) maintained by the
    classic delta algebra Δ(O⋈L) = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL (Gupta &
    Mumick's change-propagation rules) — orders arriving late (every
    7th orderkey) and lineitems arriving late (line numbers ≥ 4) are
    folded into the base view WITHOUT recomputing the base join. The
    oracle recomputes the view from scratch; green means the delta
    algebra loses and double-counts nothing.

    Exactness: revenue partials are the ×10⁴ integer grid
    (disc_price_cents), so re-aggregating partial aggregates is an
    exact long sum — associative under any grouping of deltas.

    Scale: all four joins share the orderkey shuffle key, so one
    co-partitioning serves the whole maintenance pass; at 100 TB the
    base view is a stored table and ONLY the three delta joins run
    per batch — each bounded by |Δ|, with the delta side broadcast
    when a batch is small. This is the batch twin of the streaming
    upsert tier (events_upsert_latest, orders_incremental_agg)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    is_do = F.col("o_orderkey") % 7 == 0
    is_dl = F.col("l_linenumber") >= 4
    o_old, o_new = orders.filter(~is_do), orders.filter(is_do)
    l_old, l_new = li.filter(~is_dl), li.filter(is_dl)

    def partial(o: DataFrame, lines: DataFrame) -> DataFrame:
        j = o.select("o_orderkey", "o_orderpriority").join(
            lines.select(
                "l_orderkey", disc_price_cents().alias("rev_units")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        return j.groupBy("o_orderkey", "o_orderpriority").agg(
            F.sum("rev_units").alias("rev_units"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )

    deltas = (
        partial(o_old, l_old)
        .unionByName(partial(o_new, l_old))
        .unionByName(partial(o_old, l_new))
        .unionByName(partial(o_new, l_new))
    )
    return deltas.groupBy("o_orderkey", "o_orderpriority").agg(
        (F.sum("rev_units").cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
        F.sum("n_lines").cast("long").alias("n_lines"),
    )


_ORDER_IVM_SQL = f"""
SELECT o_orderkey, o_orderpriority,
       CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""


#: BFS rounds of part_bfs_hops and its SQL twin.
_BFS_ROUNDS = 4


def part_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the repeat-co-purchase part
    graph (r7 session-6): from the seed set {parts ≡ 0 mod 53} the
    frontier expands 4 rounds; each part reached gets its minimum hop
    count — the "distance to a known-good seed" feature (spam-farm
    distance, catalog neighborhoods) that complements PageRank
    (global mass), k-core (density), and triangles (local closure).

    Same graph as part_kcore_members (co-ordered in ≥ 2 distinct
    orders). Fixed rounds for the exact unrolled-CTE oracle, with the
    same AS MATERIALIZED guard (DuckDB re-inlines each round's CTE
    exponentially otherwise).

    Scale: each round is one semi-join (frontier onto the bidirected
    edge list) + distinct + anti-join against the visited set — the
    Pregel frontier shape, lineage truncated per round; frontier and
    visited sets are (node) singletons, never edges."""
    from ..operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem")
    ue = _repeat_copurchase_edges(li)
    nodes = ue.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("n")
    ).distinct()
    seeds = nodes.filter(F.col("n") % 53 == 0)
    return bfs_hops(ue, seeds, rounds=_BFS_ROUNDS).select(
        F.col("n").alias("part"), "dist"
    )


def _sorted_pairs(ps) -> "F.Column":
    """All (a, b) index pairs i < j from a SORTED-DISTINCT array — on a
    sorted array the slice already guarantees a < b, so no filter pass
    and no discarded half of the m² struct allocations
    (operators/dedup._ordered_pairs is the unsorted-array general
    form)."""
    return F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _repeat_copurchase_edges_w(li: DataFrame) -> DataFrame:
    """Weighted canonical (a < b) edges between parts co-ordered in
    ≥ 2 distinct orders, w = co-order count.

    r13 (guide §2.4/§3: remove the shuffle, don't tune it): formerly a
    distinct + self-join on l_orderkey — three exchanges, with the
    basket-bounded pair fan-out crossing the wire UNcombined (profiled
    at sf0.1: 2×6 MB basket exchanges + a 24 MB pair-row shuffle
    read). Now ONE map-side-combined groupBy collects each order's
    sorted distinct part set (collect_set dedups, so the former
    ``.distinct()`` pre-pass is folded in) and the a<b pairs expand
    IN-ARRAY from the sorted basket before the count aggregate — the
    pair rows are born in the same stage that aggregates them, so the
    only remaining exchanges are the basket rollup and the combined
    (a, b) counts. Identical output: one pair emission per order per
    unordered part pair, exactly what the self-join produced. Baskets
    are bounded by lines-per-order (the same bound the join relied
    on), so the per-row array work is O(basket²) with basket ≤ ~13."""
    baskets = (
        li.select("l_orderkey", "l_partkey")
        # r14 (guide §2.5 byte-undercount, profiled): the set-merge +
        # sort_array + in-array pair expansion downstream are
        # CPU-dense on byte-light rows, so AQE's byte-derived
        # coalescing of the rollup exchange undercounted the stage
        # ~10x — at sf0.1 it ran at 4 tasks with ~4 s of CPU while 28
        # cores idled (the same ratio holds at any scale: the 1 MB
        # minPartitionSize floor sees bytes, not basket² work). The
        # explicit hash repartition (REPARTITION_BY_NUM — exempt from
        # AQE coalescing) BEFORE the groupBy satisfies the aggregate's
        # required distribution, so agg + expansion + partial pair
        # count all run in ONE pinned-width stage after ONE exchange
        # (vs the r13 shape's agg exchange + a coalesced reduce
        # stage). The exchange carries the raw (orderkey, partkey)
        # pairs uncombined; a post-agg repartition that kept map-side
        # combining was measured SLOWER (the merge+sort_array CPU
        # stayed on the coalesced stage and the extra exchange paid
        # 12 MB to fix only the cheap half) — see OPTIMIZATION_r14.md.
        # defaultParallelism scales with the deployment, not a local
        # constant.
        .repartition(
            li.sparkSession.sparkContext.defaultParallelism, "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("__ps"))
    )
    return (
        baskets.select(F.explode(_sorted_pairs(F.col("__ps"))).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )


def _repeat_copurchase_edges(li: DataFrame) -> DataFrame:
    """Canonical (a < b) edges between parts co-ordered in ≥ 2
    distinct orders — the graph shared by part_kcore_members and
    part_bfs_hops."""
    return _repeat_copurchase_edges_w(li).select("a", "b")


def _knn_sparsify_edges(ue_w: DataFrame, knn: int) -> DataFrame:
    """kNN edge sparsification of a weighted canonical (a < b, w)
    edge list: each node keeps its ``knn`` strongest incident edges
    by (w desc, neighbor asc); an edge survives if EITHER endpoint
    keeps it (so the graph stays undirected and no node is orphaned
    by a hub neighbor's cap). Output is the canonical (a < b)
    distinct edge list, ≤ |V|·knn rows regardless of how dense the
    raw co-occurrence graph gets — the standard bound that keeps
    graph analytics (k-core, link prediction) off the densification
    curve a replicated-order corpus rides. Deterministic: the
    (w desc, dst asc) order is total per src."""
    bidir = ue_w.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        ue_w.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )
    wk = Window.partitionBy("src").orderBy(
        F.col("w").desc(), F.col("dst").asc()
    )
    return (
        bidir.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= knn)
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


_BFS_EDGES_CTES = """lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS w
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), ue AS MATERIALIZED (
  SELECT a, b FROM pairs WHERE w >= 2
), bidir AS MATERIALIZED (
  SELECT a, b FROM ue UNION ALL SELECT b AS a, a AS b FROM ue
)"""


def _bfs_round_sql(i: int) -> str:
    p = f"f{i - 1}"
    v = f"v{i - 1}"
    return f"""
, nb{i} AS MATERIALIZED (
  SELECT DISTINCT b AS n FROM bidir WHERE a IN (SELECT n FROM {p})
), f{i} AS MATERIALIZED (
  SELECT n FROM nb{i} WHERE n NOT IN (SELECT n FROM {v})
), v{i} AS MATERIALIZED (
  SELECT n FROM {v} UNION SELECT n FROM f{i}
)"""


_BFS_HOPS_SQL = "\nUNION ALL\n".join(
    f"SELECT n, {i} AS d FROM f{i}" for i in range(_BFS_ROUNDS + 1)
)


_BFS_SQL = f"""
WITH {_BFS_EDGES_CTES}, f0 AS MATERIALIZED (
  SELECT DISTINCT n FROM (
    SELECT a AS n FROM bidir
  ) WHERE n % 53 = 0
), v0 AS MATERIALIZED (
  SELECT n FROM f0
){"".join(_bfs_round_sql(i) for i in range(1, _BFS_ROUNDS + 1))}
SELECT n AS part, CAST(d AS BIGINT) AS dist FROM ({_BFS_HOPS_SQL})
"""


def event_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection (r7 session-6): events
    whose value deviates > 3σ from their (event_type, hour-of-day)
    baseline — the deseasonalized z-score monitor that a raw global
    threshold gets wrong twice (flags every busy-hour peak, misses a
    3 a.m. spike that is huge FOR 3 a.m.). Complements the trend
    (CUSUM, drift) and rate (spike) monitors with a seasonal one.

    Exactness: moments accumulate on the integer cent grid (sum and
    sum-of-squares as longs — order-independent), and mean/variance/z
    are a fixed sequence of correctly-rounded double ops, identical
    in the SQL twin. Sample variance (n−1); groups need n ≥ 2 and
    positive variance. The ×10⁴-grid square sum overflows a long past
    ~10⁹ rows per (type, hour) cell; the production variant at that
    scale switches to double partials (same caveat as the repo-wide
    _cents convention).

    Scale: one map-side-combinable agg to ≤ |types|·24 baseline rows,
    broadcast back onto the event scan — no event-side shuffle at
    all."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    e = ev.select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        _cents("value").alias("v_cents"),
    )
    stats = (
        e.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_cents").alias("s"),
            F.sum(F.col("v_cents") * F.col("v_cents")).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    joined = e.join(
        F.broadcast(stats), ["event_type", "hod"]
    ).withColumns(
        {
            "mu": mu,
            "var": var,
        }
    )
    z = (F.col("v_cents").cast("double") - F.col("mu")) / F.sqrt(
        F.col("var")
    )
    return (
        joined.filter((F.col("var") > 0) & (F.abs(z) > 3.0))
        .select(
            "event_id",
            "event_type",
            "hod",
            "v_cents",
            F.round(F.lit(1000000.0) * z).cast("long").alias("z_micro"),
        )
    )


_SEASONAL_ANOMALY_SQL = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(round(value * 100) AS BIGINT) AS v_cents
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), st AS (
  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v_cents) AS BIGINT) AS s,
         CAST(SUM(v_cents * v_cents) AS BIGINT) AS ss
  FROM e GROUP BY 1, 2
), st2 AS (
  SELECT event_type, hod,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         (CAST(ss AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / CAST(n - 1 AS DOUBLE) AS var
  FROM st WHERE n >= 2
)
SELECT e.event_id, e.event_type, e.hod, e.v_cents,
       CAST(round(1000000.0
                  * ((CAST(v_cents AS DOUBLE) - mu) / sqrt(var)))
            AS BIGINT) AS z_micro
FROM e JOIN st2 USING (event_type, hod)
WHERE var > 0
  AND abs((CAST(v_cents AS DOUBLE) - mu) / sqrt(var)) > 3.0
"""


#: Phrases reported by rake_keyword_phrases.
_RAKE_TOP_N = 50


def rake_keyword_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus (r7 session-6): token
    runs between stopword delimiters are candidate phrases; each
    word scores degree/frequency (degree = summed length of the
    phrases it appears in — RAKE's co-occurrence weighting, Rose et
    al. 2010), and a phrase scores the sum of its member words — the
    classic unsupervised keyword extractor, here producing the
    corpus-level top-50 phrase list.

    Determinism: word scores are floor-divided micro-units
    (degree·10⁶ div freq — exact integer both engines), so phrase
    scores are exact long sums and the top-50 ordering
    (score, occurrences, phrase) is total. Phrase assembly orders
    tokens by position (array_sort on (pos, word) / ORDER BY inside
    string_agg) rather than trusting collection order.

    Scale: one posexplode + one running-count window per doc
    partition (the same shape as doc_word_positions), two
    map-side-combinable aggs over (phrase) and (word), and a global
    top-50 that compiles to TakeOrderedAndProject. The word-score
    join broadcasts |vocab| rows. Stopword set matches the fixture
    vocabulary's function words."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    stop = F.col("w").isin("a", "the")
    wseq = toks.withColumn(
        "sid",
        F.sum(stop.cast("long")).over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    members = wseq.filter(~stop).select("doc_id", "sid", "pos", "w")
    phrase_rows = members.groupBy("doc_id", "sid").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    scored_members = members.join(
        phrase_rows.select("doc_id", "sid", "plen"), ["doc_id", "sid"]
    )
    wstats = scored_members.groupBy("w").agg(
        F.count(F.lit(1)).alias("freqw"),
        F.sum("plen").alias("deg"),
    )
    wscore = wstats.select(
        "w", F.expr("deg * 1000000 div freqw").alias("wscore_micro")
    )
    phrase_scores = (
        scored_members.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "sid")
        .agg(F.sum("wscore_micro").alias("score_micro"))
    )
    per_phrase = (
        phrase_rows.join(phrase_scores, ["doc_id", "sid"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_micro").cast("long").alias("score_micro"),
        )
    )
    return (
        per_phrase.orderBy(
            F.col("score_micro").desc(),
            F.col("n_occurrences").desc(),
            F.col("phrase").asc(),
        )
        .limit(_RAKE_TOP_N)
    )


_RAKE_SQL = """
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), toks2 AS (
  SELECT * FROM toks WHERE w <> ''
), wseq AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM toks2
), members AS (
  SELECT doc_id, sid, pos, w FROM wseq WHERE w NOT IN ('a', 'the')
), phrase_rows AS (
  SELECT doc_id, sid, string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM members GROUP BY 1, 2
), scored_members AS (
  SELECT m.doc_id, m.sid, m.w, p.plen
  FROM members m JOIN phrase_rows p USING (doc_id, sid)
), wscore AS (
  SELECT w, (SUM(plen) * 1000000) // COUNT(*) AS wscore_micro
  FROM scored_members GROUP BY 1
), phrase_scores AS (
  SELECT s.doc_id, s.sid, SUM(ws.wscore_micro) AS score_micro
  FROM scored_members s JOIN wscore ws USING (w)
  GROUP BY 1, 2
)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score_micro) AS BIGINT) AS score_micro
FROM phrase_rows p JOIN phrase_scores USING (doc_id, sid)
GROUP BY 1
ORDER BY score_micro DESC, n_occurrences DESC, phrase ASC
LIMIT 50
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "hybrid_rrf_search": (hybrid_rrf_search, _HYBRID_RRF_SQL),
    "bloom_prune_join": (bloom_prune_join, _BLOOM_PRUNE_SQL),
    "part_skyline": (part_skyline, _PART_SKYLINE_SQL),
    "user_distinct_sketch": (user_distinct_sketch, _DISTINCT_SKETCH_SQL),
    "stream_user_distinct_sketch": (
        stream_user_distinct_sketch_q,
        _STREAM_SKETCH_SQL,
    ),
    "value_quantile_histogram": (
        value_quantile_histogram,
        _QUANTILE_HIST_SQL,
    ),
    "purchase_attribution": (purchase_attribution, _ATTRIBUTION_SQL),
    "nation_revenue_trend": (nation_revenue_trend, _NATION_TREND_SQL),
    "event_cusum_changepoint": (event_cusum_changepoint, _CUSUM_SQL),
    "session_association_rules": (
        session_association_rules,
        _ASSOC_RULES_SQL,
    ),
    "corpus_inverted_index": (corpus_inverted_index, _INVERTED_INDEX_SQL),
    "event_value_trimmed_stats": (
        event_value_trimmed_stats,
        _TRIMMED_STATS_SQL,
    ),
    "customer_spend_deciles": (customer_spend_deciles, _SPEND_DECILES_SQL),
    "hilbert_layout_stats": (hilbert_layout_stats, _hilbert_sql()),
    "orders_benford_profile": (orders_benford_profile, _BENFORD_SQL),
    "langid_confusion_matrix": (
        langid_confusion_matrix,
        _LANGID_CONFUSION_SQL,
    ),
    "matryoshka_recall_audit": (matryoshka_recall_audit, _MATRYOSHKA_SQL),
    "part_kcore_members": (part_kcore_members, _KCORE_SQL),
    "segment_spend_gini": (segment_spend_gini, _SPEND_GINI_SQL),
    "activity_overlap_kmv": (activity_overlap_kmv, _ACTIVITY_KMV_SQL),
    "order_lineitem_ivm": (order_lineitem_ivm, _ORDER_IVM_SQL),
    "part_bfs_hops": (part_bfs_hops, _BFS_SQL),
    "event_seasonal_anomaly": (
        event_seasonal_anomaly,
        _SEASONAL_ANOMALY_SQL,
    ),
    "rake_keyword_phrases": (rake_keyword_phrases, _RAKE_SQL),
    "page_rank_pages": (page_rank_pages, _PAGERANK_SQL),
    "doc_near_dedup_keep_best": (doc_near_dedup_keep_best, _KEEP_BEST_SQL),
    "doc_bigram_lm_quality": (doc_bigram_lm_quality, _BIGRAM_LM_SQL),
    "semantic_decontamination": (
        semantic_decontamination,
        _SEMANTIC_DECONTAM_SQL,
    ),
    "corpus_mixture_resample": (
        corpus_mixture_resample,
        _MIXTURE_RESAMPLE_SQL,
    ),
    "embedding_pq_adc_topk": (embedding_pq_adc_topk, _PQ_ADC_SQL),
    "doc_quality_sort_shards": (
        doc_quality_sort_shards,
        _QUALITY_SORT_SHARDS_SQL,
    ),
    "embedding_ivfpq_topk": (embedding_ivfpq_topk, _IVFPQ_SQL),
    "page_graph_clustering": (page_graph_clustering, _PAGE_CLUSTERING_SQL),
    "user_type_scd2": (user_type_scd2, _SCD2_SQL),
    "stratified_fixed_k_sample": (
        stratified_fixed_k_sample,
        _FIXED_K_SAMPLE_SQL,
    ),
    "data_quality_audit": (data_quality_audit, _DATA_QUALITY_SQL),
    "events_table_profile": (events_table_profile, _TABLE_PROFILE_SQL),
    "tem_gap_fill_hourly": (tem_gap_fill_hourly, _GAP_FILL_SQL),
    "event_value_outliers_mad": (event_value_outliers_mad, _MAD_OUTLIERS_SQL),
    "stream_static_segment_spend": (
        stream_static_segment_spend_q,
        _STREAM_STATIC_SQL,
    ),
    "zorder_layout_stats": (zorder_layout_stats, _zorder_sql()),
    "dsir_importance_select": (dsir_importance_select, _DSIR_SQL),
    "embedding_pq_rerank_topk": (embedding_pq_rerank_topk, _PQ_RERANK_SQL),
    "doc_dup_span_removal": (doc_dup_span_removal, _DUP_SPAN_REMOVAL_SQL),
    "orders_incremental_agg": (orders_incremental_agg, _INCR_AGG_SQL),
    "key_skew_report": (key_skew_report, _KEY_SKEW_SQL),
}
