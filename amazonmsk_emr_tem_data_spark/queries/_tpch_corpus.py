"""Round-2 TPC-H parity shapes + corpus LM-quality operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.bpe import N_MERGES
from ..operators.order_stats import running_sum
from ..operators.similarity import (
    IVF_N_CELLS,
    IVF_N_PROBE,
    KMEANS_ITERS,
    N_QUERIES,
    SAMPLE_N,
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
    _EP100,
    _cents,
    _ranked_topk,
    disc_price_cents,
)
from ._northstar import (
    _COS_SQL,
    _HASH64_SQL,
    _TOKS_SQL,
    bpe_vocab_merges,
    doc_bpe_segmentation,
    ivf_topk_q,
    multimodal_audio_q,
    multimodal_decode_q,
    multimodal_frames_q,
    multimodal_near_dup_q,
)


# ---------------------------------------------------------------------------
# round-2 additions: TPC-H parity shapes Q2/Q10/Q12/Q16/Q21 (adapted to
# the fixture's partsupp-less schema) + corpus LM-quality operators
# ---------------------------------------------------------------------------


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter. Orders carry the date filter (pushed to the
    scan; at 100 TB orderdate partitioning prunes to one quarter),
    lineitem carries the returnflag filter; nation broadcasts. One
    shuffle each for the orders⋈lineitem join and the customer rollup;
    the final top-20 is a 20-row sort. Ties broken by c_custkey so the
    LIMIT edge is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (F.sum(disc_price_cents()).cast("double") / F.lit(10000.0)).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_RETURNED_ITEM_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def priority_lines_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12 shape: per return-flag, how many lineitems belong to
    high- vs low-priority orders within one ship year (the fixture has
    no l_shipmode; returnflag plays its grouping role). The shipdate
    range is the pushed scan predicate; the join shuffles once on the
    order key; both conditional counts come out of ONE aggregate pass
    (no double scan)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_PRIORITY_LINES_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape: for each small part, the supplier(s) with the
    MINIMUM observed revenue — a correlated min-subquery decorrelated
    into a grouped aggregate + per-part window min (the rewrite
    Catalyst itself applies to Q2). The (part, supplier) rollup
    shuffles once; the window re-shuffles only the rolled-up rows (one
    per part-supplier pair, not per lineitem). Membership compares the
    integer-cent grid sums, so boundary ties agree across engines and
    ALL tied suppliers are returned (as in Q2)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    sup = load_table(spark, sf_dir, "supplier")
    ps = (
        li.join(F.broadcast(part.select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(disc_price_cents()).alias("rev_grid"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("min_grid", F.min("rev_grid").over(w))
        .filter(F.col("rev_grid") == F.col("min_grid"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            (F.col("rev_grid").cast("double") / F.lit(10000.0)).alias(
                "min_revenue"
            ),
        )
    )


_CHEAPEST_SUPPLIER_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, SUM({_DISC_PRICE_CENTS_SQL}) AS rev_grid
  FROM lineitem l
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
  GROUP BY l_partkey, l_suppkey
)
SELECT ps.l_partkey AS p_partkey, s.s_suppkey, s.s_name,
       CAST(ps.rev_grid AS DOUBLE) / 10000.0 AS min_revenue
FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE ps.rev_grid = (SELECT MIN(x.rev_grid) FROM ps x
                     WHERE x.l_partkey = ps.l_partkey)
"""


def supplier_counts_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape: distinct-supplier counts per part attribute
    combination, excluding a NOT-IN supplier set (negative account
    balance stands in for the reference's complaints filter). The
    exclusion is a broadcast anti-join (never a per-row subquery); the
    distinct count shuffles (brand, type, size, suppkey) once before
    the final rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_size") <= 20)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SUPPLIER_COUNTS_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_size <= 20
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape: suppliers solely to blame on multi-supplier
    orders — their line was returned, at least one OTHER supplier was
    on the order (EXISTS), and no other supplier's line was returned
    (NOT EXISTS). The fixture has no commit/receipt dates, so
    l_returnflag='R' plays the 'failed delivery' role. Both correlated
    quantifiers become distinct-key self-joins: semi for EXISTS, anti
    for NOT EXISTS — three shuffles on the order key over
    (orderkey, suppkey) pairs, never a per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(
        F.col("l_orderkey"), F.col("l_suppkey").alias("o_supp")
    )
    other_ret = returned.select(
        F.col("l_orderkey"), F.col("l_suppkey").alias("r_supp")
    )
    blamed = (
        returned.join(
            other,
            (returned["l_orderkey"] == other["l_orderkey"])
            & (returned["l_suppkey"] != other["o_supp"]),
            "left_semi",
        )
        .join(
            other_ret,
            (returned["l_orderkey"] == other_ret["l_orderkey"])
            & (returned["l_suppkey"] != other_ret["r_supp"]),
            "left_anti",
        )
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


_SOLE_BLAME_SQL = """
WITH ret AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
), pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), blamed AS (
  SELECT r.l_orderkey, r.l_suppkey FROM ret r
  WHERE EXISTS (SELECT 1 FROM pairs p
                WHERE p.l_orderkey = r.l_orderkey
                  AND p.l_suppkey <> r.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM ret r2
                    WHERE r2.l_orderkey = r.l_orderkey
                      AND r2.l_suppkey <> r.l_suppkey)
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM blamed b JOIN supplier s ON b.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 20
"""


def _span_pos_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, pos, h): the 64-bit hash of every 8-token
    span position (documents shorter than 8 tokens contribute their
    whole text as the single position-1 span) — the shared front end
    of doc_dup_span_frac and doc_dup_span_removal.

    Explodes INTEGER positions, not a pre-built span-string array:
    Catalyst's InferFiltersFromGenerate pushes a `size(child) > 0 AND
    isnotnull(child)` filter under any Generate, re-evaluating the
    generator child per input row — with the span-string array as the
    child that re-ran tokenize+slice+concat for every span twice
    (measured 36 s for a 2.4M-span corpus; with a cheap int sequence
    as the child, 0.6 s). Each span string is built ONCE, after the
    generate, from the carried token array. SQL twin:
    ``_SPAN_HASH_CTES``."""
    from ..functions.text import md5_hash64, tokens

    base = docs.select("doc_id", tokens("text").alias("w")).select(
        "doc_id", F.size("w").cast("long").alias("n_tokens"), "w"
    )
    pos_arr = F.when(
        F.col("n_tokens") >= 8,
        F.sequence(F.lit(1), (F.col("n_tokens") - 7).cast("int")),
    ).otherwise(F.array(F.lit(1)))
    return base.select(
        "doc_id", "n_tokens", "w", F.explode(pos_arr).alias("pos")
    ).select(
        "doc_id",
        "n_tokens",
        "pos",
        md5_hash64(
            F.concat_ws(" ", F.slice(F.col("w"), F.col("pos"), 8))
        ).alias("h"),
    )


#: DuckDB twin of _span_pos_hashes + the >=2-docs dup-hash set, shared
#: by the two span-duplication oracles. Use as ``WITH {_SPAN_HASH_CTES},
#: <query-specific CTEs> ...``.
_SPAN_HASH_CTES = f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM toks
), positions AS (
  SELECT doc_id, n_tokens, w,
         unnest(CASE WHEN n_tokens >= 8
                     THEN generate_series(1, CAST(n_tokens - 7 AS INT))
                     ELSE [1] END) AS pos
  FROM base
), hashed AS (
  SELECT doc_id, n_tokens, pos,
         {_HASH64_SQL.format(x="array_to_string(w[pos:pos+7], ' ')")} AS h
  FROM positions
), dup AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM hashed)
  GROUP BY h HAVING COUNT(*) >= 2
)"""


def doc_dup_span_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Gopher-style cross-document span duplication: for
    each document, the fraction of its 8-token shingle POSITIONS whose
    shingle also occurs in at least one OTHER document. (Documents
    shorter than 8 tokens contribute their whole text as one span.)

    Scale shape: shingles are hashed to 64-bit ints scan-side (the
    shuffle carries longs, never text); one shuffle on the hash for
    the global doc-frequency, one map-side-combinable rollup per doc.
    This is the signal behind 'remove docs that are mostly boilerplate
    spans seen elsewhere' — line-level dedup for a corpus without line
    structure."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # eager checkpoint (r13): the tokenize+hash pass feeds THREE
    # consumers (global doc-frequency, the semi-join probe, per-doc
    # span counts) — materialize the (doc_id, h) longs once; see
    # doc_dup_span_removal for the scale argument.
    ex = (
        _span_pos_hashes(docs)
        .select("doc_id", "h")
        .transform(checkpoint_stage)
    )
    # global: which span hashes occur in >= 2 distinct docs
    df_global = (
        ex.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    flagged = ex.join(df_global, "h", "left_semi")
    per_doc = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    per_doc_dup = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    return (
        per_doc.join(per_doc_dup, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup_spans"),
            (
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_span_frac"),
        )
    )


_DUP_SPAN_SQL = f"""
WITH {_SPAN_HASH_CTES}, per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, n_spans, n_dup AS n_dup_spans,
       CAST(n_dup AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_span_frac
FROM per_doc
"""


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring, unigram edition: score each
    document by the mean log-probability of its tokens under the
    corpus's own unigram distribution (low score = off-distribution /
    junk; the cheap stand-in for KenLM perplexity filtering).

    Two passes: token frequencies (one shuffle on the token), then
    score = Σ log p(tok) / n per doc. Log-probs are snapped to an
    integer micro-nat grid BEFORE summation so the per-doc sum is an
    order-independent long — identical in both engines regardless of
    reduction order (the module-header determinism rule applied to
    floating logs)."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("c").cast("double") / F.col("total").cast("double"))
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum("logp_micro").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000.0))
        ).alias("avg_logprob"),
    )


_UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
), freq AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT SUM(c) AS total FROM freq
), scored AS (
  SELECT t.doc_id,
         CAST(round(ln(CAST(f.c AS DOUBLE) / CAST(tot.total AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS logp_micro
  FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(logp_micro) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-30 tokens with counts, document
    frequency, and corpus share. One (map-side-combined) shuffle on
    the token; the top-30 is a 30-row sort. Share divides two exact
    longs, so it's identical across engines."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("total"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n_occurrences",
            "n_docs",
            (
                F.col("n_occurrences").cast("double")
                / F.col("total").cast("double")
            ).alias("corpus_share"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("tok").asc())
        .limit(30)
    )


_VOCAB_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
), tot AS (
  SELECT COUNT(*) AS total FROM toks
)
SELECT tok, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.total) AS DOUBLE) AS corpus_share
FROM toks CROSS JOIN tot
GROUP BY tok
ORDER BY n_occurrences DESC, tok ASC
LIMIT 30
"""


def token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 co-occurring token pairs by lift — the association-
    mining / collocation-extraction primitive (PMI without the log:
    lift = P(a,b)/(P(a)·P(b)) = n_ab·N / (n_a·n_b), which orders pairs
    identically to PMI and keeps the whole score inside exact integer
    products plus ONE IEEE long/long division, so no transcendental-
    function ulp risk exists cross-engine — the lesson of the BM25 idf
    rework applied preemptively).

    Scale shape: the quadratic pair explode is bounded by a
    deterministic per-document cap — each doc contributes only its 24
    RAREST distinct tokens (global df asc, token asc), so pairs/doc ≤
    C(24,2) = 276 regardless of document length, and stopword-like
    tokens (high df) self-select OUT of the pair universe. The df join
    shuffles on token; the per-doc rank window, the collect_list, and
    the pair explode all share the ONE doc_id exchange (same
    partitioning-reuse trick as capped_buckets); pair counting is a
    map-side-combined shuffle on (token_a, token_b); marginals join by
    hash (the capped marginal table is vocab-sized at crawl scale, so
    no explicit broadcast — AQE may still pick one) and the 1-row N
    broadcasts; top-100 is TakeOrderedAndProject. Overflow: n_ab·N < 2^63 up to ~3e9 docs —
    beyond that, shift to the micro-grid double path.
    """
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    tdf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tdf"))
    wrank = Window.partitionBy("doc_id").orderBy(
        F.col("tdf").asc(), F.col("token").asc()
    )
    # cache(): the capped (doc, token) set feeds THREE consumers — the
    # marginals (joined twice into the scoring) and the per-doc pair
    # explode. Same rationale as corpus_tfidf_topterms' rollup cache:
    # AQE re-plans the final multi-join stage graph, so implicit
    # shuffle-stage reuse does not reliably cover the re-entrant
    # consumers, and without the cache the token-explode + df-join +
    # rank-window lineage can execute twice.
    capped = (
        toks.join(tdf, "token")
        .withColumn("pos", F.row_number().over(wrank))
        .filter(F.col("pos") <= 24)
        .cache()
    )
    marg = capped.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        capped.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("token")).alias("ts"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ts"),
                        lambda x: F.filter(
                            F.transform(
                                F.col("ts"),
                                lambda y: F.struct(
                                    x.alias("a"), y.alias("b")
                                ),
                            ),
                            lambda p: p["a"] < p["b"],
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    lifted = (
        # marginals join by hash, NOT an explicit broadcast: the capped
        # marginal table is vocab-sized (1e8 tokens at crawl scale) —
        # AQE still broadcasts it when it measures small.
        pairs.join(
            marg.select(F.col("token").alias("token_a"), F.col("c").alias("c_a")),
            "token_a",
        )
        .join(
            marg.select(F.col("token").alias("token_b"), F.col("c").alias("c_b")),
            "token_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "n_ab",
            "c_a",
            "c_b",
            ((F.col("n_ab") * F.col("n_docs")) / (F.col("c_a") * F.col("c_b"))).alias(
                "lift"
            ),
        )
    )
    return _ranked_topk(
        lifted,
        [F.col("lift").desc(), F.col("token_a").asc(), F.col("token_b").asc()],
        "n_ab",
        100,
        "rank",
    ).select("token_a", "token_b", "n_ab", "c_a", "c_b", "lift", "rank")


#: DuckDB twin: identical 24-rarest cap, pair counting over the capped
#: sets, and the same integer-product / single-division lift.
_COOCCURRENCE_LIFT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS token FROM documents
), tdf AS (
  SELECT token, COUNT(*) AS tdf FROM toks GROUP BY token
), capped AS (
  SELECT doc_id, token FROM (
    SELECT t.doc_id, t.token,
           row_number() OVER (PARTITION BY t.doc_id
                              ORDER BY d.tdf ASC, t.token ASC) AS pos
    FROM toks t JOIN tdf d USING (token))
  WHERE pos <= 24
), marg AS (
  SELECT token, COUNT(*) AS c FROM capped GROUP BY token
), pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_ab
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
  HAVING COUNT(*) >= 10
), total AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ma.c AS BIGINT) AS c_a, CAST(mb.c AS BIGINT) AS c_b,
       (n_ab * n_docs) / (ma.c * mb.c) AS lift,
       CAST(row_number() OVER (
            ORDER BY (n_ab * n_docs) / (ma.c * mb.c) DESC,
                     token_a ASC, token_b ASC) AS BIGINT) AS rank
FROM pairs
JOIN marg ma ON token_a = ma.token
JOIN marg mb ON token_b = mb.token
CROSS JOIN total
ORDER BY rank
LIMIT 100
"""


def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: per-document match counts for email/phone/IP
    patterns plus the fingerprint of the redacted text. Map-only scan
    work (chained regexp_replace, codegen'd); the synthetic fixture
    contains no PII, which the oracle reproduces exactly (zero counts,
    fingerprint = fingerprint of the original normalized-whitespace
    text) — the point here is the regex subset chosen to evaluate
    identically under Java regex and RE2 (functions/text.PII_PATTERNS)
    and the audit-output shape."""
    from ..functions.text import pii_counts, redact_pii

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    counts = pii_counts("text")
    return docs.select(
        "doc_id",
        *[c.cast("long").alias(n) for n, c in counts.items()],
        F.md5(redact_pii("text")).alias("redacted_fp"),
    )


_PII_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexpreplace_email,
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_fp
FROM (
  SELECT doc_id, text,
         regexp_replace(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
           '<EMAIL>', 'g') AS regexpreplace_email
  FROM documents
)
"""


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization audit: per-vector scale,
    quantized-value checksum/range, and the cosine between the original
    and the dequantized vector (reconstruction quality). The 4× memory
    reduction this buys is what makes a 100 TB embedding corpus fit an
    ANN serving tier; all math is per-row HOF expressions (left-to-right
    folds), so both engines produce bit-identical doubles. Output is
    scalars only — the int8 array itself stays internal."""
    from ..operators.similarity import cosine, int8_quantize

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    parts = int8_quantize("embedding")
    q = parts["q"]
    scale = parts["scale"]
    dequant = F.transform(q, lambda x: x.cast("double") / scale)
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        cosine(F.col("embedding"), dequant).alias("recon_cos"),
    )


_INT8_QUANT_SQL = """
WITH scaled AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         127.0 / greatest(
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> abs(x))), 1e-12) AS scale
  FROM embeddings
), quant AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x * scale) AS INT)) AS q
  FROM scaled
)
SELECT vec_id, scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       list_dot_product(v, list_transform(q, x -> CAST(x AS DOUBLE) / scale))
         / (sqrt(list_dot_product(v, v))
            * sqrt(list_dot_product(list_transform(q, x -> CAST(x AS DOUBLE) / scale),
                                    list_transform(q, x -> CAST(x AS DOUBLE) / scale))))
         AS recon_cos
FROM quant
"""


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word
    8-gram overlap with a held-out eval set exceeds a threshold — the
    standard pre-training step that keeps test questions out of the
    training corpus (the n-gram-overlap rule used by GPT-3/PaLM/Llama
    data cards). The eval set here is the deterministic slice
    doc_id % 97 == 0, standing in for an external benchmark table.

    Scale shape (see operators/dedup.ngram_overlap_decontaminate): each
    side reduces to DISTINCT (doc, gram-hash) pairs — the md5→int64
    hash keeps the shuffle narrow, never gram text. The eval gram set
    is tiny relative to the corpus (benchmarks are millions of grams,
    the corpus is billions), so the overlap join broadcasts it; the
    only corpus-sized shuffle is the per-doc distinct+count, the same
    (doc_id, token) shuffle every text op here pays."""
    from ..operators.dedup import ngram_overlap_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    flagged = ngram_overlap_decontaminate(
        docs, docs.filter(F.col("doc_id") % 97 == 0)
    )
    return flagged.withColumn("is_eval", F.col("doc_id") % 97 == 0)


_DECONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 8
                THEN list_transform(generate_series(1, len(w)-7),
                                    i -> array_to_string(w[i:i+7], ' '))
                ELSE [array_to_string(w, ' ')] END)) AS gram
  FROM toks
), hashed AS (
  SELECT doc_id, {_HASH64_SQL.format(x='gram')} AS gh FROM grams
), eval_grams AS (
  SELECT DISTINCT gh FROM hashed WHERE doc_id % 97 = 0
), marked AS (
  SELECT h.doc_id, h.gh, e.gh IS NOT NULL AS hit
  FROM hashed h LEFT JOIN eval_grams e ON h.gh = e.gh
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
         AS contamination_frac,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 5 >= COUNT(*)
         AS is_contaminated,
       doc_id % 97 = 0 AS is_eval
FROM marked
GROUP BY doc_id
"""


def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every document a position in the
    concatenated token stream and the 2048-token training sequence
    ("pack") it starts in — the concat-then-chunk layout GPT-style
    pre-training uses to fill fixed-length batches without padding.

    The global prefix-sum is the interesting distributed part: a naive
    ``Window.orderBy(doc_id)`` with no partition key serializes the
    whole corpus through one task. Instead it is
    operators/order_stats.running_sum over fixed-width shards (doc_id
    // 1000 — deterministic, no sampling-dependent range partitioning,
    so the output is stable across runs and engines): one
    map-side-combinable agg produces |corpus|/1000 shard rows and every
    data task windows ≤1000 rows. At 100 TB add a third level (shards
    of shards) — same recurrence, log depth."""
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    sharded = docs.withColumn("shard", F.floor(F.col("doc_id") / 1000))
    seq = F.lit(2048)
    pos = running_sum(
        sharded,
        by=[],
        bucket=["shard"],
        order=["doc_id"],
        name="end_token",
        weight="n_tokens",
    ).withColumn("start_token", F.col("end_token") - F.col("n_tokens"))
    return pos.select(
        "doc_id",
        "n_tokens",
        "start_token",
        F.floor(F.col("start_token") / seq).alias("pack_id"),
        (
            F.floor((F.col("start_token") + F.col("n_tokens") - 1) / seq)
            > F.floor(F.col("start_token") / seq)
        ).alias("spans_boundary"),
    )


_SEQUENCE_PACKING_SQL = f"""
WITH tk AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
), sh AS (
  SELECT doc_id, n_tokens, doc_id // 1000 AS shard FROM tk
), shtot AS (
  SELECT shard, CAST(SUM(n_tokens) AS BIGINT) AS total FROM sh GROUP BY 1
), shoff AS (
  SELECT shard,
         CAST(COALESCE(SUM(total) OVER (ORDER BY shard
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM shtot
), pos AS (
  SELECT s.doc_id, s.n_tokens,
         CAST(o.off + SUM(s.n_tokens) OVER (PARTITION BY s.shard
                  ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING) - s.n_tokens
              AS BIGINT) AS start_token
  FROM sh s JOIN shoff o USING (shard)
)
SELECT doc_id, n_tokens, start_token,
       start_token // 2048 AS pack_id,
       (start_token + n_tokens - 1) // 2048 > start_token // 2048
         AS spans_boundary
FROM pos
"""


def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` the
    property bag ONCE into the binary-encoded VARIANT type, then typed
    ``variant_get`` extractions — the columnar successor to repeated
    ``get_json_object`` string re-parsing (each get_json_object call
    re-parses the JSON text; a VARIANT parses once and serves any
    number of typed path reads). try_parse_json absorbs malformed rows
    as NULL and try_variant_get absorbs uncastable values (a string
    where a long is asked) — same dirty-data contract as the
    string-path twin ``json_props_extract``. At 100 TB the win compounds with columnar
    storage: a VARIANT column in parquet is shredded/binary, not
    re-tokenized text."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_variant_get(try_parse_json(props), '$.k', 'long')")
    return (
        ev.select(
            "event_type",
            k.alias("k"),
            F.expr(
                "try_variant_get(try_parse_json(props), '$.missing', 'long')"
            ).alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("missing").alias("n_missing_path"),
        )
    )


_PROPS_VARIANT_SQL = """
WITH safe AS (
  -- try_parse_json semantics: malformed / NULL props -> NULL variant
  -- (DuckDB json_extract_string THROWS on invalid JSON, so guard)
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN props END AS p
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(p, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       MIN(TRY_CAST(json_extract_string(p, '$.k') AS BIGINT)) AS min_k,
       MAX(TRY_CAST(json_extract_string(p, '$.k') AS BIGINT)) AS max_k,
       COUNT(TRY_CAST(json_extract_string(p, '$.missing') AS BIGINT))
         AS n_missing_path
FROM safe
GROUP BY event_type
"""


def recursive_cte_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative fixpoint in the SQL front-end (Spark 4 recursive CTE):
    walk a derived referral hierarchy over customer (parent =
    c_custkey / 10, a deterministic 10-ary forest) from the roots down,
    counting customers per depth. The recursion is the UNION ALL
    fixpoint Spark executes as repeated joins with AQE — the same
    engine mechanism dedup's connected components hand-rolls; this
    query pins the declarative SQL surface of it, hash-checked against
    DuckDB's WITH RECURSIVE."""
    ev = load_table(spark, sf_dir, "customer")
    ev.createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        WITH RECURSIVE walk(custkey, depth) AS (
          SELECT c_custkey, 0 FROM customer_v WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, w.depth + 1
          FROM customer_v c JOIN walk w
            ON c.c_custkey DIV 10 = w.custkey
          WHERE c.c_custkey >= 10
        )
        SELECT depth, COUNT(*) AS n_customers,
               MIN(custkey) AS min_key, MAX(custkey) AS max_key
        FROM walk GROUP BY depth
        """
    )


_RECURSIVE_DEPTHS_SQL = """
WITH RECURSIVE walk(custkey, depth) AS (
  SELECT c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.depth + 1
  FROM customer c JOIN walk w
    ON c.c_custkey // 10 = w.custkey
  WHERE c.c_custkey >= 10
)
SELECT depth, COUNT(*) AS n_customers,
       MIN(custkey) AS min_key, MAX(custkey) AS max_key
FROM walk GROUP BY depth
"""


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep document chunking: split each document into overlapping
    fixed-token windows (40-token chunks, 32-token stride) — the
    standard embedding-index preparation step. Pure built-in array ops:
    tokenize once, explode a chunk-index sequence, slice the token
    array per index — no Python, no UDF, 1→N row explosion entirely
    executor-side. At 100 TB the explosion factor is bounded by
    doc_len/stride (~2× here); chunk_text carries only the window, so
    the output is ~(chunk/stride)× corpus size, the expected cost of
    materializing an overlap index."""
    from ..functions.text import tokens as tok_arr

    chunk, stride = 40, 32
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tok_arr("text").alias("w")
    )
    n_chunks = F.when(F.size("w") <= chunk, F.lit(1)).otherwise(
        F.lit(1)
        + F.ceil((F.size("w") - F.lit(chunk)) / F.lit(float(stride))).cast(
            "int"
        )
    )
    return (
        docs.withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice(F.col("w"), F.col("chunk_idx") * stride + 1, chunk),
                " ",
            ).alias("chunk_text"),
            F.size(
                F.slice(F.col("w"), F.col("chunk_idx") * stride + 1, chunk)
            ).alias("n_tokens"),
        )
    )


_DOC_CHUNKING_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), idx AS (
  SELECT doc_id, w,
         unnest(generate_series(0,
           CASE WHEN len(w) <= 40 THEN 0
                ELSE CAST(ceil((len(w) - 40) / 32.0) AS INT) END))
           AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx,
       array_to_string(w[chunk_idx*32 + 1 : chunk_idx*32 + 40], ' ')
         AS chunk_text,
       len(w[chunk_idx*32 + 1 : chunk_idx*32 + 40]) AS n_tokens
FROM idx
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: how many users did view → click →
    purchase IN TIME ORDER (each stage strictly after the previous
    user's first qualifying event). Three per-user conditional
    min-aggregations chained by time predicates — every stage shuffles
    on user_id, so AQE reuses one Exchange layout across stages; no
    window over the raw event stream, no self-join explosion. At
    100 TB this is the plan you want: events hash to their user's
    partition once, and each stage is a map-side-combinable min."""
    ev = load_table(spark, sf_dir, "events")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(
            F.broadcast(t2.agg(F.count(F.lit(1)).alias("n_view_click")))
        )
        .crossJoin(
            F.broadcast(
                t3.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
            )
        )
    )


_EVENT_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t_view
  GROUP BY 1
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
  GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM t1) AS n_view,
       (SELECT COUNT(*) FROM t2) AS n_view_click,
       (SELECT COUNT(*) FROM t3) AS n_view_click_purchase
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    on each subsequent day they return — the (cohort_day, day_offset,
    n_users) retention triangle. Two aggregations: per-user first-event
    day (map-side-combinable min), joined back to events on user_id
    (same hash layout, AQE-coalesced), then distinct-user counts per
    cell. distinct is per (cohort, offset, user) — at 100 TB the
    count-distinct shuffles (cohort_day, offset, user_id) once instead
    of holding per-cell hash sets."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_RETENTION_COHORTS_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1
)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day, e.day) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM ev e JOIN first f USING (user_id)
GROUP BY 1, 2
"""


#: Coarse cells and duplicate cosine threshold of semantic_dedup_q and its
#: SQL twin.
_SEMDEDUP_CELLS = 8
_SEMDEDUP_THRESHOLD = 0.95


def semantic_dedup_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space (full-data distributed Lloyd's, model-state-only driver
    traffic), score cosine pairs WITHIN cells only, collapse near-dups
    (>= 0.95) to the min-id survivor via connected components. The
    O(n^2) all-pairs problem becomes O(sum cell^2) — the embedding
    twin of LSH bucketing. The fit is RNG-free (init = k lowest-id
    vectors, fixed iteration count), so the whole pipeline is
    SQL-expressible after all: the oracle unrolls the five Lloyd's
    iterations into a CTE chain (see _semdedup_sql)."""
    from ..operators.clustering import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, n_cells=_SEMDEDUP_CELLS, threshold=_SEMDEDUP_THRESHOLD
    )


#: Unit-normalize a DuckDB list column (the _normalized twin).
_UNIT_SQL = (
    "list_transform(CAST({v} AS DOUBLE[]), x -> x / greatest("
    "sqrt(list_dot_product(CAST({v} AS DOUBLE[]), CAST({v} AS DOUBLE[]))),"
    " 1e-12))"
)

#: Argmax-cell assignment of CTE ``n`` against centroid CTE ``{src}``:
#: highest inner product wins, lowest cell on ties — the same
#: first-max rule as with_ivf_cell's strict-> chain (and numpy argmax).
_ASSIGN_SQL = """
  SELECT vec_id, v, cid FROM (
    SELECT n.vec_id, n.v, c.cid,
           row_number() OVER (PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.cvec) DESC, c.cid ASC) AS rn
    FROM {fit_src} n, {src} c) t
  WHERE rn = 1
"""


def _kmeans_cte_chain(fit_src: str, k: int, iters: int, dim: int) -> str:
    """CTE chain c0..c{iters} unrolling deterministic Lloyd's k-means
    over ``fit_src`` (a CTE with columns vec_id, v — unit vectors).

    Both fits in this engine are RNG-free (init = the k lowest-id
    vectors, fixed iteration count), which is what makes the oracle
    expressible: a{i} = assignment against c{i-1}, u{i} = per-cell
    component sums renormalized (spherical update — identical direction
    whether you normalize the sum or the mean, so this one chain twins
    BOTH clustering.kmeans_fit and similarity.kmeans_centroids), c{i} =
    u{i} with empty cells keeping their previous centroid."""
    parts = [
        f""", c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT vec_id, v FROM {fit_src} ORDER BY vec_id LIMIT {k})
)"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        assign = _ASSIGN_SQL.format(fit_src=fit_src, src=prev)
        parts.append(
            f""", a{it} AS ({assign}), u{it} AS (
  SELECT cid, {_UNIT_SQL.format(v='sv')} AS cvec
  FROM (SELECT cid, list(s ORDER BY d) AS sv
        FROM (SELECT cid, t.i AS d,
                     CAST(sum(CAST(floor(v[t.i] * 1e9 + 0.5) AS BIGINT))
                          AS BIGINT) / 1e9 AS s
              FROM a{it}, range(1, {dim + 1}) t(i) GROUP BY cid, t.i) z
        GROUP BY cid) g
), c{it} AS (
  SELECT p.cid, coalesce(u.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN u{it} u USING (cid)
)"""
        )
    return "".join(parts)


def _semdedup_sql() -> str:
    """DuckDB twin of operators/clustering.semantic_dedup: unrolled
    k-means fit over ALL vectors (_kmeans_cte_chain), then the same
    within-cell cosine pair scoring and min-id connected-components
    closure the Spark side runs."""
    parts = [
        f"""WITH RECURSIVE n AS (
  SELECT vec_id, {_UNIT_SQL.format(v='embedding')} AS v FROM embeddings
)""",
        _kmeans_cte_chain("n", _SEMDEDUP_CELLS, KMEANS_ITERS, _EMB_DIM),
    ]
    assign = _ASSIGN_SQL.format(fit_src="n", src=f"c{KMEANS_ITERS}")
    parts.append(
        f""", af AS ({assign}), pr AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= {_SEMDEDUP_THRESHOLD}
), edges AS (
  SELECT pa AS a, pb AS b FROM pr UNION SELECT pb AS a, pa AS b FROM pr
), reach(node, r) AS (
  SELECT vec_id, vec_id FROM n
  UNION
  SELECT w.node, e.b FROM reach w JOIN edges e ON w.r = e.a
), comp AS (
  SELECT node AS vec_id, MIN(r) AS dup_group FROM reach GROUP BY node
)
SELECT f.vec_id, f.cid AS ivf_cell, c.dup_group,
       f.vec_id = c.dup_group AS keep
FROM af f JOIN comp c USING (vec_id)"""
    )
    return "".join(parts)


_SEMDEDUP_SQL = _semdedup_sql()


#: Raw and unit-normalized vectors (n) and the quantizer fit sample
#: (smp) of the IVF oracles.
_IVF_SAMPLE_CTES = f"""WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw,
         {_UNIT_SQL.format(v='embedding')} AS v
  FROM embeddings
), smp AS (
  SELECT vec_id, v FROM n ORDER BY vec_id LIMIT {SAMPLE_N}
)"""


def _ivf_topk_sql() -> str:
    """DuckDB twin of operators/similarity.ivf_topk as used by
    ivf_topk_q: quantizer fit on the first ``sample_n`` vectors by id
    (_kmeans_cte_chain over the sample CTE), full-corpus cell
    assignment, per-query probe of the ``n_probe`` nearest cells, exact
    cosine ranking within them (ties on vec_id, same as the Spark
    window). Cell assignment uses unit vectors (cosine is
    scale-invariant); the reported cos_sim uses the raw embeddings,
    exactly like the Spark side."""
    parts = [
        _IVF_SAMPLE_CTES,
        _kmeans_cte_chain("smp", IVF_N_CELLS, KMEANS_ITERS, _EMB_DIM),
    ]
    parts.append(
        f""", af AS ({_ASSIGN_SQL.format(fit_src='n', src=f'c{KMEANS_ITERS}')}), qs AS (
  SELECT vec_id AS query_id, raw AS qraw, v AS qv FROM n WHERE vec_id < {N_QUERIES}
), qc AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid ASC) AS rn
    FROM qs q, c{KMEANS_ITERS} c) t
  WHERE rn <= {IVF_N_PROBE}
), cand AS (
  SELECT q.query_id, f.vec_id,
         {_COS_SQL.format(a='r.raw', b='q.qraw')} AS cos_sim
  FROM af f
  JOIN n r ON r.vec_id = f.vec_id
  JOIN qc ON f.cid = qc.cid
  JOIN qs q ON q.query_id = qc.query_id
)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT cand.*, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM cand) t
WHERE rank <= {TOP_K}"""
    )
    return "".join(parts)


_IVF_TOPK_SQL = _ivf_topk_sql()

#: Byte value at 0-based position {i} of hex-encoded blob column {hx}
#: (DuckDB 1.0 has no get_byte/blob-substring, but hex() + nibble
#: lookup recovers exact byte values).
_BYTE_SQL = (
    "((instr('0123456789ABCDEF', substr({hx}, CAST(2*{i}+1 AS INT), 1)) - 1) * 16"
    " + (instr('0123456789ABCDEF', substr({hx}, CAST(2*{i}+2 AS INT), 1)) - 1))"
)

#: Twin of operators/multimodal.decode_images(fake=True) over the
#: documents payload (UTF-8 bytes of text): pseudo-dimensions from byte
#: length, mean intensity over the first 256 bytes.
_MULTIMODAL_DECODE_SQL = f"""
WITH h AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
)
SELECT doc_id,
       CAST(16 + (n % 64) AS INT) AS width,
       CAST(16 + ((n // 64) % 64) AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CASE WHEN n = 0 THEN 0.0 ELSE
         CAST(list_sum(list_transform(range(CAST(least(n, 256) AS INT)),
                i -> {_BYTE_SQL.format(hx='hx', i='i')})) AS DOUBLE)
         / least(n, 256) END AS mean_intensity
FROM h
"""

_MULTIMODAL_AUDIO_SQL = f"""
WITH h AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
)
SELECT doc_id,
       CAST(8000 + (n % 8) * 1000 AS INT) AS sample_rate,
       CAST(1 + (n % 2) AS INT) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // (8000 + (n % 8) * 1000) AS BIGINT)
         AS duration_ms,
       CASE WHEN n = 0 THEN 0.0 ELSE
         CAST(list_sum(list_transform(range(CAST(least(n, 256) AS INT)),
                i -> {_BYTE_SQL.format(hx='hx', i='i')})) AS DOUBLE)
         / least(n, 256) / 255.0 END AS rms
FROM h
"""

#: Twin of operators/multimodal.media_near_dup_pairs(fake=True): the
#: stub encoder is an L2-normalized 16-bin histogram of (byte % 16) —
#: and byte % 16 is exactly the LOW NIBBLE, i.e. the second hex char of
#: each byte — then all-(a<b) cosine pairs at the 0.995 threshold
#: (within-identical-group pairs score cosine(v, v) computed, matching
#: _expand_vector_pairs; zero-payload vectors yield NULL cosine and
#: drop, matching try_divide).
_MULTIMODAL_NEAR_DUP_SQL = f"""
WITH h AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
), nb AS (
  SELECT doc_id,
         unnest(list_transform(range(CAST(n AS INT)),
           i -> instr('0123456789ABCDEF',
                      substr(hx, CAST(2*i+2 AS INT), 1)) - 1)) AS k
  FROM h
), cnt AS (
  SELECT doc_id, k, COUNT(*) AS c FROM nb GROUP BY doc_id, k
), vec AS (
  SELECT h.doc_id, {_UNIT_SQL.format(v="list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY r.k)")} AS v
  FROM h CROSS JOIN range(16) r(k)
  LEFT JOIN cnt c ON c.doc_id = h.doc_id AND c.k = r.k
  GROUP BY h.doc_id
)
SELECT doc_a, doc_b, cos_sim FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {_COS_SQL.format(a='a.v', b='b.v')} AS cos_sim
  FROM vec a JOIN vec b ON a.doc_id < b.doc_id) t
WHERE cos_sim >= 0.995
"""


#: Twin of operators/multimodal.sample_frames(fake=True): byte-range
#: chunk fingerprints. The stub hashes the canonical UPPER-hex encoding
#: of each chunk, so the oracle needs only VARCHAR sha256 — hex slicing
#: (2 chars/byte) reproduces python's clamped byte slicing exactly,
#: including empty chunks (sha256 of '') for short payloads.
_MULTIMODAL_FRAMES_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
)
SELECT doc_id,
       CAST(t.i AS INT) AS frame_idx,
       CAST(t.i * s AS BIGINT) AS frame_offset_bytes,
       sha256(substr(hx, CAST(2 * t.i * s + 1 AS INT), CAST(2 * s AS INT)))
         AS frame_sha256
FROM (SELECT doc_id, hx, greatest(1, n // 4) AS s FROM h), range(4) t(i)
"""


def _bpe_chain_sql(n_merges: int = 16) -> str:
    """DuckDB twin of operators/bpe.bpe_merge_table: the merge loop
    unrolls into one CTE chain per round (pair counts → argmax with the
    exact tie-break, freq-desc then concat-string-asc → greedy
    left-to-right rewrite of every word's symbol list).

    The rewrite is the same greedy fold as _merge_pair ('aaa' + (a,a)
    → ['aa','a']), but DuckDB 1.0's list_reduce mis-evaluates
    struct-typed accumulators (scalar folds are fine), so the state
    (symbol list + just-merged flag) is packed into ONE VARCHAR:
    flag char ('0'/'1'), then the symbols joined by chr(31) — tokens
    are whitespace-split so the unit separator cannot appear inside a
    symbol. "last symbol == a" is a suffix test, the merge rewrites the
    string tail, and the flag char blocks the merged token from
    immediately re-merging, step-identical to the Spark fold.
    A round whose best pair has freq < 2 yields an empty top CTE; the
    LEFT JOIN then passes symbols through unchanged and every later
    round stays empty — the driver loop's early stop, declaratively.
    wf CTEs are MATERIALIZED: each is referenced twice (pair counts +
    rewrite), and DuckDB's default inlining would otherwise duplicate
    the chain 2^rounds-fold."""
    merge_fold = """string_split(substr(list_reduce(w.symbols,
             (st, e) -> CASE WHEN strpos(st, chr(31)) = 0 THEN
                 CASE WHEN st = t.a AND e = t.b
                      THEN '1' || chr(31) || t.a || t.b
                      ELSE '0' || chr(31) || st || chr(31) || e END
               ELSE CASE WHEN substr(st, 1, 1) = '0'
                          AND right(st, 1 + length(t.a)) = chr(31) || t.a
                          AND e = t.b
                      THEN '1' || substr(st, 2, length(st) - 1 - length(t.a))
                           || t.a || t.b
                      ELSE '0' || substr(st, 2) || chr(31) || e END END
           ), 3), chr(31))"""
    parts = [
        f"""WITH wf0 AS MATERIALIZED (
  SELECT word, count(*) AS freq,
         CASE WHEN length(word) = 0 THEN ['', '</w>']
              ELSE list_append(
                     list_transform(range(length(word)),
                                    i -> word[CAST(i + 1 AS INT)]),
                     '</w>') END AS symbols
  FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"wf{r - 1}"
        parts.append(
            f""", pc{r} AS (
  SELECT p[1] AS a, p[2] AS b, sum(freq) AS n
  FROM (SELECT freq,
               unnest(list_transform(range(len(symbols) - 1),
                 i -> [symbols[CAST(i + 1 AS INT)], symbols[CAST(i + 2 AS INT)]])) AS p
        FROM {prev})
  GROUP BY 1, 2
), top{r} AS (
  SELECT a, b, n FROM pc{r} WHERE n >= 2
  ORDER BY n DESC, (a || ' ' || b) ASC LIMIT 1
), wf{r} AS MATERIALIZED (
  SELECT w.word, w.freq,
         CASE WHEN t.a IS NULL THEN w.symbols ELSE {merge_fold} END AS symbols
  FROM {prev} w LEFT JOIN top{r} t ON TRUE
)"""
        )
    return "".join(parts)


def _bpe_merges_sql() -> str:
    """Merge-table finalizer over the shared chain: one row per
    non-empty round."""
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({r - 1} AS INT) AS round, a AS \"left\", b AS \"right\","
        f" a || b AS merged, CAST(n AS BIGINT) AS pair_freq FROM top{r}"
        for r in range(1, N_MERGES + 1)
    )
    return f"{_bpe_chain_sql(N_MERGES)}\n{rows}"


def _bpe_segmentation_sql() -> str:
    """Segmentation finalizer: wf{n} already holds every corpus word's
    final symbol list after all learned merges, so the deployable
    tokenizer pass is one word join + a per-document sum."""
    return f"""{_bpe_chain_sql(N_MERGES)}
, dw AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
)
SELECT dw.doc_id, CAST(sum(len(w.symbols)) AS BIGINT) AS bpe_token_count
FROM dw JOIN wf{N_MERGES} w USING (word)
GROUP BY dw.doc_id"""


_BPE_MERGES_SQL = _bpe_merges_sql()
_BPE_SEGMENTATION_SQL = _bpe_segmentation_sql()


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: the "what if we dropped these discounts" scan —
    a pure filter + single scalar aggregate, no joins. Every predicate
    (shipdate year, discount band, quantity cap) pushes to the parquet
    scan, so at 100 TB with shipdate partitioning this reads one year's
    partitions, prunes row groups on the min/max stats of discount and
    quantity, and reduces map-side to ONE row — the cheapest possible
    physical plan, and the canonical test that pushdown works. The
    discount band compares on the integer-cent grid (5..7) so boundary
    rows agree with the oracle; the raw-column bounds are added
    redundantly because round()+cast isn't scan-pushable but plain
    range predicates are."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.049)
        & (F.col("l_discount") <= 0.071)
        & (F.col("l_quantity") < 24.01)
        & (_cents("l_discount").between(5, 7))
        & (_cents("l_quantity") < 2400)
    )
    return li.agg(
        (
            F.sum(_cents("l_extendedprice") * _cents("l_discount")).cast(
                "double"
            )
            / F.lit(10000.0)
        ).alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_FORECAST_REVENUE_SQL = f"""
SELECT CAST(SUM({_EP100} * CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS forecast_revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
  AND CAST(round(l_quantity*100) AS BIGINT) < 2400
"""


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: one nation's market share of STANDARD-part
    revenue sold to ASIA customers, per order year — a conditional-sum
    ratio over a 7-table join. Physical shape at 100 TB: part, customer,
    supplier, nation (twice) and region are all broadcast (part is the
    largest and still ~2% of lineitem after the p_type filter), so the
    ONLY shuffle is lineitem ⋈ orders on orderkey; the orderdate range
    pushes to the orders scan and prunes years before the join. The
    share divides two integer-grid sums (supplier-nation-conditional /
    total) per year, so both engines divide identical integers."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nat.alias("n1")
    n_supp = nat.alias("n2")
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(n_cust),
            cust["c_nationkey"] == F.col("n1.n_nationkey"),
        )
        .join(
            F.broadcast(reg), F.col("n1.n_regionkey") == reg["r_regionkey"]
        )
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(n_supp),
            supp["s_nationkey"] == F.col("n2.n_nationkey"),
        )
    )
    vol = disc_price_cents()
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("n2.n_name") == "NATION_3", vol).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                * F.lit(100.0)
                / F.sum(vol).cast("double")
            ).alias("market_share_pct"),
            (F.sum(vol).cast("double") / F.lit(10000.0)).alias("total_volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_NATION_MARKET_SHARE_SQL = f"""
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                     THEN {_DISC_PRICE_CENTS_SQL} ELSE 0 END) AS DOUBLE)
         * 100.0 / CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE)
         AS market_share_pct,
       CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) / 10000.0 AS total_volume,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 shape: profit on 'widget' parts by supplier nation and
    order year. The reference schema has no partsupp, so supply cost is
    modeled as 20% of p_retailprice × quantity — preserving Q9's
    physical shape exactly: a LIKE-filtered broadcast part dim, the
    lineitem ⋈ orders shuffle (only to fetch the year), broadcast
    supplier → nation, then a two-key groupBy. Profit stays on one
    integer grid — 5 × disc_price(×10⁴) − retail(×10²) × qty(×10²),
    unit 2·10⁻⁵ dollars — until a single final division, so boundary
    rows agree with the oracle bit-for-bit. Grid bound: |sum| <
    5·10⁴ × group revenue in dollars; int64 holds to ~3.7 trillion
    grid-dollars per (nation, year) group — beyond any real SF."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    profit_grid = (
        F.lit(5).cast("long") * disc_price_cents()
        - _cents("p_retailprice") * _cents("l_quantity")
    )
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(profit_grid).cast("double") / F.lit(50000.0)).alias(
                "profit"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_PRODUCT_PROFIT_SQL = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(5 * {_DISC_PRICE_CENTS_SQL}
                - CAST(round(p.p_retailprice*100) AS BIGINT)
                  * CAST(round(l.l_quantity*100) AS BIGINT)) AS DOUBLE)
         / 50000.0 AS profit,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


def heavy_shipper_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape: suppliers who shipped MORE than 1.5× the mean
    per-supplier quantity of 'small' parts in 1997 — a doubly-nested
    aggregate (per-supplier totals, then the corpus mean over those
    totals) feeding a LEFT SEMI join into the supplier dim. Physical
    shape at 100 TB: the part filter broadcasts into the lineitem scan
    year-partition, the per-supplier rollup is ONE shuffle on suppkey,
    the mean over ~|suppliers| rows is a broadcastable scalar, and the
    final semi join broadcasts the qualifying suppkey set — supplier
    itself is never shuffled. The threshold compare runs in
    DECIMAL(38,0) (qty_grid × n_sup × 2 vs 3 × total_grid) because the
    cross-multiply of a corpus-wide grid sum by supplier count is
    exactly the int64-overflow shape ADVICE flagged on the Q11 twin."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    per_supp = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_grid"))
    )
    totals = per_supp.agg(
        F.sum("qty_grid").alias("total_grid"),
        F.count(F.lit(1)).alias("n_sup"),
    )
    dec = "decimal(38,0)"
    qualifying = (
        per_supp.crossJoin(F.broadcast(totals))
        .filter(
            F.col("qty_grid").cast(dec)
            * F.col("n_sup").cast(dec)
            * F.lit(2).cast(dec)
            > F.lit(3).cast(dec) * F.col("total_grid").cast(dec)
        )
        .select("l_suppkey", "qty_grid")
    )
    return (
        supp.join(
            qualifying, supp["s_suppkey"] == qualifying["l_suppkey"], "left_semi"
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
        )
    )


_HEAVY_SHIPPER_SQL = """
WITH per_supp AS (
  SELECT l.l_suppkey,
         SUM(CAST(round(l.l_quantity*100) AS BIGINT)) AS qty_grid
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small%'
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
), totals AS (
  SELECT SUM(qty_grid) AS total_grid, COUNT(*) AS n_sup FROM per_supp
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM per_supp, totals
  WHERE CAST(qty_grid AS DECIMAL(38,0)) * CAST(n_sup AS DECIMAL(38,0)) * 2
        > 3 * CAST(total_grid AS DECIMAL(38,0))
)
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "token_cooccurrence_lift": (
        token_cooccurrence_lift,
        _COOCCURRENCE_LIFT_SQL,
    ),
    "multimodal_decode": (multimodal_decode_q, _MULTIMODAL_DECODE_SQL),
    "multimodal_audio": (multimodal_audio_q, _MULTIMODAL_AUDIO_SQL),
    "cheapest_supplier_per_part": (
        cheapest_supplier_per_part,
        _CHEAPEST_SUPPLIER_SQL,
    ),
    "supplier_counts_by_part_attrs": (
        supplier_counts_by_part_attrs,
        _SUPPLIER_COUNTS_SQL,
    ),
    "sole_blame_suppliers": (sole_blame_suppliers, _SOLE_BLAME_SQL),
    "forecast_revenue_change": (
        forecast_revenue_change,
        _FORECAST_REVENUE_SQL,
    ),
    "nation_market_share": (nation_market_share, _NATION_MARKET_SHARE_SQL),
    "product_profit_by_nation_year": (
        product_profit_by_nation_year,
        _PRODUCT_PROFIT_SQL,
    ),
    "heavy_shipper_suppliers": (heavy_shipper_suppliers, _HEAVY_SHIPPER_SQL),
    "doc_unigram_logprob": (doc_unigram_logprob, _UNIGRAM_LOGPROB_SQL),
    "corpus_vocab_stats": (corpus_vocab_stats, _VOCAB_STATS_SQL),
    "doc_pii_redaction": (doc_pii_redaction, _PII_SQL),
    "embedding_int8_quantize": (embedding_int8_quantize, _INT8_QUANT_SQL),
    "doc_chunking": (doc_chunking, _DOC_CHUNKING_SQL),
    "recursive_cte_depths": (recursive_cte_depths, _RECURSIVE_DEPTHS_SQL),
    "semantic_dedup_vectors": (semantic_dedup_vectors, _SEMDEDUP_SQL),
    "event_funnel": (event_funnel, _EVENT_FUNNEL_SQL),
    "retention_cohorts": (retention_cohorts, _RETENTION_COHORTS_SQL),
    "props_variant_extract": (props_variant_extract, _PROPS_VARIANT_SQL),
    "doc_sequence_packing": (doc_sequence_packing, _SEQUENCE_PACKING_SQL),
    "doc_decontamination": (doc_decontamination, _DECONTAMINATION_SQL),
    "doc_dup_span_frac": (doc_dup_span_frac, _DUP_SPAN_SQL),
    "priority_lines_by_returnflag": (
        priority_lines_by_returnflag,
        _PRIORITY_LINES_SQL,
    ),
    "returned_item_revenue": (returned_item_revenue, _RETURNED_ITEM_SQL),
    "doc_bpe_segmentation": (doc_bpe_segmentation, _BPE_SEGMENTATION_SQL),
    "ivf_topk": (ivf_topk_q, _IVF_TOPK_SQL),
    "bpe_vocab_merges": (bpe_vocab_merges, _BPE_MERGES_SQL),
    "multimodal_frames": (multimodal_frames_q, _MULTIMODAL_FRAMES_SQL),
    "multimodal_near_dup": (multimodal_near_dup_q, _MULTIMODAL_NEAR_DUP_SQL),
}
