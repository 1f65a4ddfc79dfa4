"""North-star operators: text analysis, dedup, similarity, multimodal (M4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import CMS_DEPTH, CMS_WIDTH
from ..sources.files import (
    checkpoint_stage,
    ensure_parallelism,
    load_table,
)
from ._core import (
    QueryFn,
    _ranked_topk,
    stream_doc_quality_q,
    stream_token_heavy_hitters_q,
)


# ---------------------------------------------------------------------------
# north-star operators (M4): text analysis, dedup, similarity, multimodal
# ---------------------------------------------------------------------------

#: Shared DuckDB fragments mirroring functions/text.py conventions.
#: NB DuckDB regexp_replace needs the explicit 'g' flag (Spark replaces
#: all matches by default).
_NORM_SQL = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
_HASH64_SQL = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"


def doc_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text statistics: char/token/BPE-ish counts, stopword + punct
    hits. Pure codegen'd column expressions — full scan speed."""
    from ..functions import text as tx

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        tx.token_count("text").alias("n_tokens"),
        tx.bpeish_token_count("text").alias("bpeish_tokens"),
        tx.stopword_count("text").alias("n_stopwords"),
        tx.punct_count("text").alias("n_punct"),
    )


_DOC_TEXT_FEATURES_SQL = rf"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform({_TOKS_SQL},
            w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) AS bpeish_tokens,
       CAST(len(regexp_extract_all({_NORM_SQL},
            '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS BIGINT) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS BIGINT) AS n_punct
FROM documents
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report per language: BPE-ish sub-word count
    over whitespace-word count — the budget-planning metric that tells
    you how many training tokens a corpus slice really costs (fertility
    ≫ 1 flags languages a tokenizer splinters). One map-side-combined
    hash-agg on lang; per-row counts are codegen'd array folds; the
    ratio divides two exact long sums (one IEEE division, identical
    cross-engine)."""
    from ..functions import text as tx

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.token_count("text")).alias("ws_tokens"),
            F.sum(tx.bpeish_token_count("text")).alias("bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            (F.col("bpe_tokens") / F.col("ws_tokens")).alias("fertility"),
        )
    )


_FERTILITY_SQL = f"""
WITH t AS (
  SELECT lang, CAST(len(w) AS BIGINT) AS ws,
         CAST(list_sum(list_transform(w,
              x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS bpe
  FROM (SELECT lang, {_TOKS_SQL} AS w FROM documents)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(bpe) AS BIGINT) / CAST(SUM(ws) AS BIGINT) AS fertility
FROM t GROUP BY lang
"""


def doc_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language-ID heuristic (north-star text
    analysis). Identical expression trees on both engines ⇒ the
    composite double score compares bit-exactly."""
    from ..functions import text as tx

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        tx.predicted_lang("text").alias("pred_lang"),
        tx.quality_score("text").alias("quality"),
    )


_QUALITY_SQL_PARTS = {
    "stop_ratio": rf"(len(regexp_extract_all({_NORM_SQL}, '\b(the|a|of|and|to|in|is|for|on|with)\b')) / len({_TOKS_SQL}))",
    "avg_tok": rf"((length({_NORM_SQL}) - (len({_TOKS_SQL}) - 1)) / len({_TOKS_SQL}))",
    "punct_ratio": r"(len(regexp_extract_all(text, '[.!?,;:]')) / length(text))",
    "upper_ratio": r"(len(regexp_extract_all(text, '[A-Z]')) / length(text))",
}

_DOC_QUALITY_LANGID_SQL = rf"""
SELECT doc_id, lang,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS pred_lang,
       0.4 * least({_QUALITY_SQL_PARTS["stop_ratio"]} * 4, 1.0)
       + 0.3 * least({_QUALITY_SQL_PARTS["avg_tok"]} / 8, 1.0)
       + 0.2 * (1.0 - least({_QUALITY_SQL_PARTS["punct_ratio"]} * 10, 1.0))
       + 0.1 * (1.0 - least({_QUALITY_SQL_PARTS["upper_ratio"]} * 10, 1.0)) AS quality
FROM (
  SELECT doc_id, lang, text,
         CAST(len(regexp_extract_all({_NORM_SQL}, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS s_en,
         CAST(len(regexp_extract_all({_NORM_SQL}, '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
         CAST(len(regexp_extract_all({_NORM_SQL}, '\b(le|la|les|et|est)\b')) AS BIGINT) AS s_fr,
         CAST(len(regexp_extract_all({_NORM_SQL}, '\b(el|los|las|y|es)\b')) AS BIGINT) AS s_es
  FROM documents
)
"""


def doc_fingerprint_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup report: md5(norm_text) fingerprint → copy count +
    deterministic keeper. The 100 TB dedup shuffles this 128-bit key,
    never the text."""
    from ..operators.dedup import fingerprint_groups

    return fingerprint_groups(ensure_parallelism(load_table(spark, sf_dir, "documents")))


_DOC_FINGERPRINT_SQL = f"""
SELECT md5({_NORM_SQL}) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY 1
"""


def doc_exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-first: survivors only."""
    from ..operators.dedup import exact_dedup_first

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return exact_dedup_first(docs).select("doc_id", "fingerprint")


_DOC_EXACT_DEDUP_SQL = f"""
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, md5({_NORM_SQL}) AS fingerprint,
         ROW_NUMBER() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""

#: Distinct normalized word-3-gram shingles per document (toks, sh) —
#: the shingling of every shingle-based oracle — then the shingle-set
#: sizes (sizes) and the shared-shingle counts of each doc_a < doc_b
#: pair (common).
_SHINGLE_CTES = f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w)-2),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [array_to_string(w, ' ')] END)) AS shingle
  FROM toks
)"""
_SHINGLE_SIZE_CTES = _SHINGLE_CTES + """, sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)"""
_SHINGLE_COMMON_CTES = _SHINGLE_SIZE_CTES + """, common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _jaccard_pairs_sql(cut: str) -> str:
    """Brute-force word-3-gram Jaccard pairs (doc_a < doc_b) whose
    ``cut`` over the shared count c and the set sizes holds."""
    return f"""
WITH {_SHINGLE_COMMON_CTES}
SELECT doc_a, doc_b,
       CAST(c AS BIGINT) AS n_common,
       c / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE {cut}
"""


#: Brute-force word-3-gram Jaccard pairs ≥ 0.6 — the oracle for BOTH
#: the exact similarity join AND the MinHash-LSH path (which must reach
#: full recall at this threshold: planted dups sit at j ≥ 0.97 and the
#: K=16 single-row-band miss probability there is (1-j)^16 ≈ 1e-24).
_JACCARD_PAIRS_SQL = _jaccard_pairs_sql("c / (sa.n + sb.n - c) >= 0.6")


def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity self-join."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.6)
    return out.withColumn("n_common", F.col("n_common").cast("long"))


def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified. Same oracle as the
    brute-force join: on this corpus the LSH candidates must contain
    every true pair (recall 1.0) — the correctness gate doubles as a
    recall test of the scale path."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, threshold=0.6, num_hashes=16)
    return out.withColumn("n_common", F.col("n_common").cast("long"))


def cross_corpus_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup filter (r7): the odd-doc_id half of the
    corpus plays the arriving batch, the even half the existing
    training set; each "new" doc reports its best corpus match at
    shingle-Jaccard >= 0.6 (max jaccard, ties to the smallest corpus
    id). The brute-force A-vs-B oracle doubles as the recall-1.0 proof
    of the banded cross join — same contract as minhash_lsh_pairs'
    self-join oracle."""
    from ..operators.dedup import cross_corpus_near_dup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = cross_corpus_near_dup(new, corpus, threshold=0.6)
    return out.withColumn("n_common", F.col("n_common").cast("long"))


_CROSS_CORPUS_SQL = f"""
WITH {_SHINGLE_SIZE_CTES}, common AS (
  SELECT n.doc_id AS doc_id, c.doc_id AS corpus_doc_id, COUNT(*) AS cnt
  FROM sh n JOIN sh c ON n.shingle = c.shingle
  WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
  GROUP BY 1, 2
), scored AS (
  SELECT common.doc_id AS doc_id, common.corpus_doc_id AS corpus_doc_id,
         CAST(cnt AS BIGINT) AS n_common,
         cnt / (sa.n + sb.n - cnt) AS jaccard
  FROM common
  JOIN sizes sa ON common.doc_id = sa.doc_id
  JOIN sizes sb ON common.corpus_doc_id = sb.doc_id
  WHERE cnt / (sa.n + sb.n - cnt) >= 0.6
)
SELECT doc_id, corpus_doc_id, n_common, jaccard
FROM (
  SELECT scored.*,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, corpus_doc_id ASC) AS rn
  FROM scored) t
WHERE rn = 1
"""


def prefix_filter_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (SSJoin/
    PPJoin) at Jaccard ≥ 7/10. Same exactness contract as
    ngram_jaccard_pairs but candidates are generated ONLY from each
    document's rarest (df-ordered) shingles, so a globally hot shingle
    never explodes m² candidate rows — the physical strategy for exact
    (non-LSH) near-dup at 100 TB. The brute-force oracle doubles as
    the recall-1.0 proof of the prefix bound."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = prefix_filter_jaccard_pairs(docs, threshold_num=7, threshold_den=10)
    return out.withColumn("n_common", F.col("n_common").cast("long"))


def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment join at ≥ 4/5: (doc_a, doc_b) where at
    least 80% of A's distinct word-3-gram shingles appear in B — the
    asymmetric near-dup that catches a document (license header,
    quoted doc, boilerplate block) buried inside a LONGER one, which
    symmetric Jaccard misses because the union is dominated by the
    container. Candidates come only from A's rarest (df-ordered)
    shingles — recall 1.0 with no hot-shingle blowup on the probe
    side; the brute-force oracle doubles as the recall proof."""
    from ..operators.dedup import containment_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = containment_prefix_pairs(docs, threshold_num=4, threshold_den=5)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        "containment",
    )


#: Brute-force directed containment ≥ 4/5 twin (shared-shingle join,
#: never all-pairs): same distinct word-3-gram shingles, integer
#: threshold compare, c/n_a division as the only float op.
_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_SIZE_CTES}, common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT) AS n_a,
       c / sa.n AS containment
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
WHERE 5 * c >= 4 * sa.n
"""


#: Brute-force word-3-gram Jaccard ≥ 7/10 twin — integer threshold
#: compare (10·c ≥ 7·union), so no float boundary can disagree with the
#: Spark side's identical integer filter.
_PREFIX_JACCARD_SQL = _jaccard_pairs_sql("10 * c >= 7 * (sa.n + sb.n - c)")


def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. The 60-bit sketch is built from the
    cross-engine md5 hash, so the oracle recomputes the IDENTICAL
    sketch in SQL and filters all pairs at hamming ≤ 6 brute-force —
    equality therefore also proves the pigeonhole chunk bucketing and
    the hot-chunk cap lose no pairs on this corpus."""
    from ..operators.dedup import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"))


#: DuckDB twin of simhash_sketch + all-pairs hamming filter: same
#: normalized word-3-gram shingles, same md5→int64 hash, same 60
#: majority-vote bits, brute-force pair scan (the oracle needs no LSH).
_SIMHASH_BIT_SUMS = ",\n         ".join(
    f"SUM((h >> {b}) & 1) AS b{b}" for b in range(60)
)
_SIMHASH_SK_TERMS = " + ".join(
    f"(CASE WHEN b{b}*2 >= n THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
    for b in range(60)
)
#: The per-document sketch (sk) over the shingle CTEs.
_SIMHASH_SK_CTES = _SHINGLE_CTES + f""", hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
), bits AS (
  SELECT doc_id, COUNT(*) AS n,
         {_SIMHASH_BIT_SUMS}
  FROM hashed GROUP BY doc_id
), sk AS (
  SELECT doc_id, {_SIMHASH_SK_TERMS} AS sk FROM bits
)"""
_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_SK_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sk, b.sk)) <= 6
"""


def simhash_bit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-bias monitor (round 9, pipeline observability): for
    each of the 60 sketch bits, how many documents have it set and how
    far the set-fraction deviates from the unbiased 50% — the
    hash-quality audit for the near-dup tier (a biased bit carries
    less than one bit of discrimination, inflating Hamming-ball
    collision rates; persistent bias means the underlying hash or the
    corpus shingle distribution changed).

    Plan: ONE map-side-combined aggregate produces the 60 bit-sums in
    a single row (the simhash_sketch shape), then ``stack`` unpivots
    to 60 rows — no 60× row fan-out, no extra shuffle. All integer:
    set_ppm = 10⁶·n_set div n_docs, bias_ppm = |2·n_set − n_docs|·10⁶
    div n_docs."""
    from ..operators.dedup import simhash_sketch

    docs = load_table(spark, sf_dir, "documents")
    sk = simhash_sketch(docs)
    agg = sk.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.expr(f"(sk >> {b}) & 1")).alias(f"s{b}")
            for b in range(60)
        ],
    )
    stack_args = ", ".join(f"{b}L, s{b}" for b in range(60))
    # Empty-corpus guard: the global agg still emits one row
    # (n_docs=0, NULL sums) which stack() would fan to 60 NULL rows,
    # while the DuckDB twin's GROUP BY emits zero — agree on zero.
    return agg.where(F.col("n_docs") > 0).select(
        F.expr(f"stack(60, {stack_args})").alias("bit", "n_set"),
        "n_docs",
    ).select(
        "bit",
        "n_set",
        F.expr("1000000 * n_set div n_docs").alias("set_ppm"),
        F.expr(
            "abs(2 * n_set - n_docs) * 1000000 div n_docs"
        ).alias("bias_ppm"),
    )


_SIMHASH_BIT_BIAS_SQL = f"""
WITH {_SIMHASH_SK_CTES}, per_bit AS (
  SELECT g.b AS bit,
         CAST(SUM((sk >> g.b) & 1) AS BIGINT) AS n_set,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM sk CROSS JOIN generate_series(0, 59) AS g(b)
  GROUP BY 1
)
SELECT bit, n_set,
       CAST(1000000 * n_set // n_docs AS BIGINT) AS set_ppm,
       CAST(abs(2 * n_set - n_docs) * 1000000 // n_docs AS BIGINT)
         AS bias_ppm
FROM per_bit
"""


def embedding_dimension_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension embedding profile (round 9, pipeline
    observability): count, mean, variance, and extrema of every vector
    dimension across the corpus — the dead/degenerate-dimension
    monitor run before building ANN indexes (a near-zero-variance
    dimension wastes quantizer bits; a runaway-scale one dominates L2
    and should be normalized away).

    Exactness across engines: components quantize to the micro grid
    (e6 = round(x·10⁶), the engine's one rounding rule), sums stay
    BIGINT, the squared-sum rides DECIMAL(38)/HUGEINT (x²≈10¹² per
    row overflows long at ~10⁷ rows — the post-agg-decimal pattern),
    and mean/variance emit as floored integer micro / micro² units.
    Plan: one posexplode + ONE map-side-combined aggregate on the
    dimension index (|dims| output rows); no joins, no windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the multiply must run in DOUBLE: float32 × int stays float32 in
    # Spark and the 7-sig-digit product rounds to a different micro
    # value than DuckDB's double math
    comp = emb.select(
        F.posexplode("embedding").alias("dim_idx", "x")
    ).select(
        "dim_idx",
        F.expr(
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("e6"),
    )
    agg = comp.groupBy("dim_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("e6").alias("s"),
        F.sum(
            F.expr("CAST(e6 AS DECIMAL(38,0)) * e6")
        ).alias("ss"),
        F.min("e6").alias("min_e6"),
        F.max("e6").alias("max_e6"),
    )
    return agg.select(
        F.col("dim_idx").cast("long").alias("dim_idx"),
        "n",
        F.expr("s div n").alias("mean_e6"),
        F.expr(
            "CAST((n * ss - CAST(s AS DECIMAL(38,0)) * s)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_e12"),
        "min_e6",
        "max_e6",
    )


_EMB_DIM_PROFILE_SQL = """
WITH comp AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim_idx,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS BIGINT) AS e6
  FROM embeddings
), agg AS (
  SELECT dim_idx, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(e6) AS BIGINT) AS s,
         SUM(CAST(e6 AS HUGEINT) * e6) AS ss,
         CAST(MIN(e6) AS BIGINT) AS min_e6,
         CAST(MAX(e6) AS BIGINT) AS max_e6
  FROM comp GROUP BY 1
)
SELECT CAST(dim_idx AS BIGINT) AS dim_idx, n,
       CAST(s // n AS BIGINT) AS mean_e6,
       CAST((n * ss - CAST(s AS HUGEINT) * s)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_e12,
       min_e6, max_e6
FROM agg
"""


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style content sketch: min hash over 8-token rolling
    shingles."""
    from ..functions.text import rolling_hash_arr, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", rolling_hash_arr("toks").alias("sketch")
    )


_ROLLING_SQL = f"""
SELECT doc_id,
       list_min(list_transform(
         CASE WHEN len(w) >= 8
              THEN list_transform(generate_series(1, len(w)-7),
                                  i -> array_to_string(w[i:i+7], ' '))
              ELSE [array_to_string(w, ' ')] END,
         s -> {_HASH64_SQL.format(x='s')})) AS sketch
FROM (SELECT doc_id, {_TOKS_SQL} AS w FROM documents)
"""

def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity monitor (r7): distinct-trigram ratio
    and type-token ratio in integer ppm — the cheap corpus-health
    metric that catches template spam and boilerplate floods (diversity
    collapses) before the dedup tier pays to prove it pair by pair.

    Scale: trigrams and tokens explode once each and shuffle as
    (source, 60-bit hash) — never text; each branch is one
    map-side-combined count-distinct agg onto |sources| keys, and the
    final join is |sources| rows. Integer ppm division (div in both
    engines) keeps the ratios bit-exact."""
    from ..functions.text import md5_hash64, tokens
    from ..operators.dedup import gram_array

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    staged = docs.select("source", tokens("text").alias("toks"))
    g = (
        staged.select("source", F.explode(gram_array("toks", 3)).alias("gram"))
        .select("source", md5_hash64(F.col("gram")).alias("gh"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gh").alias("n_distinct_grams"),
        )
    )
    t = (
        staged.select("source", F.explode("toks").alias("tok"))
        .select("source", md5_hash64(F.col("tok")).alias("th"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("th").alias("n_distinct_tokens"),
        )
    )
    return g.join(t, "source").select(
        "source",
        "n_grams",
        "n_distinct_grams",
        F.expr(
            "(n_distinct_grams * CAST(1000000 AS BIGINT)) div n_grams"
        ).alias("gram_diversity_ppm"),
        "n_tokens",
        "n_distinct_tokens",
        F.expr(
            "(n_distinct_tokens * CAST(1000000 AS BIGINT)) div n_tokens"
        ).alias("ttr_ppm"),
    )


_NGRAM_DIVERSITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents
), grams AS (
  SELECT source, unnest(
           CASE WHEN len(w) >= 3
                THEN list_transform(generate_series(1, len(w)-2),
                                    i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS gram
  FROM toks
), g AS (
  SELECT source, COUNT(*) AS n_grams,
         COUNT(DISTINCT {_HASH64_SQL.format(x='gram')}) AS n_distinct_grams
  FROM grams GROUP BY source
), tok AS (
  SELECT source, unnest(w) AS tokn FROM toks
), t AS (
  SELECT source, COUNT(*) AS n_tokens,
         COUNT(DISTINCT {_HASH64_SQL.format(x='tokn')}) AS n_distinct_tokens
  FROM tok GROUP BY source
)
SELECT g.source AS source,
       n_grams, n_distinct_grams,
       (n_distinct_grams * 1000000) // n_grams AS gram_diversity_ppm,
       n_tokens, n_distinct_tokens,
       (n_distinct_tokens * 1000000) // n_tokens AS ttr_ppm
FROM g JOIN t ON g.source = t.source
"""


def _crawl_snapshots(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(old, new) crawl snapshots derived from ``docs``: the old one
    lacks doc_id % 20 == 0, the new one lacks doc_id % 19 == 0, appends
    " edited" to every doc_id % 7 == 0 and trailing whitespace to
    every other doc_id % 11 == 0."""
    new = docs.filter(F.col("doc_id") % 19 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" edited")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit("  ")),
        )
        .otherwise(F.col("text")),
    )
    return docs.filter(F.col("doc_id") % 20 != 0), new


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff (r7): per-document
    added/removed/changed/unchanged status between two crawl
    snapshots, decided by CONTENT fingerprint (not mtime) — the audit
    that runs before an incremental re-train to bound how much of the
    corpus actually moved. Snapshots are derived deterministically
    from the fixture: the old snapshot lacks doc_id % 20 == 0 (those
    become 'added'), the new lacks doc_id % 19 == 0 ('removed'), the
    new edits every doc_id % 7 == 0 ('changed'), and every
    doc_id % 11 == 0 gains trailing whitespace — a NON-change under
    fingerprint normalization, pinning that cosmetic edits read as
    'unchanged' in both engines.

    Presence is judged by explicit membership markers, NOT fingerprint
    nullability — a NULL-text document (fingerprint NULL) still
    diffs correctly (null-safe fingerprint compare), where a
    fp-IS-NULL test would misread it as absent.

    Scale: each side reduces to (doc_id, 128-bit fingerprint) before
    the join — the shuffle never carries text — and the full-outer
    join on doc_id is one co-partitioned exchange; at 100 TB this is
    the standard mergeable diff (and bucketing both snapshots on
    doc_id would remove the shuffle entirely)."""
    from ..functions.text import fingerprint

    old, new = _crawl_snapshots(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )
    old = old.select(
        "doc_id", fingerprint("text").alias("old_fp"), F.lit(True).alias("in_old")
    )
    new = new.select(
        "doc_id", fingerprint("text").alias("new_fp"), F.lit(True).alias("in_new")
    )
    return old.join(new, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )


_SNAPSHOT_DIFF_SQL = rf"""
WITH old AS (
  SELECT doc_id, md5({_NORM_SQL}) AS old_fp
  FROM documents WHERE doc_id % 20 <> 0
), new AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(
           CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
                WHEN doc_id % 11 = 0 THEN text || '  '
                ELSE text END,
           '\s+', ' ', 'g')))) AS new_fp
  FROM documents WHERE doc_id % 19 <> 0
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old_fp IS NOT DISTINCT FROM new_fp THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter (r7): the published heuristic gate
    (word-count bounds, mean-word-length bounds, minimum stopword
    evidence, duplicate-bigram ceiling) as per-rule boolean flags plus
    the combined keep decision — the audit-friendly form, where each
    rule's rejection rate is one aggregation away.

    Scale: every feature is a codegen'd column expression over the text
    column (array folds, regexp_count — zero explode, zero shuffle), so
    at 100 TB this is a map-only scan pass; the token array is staged
    through its own projection so the dup-bigram lambda reads a
    materialized array (see dup_ngram_frac_arr); mean word length
    divides two exact longs once (single IEEE op, identical
    cross-engine)."""
    from ..functions.text import QUALITY_STOPWORDS, dup_ngram_frac_arr, norm_text

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", norm_text("text").alias("nt")).select(
        "doc_id",
        F.split("nt", " ").alias("toks"),
        F.regexp_count("nt", F.lit(QUALITY_STOPWORDS)).cast("long").alias(
            "n_stopwords"
        ),
        F.length("nt").cast("long").alias("n_norm"),
    )
    n_tok = F.size("toks").cast("long")
    base = staged.select(
        "doc_id",
        n_tok.alias("n_words"),
        # normalized text is single-spaced ⇒ token chars = len - (n_tok-1)
        ((F.col("n_norm") - (n_tok - F.lit(1))) / n_tok).alias("mean_word_len"),
        "n_stopwords",
        dup_ngram_frac_arr("toks", 2).alias("dup_bigram_frac"),
    )
    flags = base.select(
        "*",
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)).alias(
            "ok_word_count"
        ),
        ((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)).alias(
            "ok_mean_word_len"
        ),
        (F.col("n_stopwords") >= 2).alias("ok_stopwords"),
        (F.col("dup_bigram_frac") <= 0.2).alias("ok_repetition"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_stopwords")
        & F.col("ok_repetition"),
    )


_GOPHER_FILTER_SQL = rf"""
WITH f AS (
  SELECT doc_id,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
         (CAST(length({_NORM_SQL}) AS BIGINT)
          - (CAST(len({_TOKS_SQL}) AS BIGINT) - 1))
           / CAST(len({_TOKS_SQL}) AS BIGINT) AS mean_word_len,
         CAST(len(regexp_extract_all({_NORM_SQL},
              '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS BIGINT)
           AS n_stopwords,
         CASE WHEN len({_TOKS_SQL}) >= 2 THEN
           1.0 - CAST(len(list_distinct(list_transform(
                     generate_series(1, len({_TOKS_SQL})-1),
                     i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1]))) AS DOUBLE)
                 / CAST(len({_TOKS_SQL}) - 1 AS DOUBLE)
         ELSE 0.0 END AS dup_bigram_frac
  FROM documents
)
SELECT doc_id, n_words, mean_word_len, n_stopwords, dup_bigram_frac,
       n_words BETWEEN 50 AND 100000 AS ok_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
       n_stopwords >= 2 AS ok_stopwords,
       dup_bigram_frac <= 0.2 AS ok_repetition,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND n_stopwords >= 2
         AND dup_bigram_frac <= 0.2 AS keep
FROM f
"""


def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus: total
    variation distance in integer ppm — the mixture-monitoring metric
    that flags a source whose unigram distribution has wandered from
    the corpus it's being blended into (new crawl snapshot, changed
    extractor) before it pollutes a training mix.

    Exact integer math both sides: per-token probabilities are
    truncated ppm (x*1e6 div total); the L1 distance over tokens the
    source HAS is summed directly, and the mass of tokens the source
    LACKS is reconstructed as (global ppm mass) - (ppm mass of present
    tokens) — no |sources| x |vocab| dense outer join.

    Scale: tokens explode once and immediately collapse to (source,
    hash) counts with map-side combine — the shuffle carries vocab-level
    cardinality, not corpus-level; everything downstream joins
    vocab-sized relations, and the two corpus scalars ride along as
    broadcast single-row aggregates (zero driver actions)."""
    from ..functions.text import md5_hash64, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    obs = docs.select("source", F.explode(tokens("text")).alias("tok")).select(
        "source", md5_hash64(F.col("tok")).alias("th")
    )
    return _tvd_ppm(obs, "source", "th", "n_tokens")


def _tvd_ppm(
    obs: DataFrame, group_col: str, item_col: str, total_name: str
) -> DataFrame:
    """(group, {total_name}, tvd_ppm): total variation distance of each
    group's item distribution vs the whole population, exact integer
    ppm (see corpus_source_drift's docstring for the math and the
    absent-item mass reconstruction). ``obs`` is one row per
    observation."""
    c = (
        obs.groupBy(group_col, item_col)
        .agg(F.count(F.lit(1)).alias("n_st"))
        # eager checkpoint (r13): the marginals feed broadcast builds
        # that race a lazy cache and re-run the observation rollup
        .transform(checkpoint_stage)
    )
    g = c.groupBy(item_col).agg(F.sum("n_st").alias("n_t"))
    total = g.agg(F.sum("n_t").alias("n_total"))
    g_ppm = g.crossJoin(F.broadcast(total)).select(
        item_col,
        F.expr("(n_t * CAST(1000000 AS BIGINT)) div n_total").alias("ppm_g"),
    )
    g_mass = g_ppm.agg(F.sum("ppm_g").alias("ppm_g_total"))
    s_tot = c.groupBy(group_col).agg(F.sum("n_st").alias(total_name))
    per_grp = (
        c.join(g_ppm, item_col)
        .join(s_tot, group_col)
        .select(
            group_col,
            F.abs(
                F.expr(f"(n_st * CAST(1000000 AS BIGINT)) div {total_name}")
                - F.col("ppm_g")
            ).alias("l1"),
            "ppm_g",
        )
        .groupBy(group_col)
        .agg(
            F.sum("l1").alias("l1_present"),
            F.sum("ppm_g").alias("ppm_g_present"),
        )
    )
    return (
        per_grp.join(s_tot, group_col)
        .crossJoin(F.broadcast(g_mass))
        .select(
            group_col,
            total_name,
            F.expr(
                "(l1_present + (ppm_g_total - ppm_g_present)) div 2"
            ).alias("tvd_ppm"),
        )
    )


def event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric distribution drift per event type: total variation
    distance of each type's value distribution vs all events, over a
    FIXED integer binning (width-10 bins — grid-stable, so two runs or
    two engines can never disagree on bin edges). The numeric twin of
    corpus_source_drift: the data-quality monitor that flags an event
    type whose value distribution shifted (schema change, unit change,
    upstream bug) before it poisons downstream aggregates. NULL values
    are excluded (no bin). Same exact-ppm machinery, same
    vocab(=bins)-level shuffles."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    obs = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") / F.lit(10.0)).cast("long").alias("bin"),
    )
    return _tvd_ppm(obs, "event_type", "bin", "n_events")


_EVENT_VALUE_DRIFT_SQL = """
WITH c AS (
  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_st
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), g AS (
  SELECT bin, SUM(n_st) AS n_t FROM c GROUP BY bin
), g_ppm AS (
  SELECT bin, (n_t * 1000000) // (SELECT SUM(n_t) FROM g) AS ppm_g FROM g
), s_tot AS (
  SELECT event_type, SUM(n_st) AS n_events FROM c GROUP BY event_type
), per_grp AS (
  SELECT c.event_type,
         SUM(abs((n_st * 1000000) // n_events - ppm_g)) AS l1_present,
         SUM(ppm_g) AS ppm_g_present
  FROM c JOIN g_ppm USING (bin) JOIN s_tot ON c.event_type = s_tot.event_type
  GROUP BY c.event_type
)
SELECT per_grp.event_type AS event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST((l1_present + ((SELECT SUM(ppm_g) FROM g_ppm) - ppm_g_present))
            // 2 AS BIGINT) AS tvd_ppm
FROM per_grp JOIN s_tot ON per_grp.event_type = s_tot.event_type
"""


_SOURCE_DRIFT_SQL = f"""
WITH c AS (
  SELECT source, {_HASH64_SQL.format(x='tok')} AS th,
         CAST(COUNT(*) AS BIGINT) AS n_st
  FROM (SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents)
  GROUP BY 1, 2
), g AS (
  SELECT th, SUM(n_st) AS n_t FROM c GROUP BY th
), g_ppm AS (
  SELECT th, (n_t * 1000000) // (SELECT SUM(n_t) FROM g) AS ppm_g FROM g
), s_tot AS (
  SELECT source, SUM(n_st) AS n_tokens FROM c GROUP BY source
), per_src AS (
  SELECT c.source,
         SUM(abs((n_st * 1000000) // n_tokens - ppm_g)) AS l1_present,
         SUM(ppm_g) AS ppm_g_present
  FROM c JOIN g_ppm USING (th) JOIN s_tot ON c.source = s_tot.source
  GROUP BY c.source
)
SELECT per_src.source AS source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((l1_present + ((SELECT SUM(ppm_g) FROM g_ppm) - ppm_g_present))
            // 2 AS BIGINT) AS tvd_ppm
FROM per_src JOIN s_tot ON per_src.source = s_tot.source
"""


def _dense_hourly_counts(ev: DataFrame) -> DataFrame:
    """(event_type, h, cnt) on a DENSE hourly grid spanning the global
    event time range, zero-filled — the regular series the rate
    monitors need (autocorrelation and trailing baselines are wrong on
    gappy series: a missing hour is a zero-count observation, not an
    absent row). Grid = distinct types × explode(sequence) off a
    single-row min/max aggregate that rides along broadcast (zero
    driver actions); per-(type, hour) counts map-side combine before
    the one grid-sized shuffle. Grid cardinality is |types| × hours —
    bounded by the calendar, not the corpus (10 years ≈ 88k rows per
    type), so every window downstream is scale-safe. The corpus-sized
    table is scanned ONCE: span and the type set both derive from the
    cached grid-sized counts relation, not from re-reads of events."""
    counts = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # eager checkpoint (r13): the span/grid consumers sit inside a
        # broadcast build that races a lazy cache and re-runs the
        # events scan + rollup; relation is grid-sized (calendar ×
        # types), so the materialization is bounded
        .transform(checkpoint_stage)
    )
    span = counts.agg(F.min("h").alias("t0"), F.max("h").alias("t1"))
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.expr("sequence(t0, t1, interval 1 hour)")).alias("h"),
        )
    )
    return grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
    )


_DENSE_HOURLY_CTES = """
ev AS (
  SELECT event_type, date_trunc('hour', ts) AS h
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), counts AS (
  SELECT event_type, h, CAST(count(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2
), span AS (
  SELECT min(h) AS t0, max(h) AS t1 FROM counts
), grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
              FROM span) g
), dense AS (
  SELECT grid.event_type, grid.h, COALESCE(counts.cnt, 0) AS cnt
  FROM grid LEFT JOIN counts
    ON grid.event_type = counts.event_type AND grid.h = counts.h
)
"""


def event_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's hourly arrival-count series
    at lags 1–3 — the seasonality/burstiness fingerprint (lag-1 ≈
    short-term clumping; a strong lag-24 would be daily rhythm) that a
    pipeline health monitor trends to catch ingestion-cadence changes.

    Exactness: Pearson r from six exact BIGINT sums (n, Σx, Σy, Σxy,
    Σx², Σy²) over the zero-filled dense series; the only float math is
    the final num/√(d1·d2) — identical IEEE op sequence both engines,
    reported as corr_ppm (round(1e6·r)). Constant series (zero
    variance) report NULL. Sums stay exact as longs through ~2e5
    events/hour-of-type over a decade; past that the n·Σxy products
    pass 2^53 and the ppm keeps only double precision (both engines
    identically).

    Scale: one grid-sized shuffle for the dense series, ONE sort per
    type computes all three lag columns (single window), stack unpivots
    map-side, and the final agg is |types|×3 rows."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = _dense_hourly_counts(ev).select(
        "event_type",
        "cnt",
        *[F.lag("cnt", L).over(w).alias(f"lag{L}") for L in (1, 2, 3)],
    )
    stacked = lagged.select(
        "event_type",
        "cnt",
        F.expr(
            "stack(3, CAST(1 AS BIGINT), lag1, CAST(2 AS BIGINT), lag2,"
            " CAST(3 AS BIGINT), lag3) AS (lag, prev)"
        ),
    ).filter(F.col("prev").isNotNull())
    agg = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("cnt").alias("sx"),
        F.sum("prev").alias("sy"),
        F.sum(F.col("cnt") * F.col("prev")).alias("sxy"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
        F.sum(F.col("prev") * F.col("prev")).alias("sy2"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n_pairs") * F.col("sx2") - F.col("sx") * F.col("sx")
    d2 = F.col("n_pairs") * F.col("sy2") - F.col("sy") * F.col("sy")
    return agg.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(
            (d1 > 0) & (d2 > 0),
            F.round(
                F.lit(1000000.0)
                * num
                / F.sqrt(d1.cast("double") * d2.cast("double"))
            ).cast("long"),
        ).alias("corr_ppm"),
    )


_AUTOCORR_SQL = f"""
WITH {_DENSE_HOURLY_CTES}, lagged AS (
  SELECT event_type, cnt,
         lag(cnt, 1) OVER w AS lag1,
         lag(cnt, 2) OVER w AS lag2,
         lag(cnt, 3) OVER w AS lag3
  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)
), stacked AS (
  SELECT event_type, CAST(1 AS BIGINT) AS lag, cnt, lag1 AS prev FROM lagged
  UNION ALL
  SELECT event_type, CAST(2 AS BIGINT), cnt, lag2 FROM lagged
  UNION ALL
  SELECT event_type, CAST(3 AS BIGINT), cnt, lag3 FROM lagged
), agg AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(cnt) AS BIGINT) AS sx,
         CAST(SUM(prev) AS BIGINT) AS sy,
         CAST(SUM(cnt * prev) AS BIGINT) AS sxy,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sx2,
         CAST(SUM(prev * prev) AS BIGINT) AS sy2
  FROM stacked WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       CASE WHEN (n_pairs * sx2 - sx * sx) > 0
             AND (n_pairs * sy2 - sy * sy) > 0 THEN
         CAST(round(
           CAST(1000000 AS DOUBLE) * (n_pairs * sxy - sx * sy)
           / sqrt(CAST(n_pairs * sx2 - sx * sx AS DOUBLE)
                  * CAST(n_pairs * sy2 - sy * sy AS DOUBLE))
         ) AS BIGINT)
       END AS corr_ppm
FROM agg
"""


def event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-rate anomaly monitor: each (event type, hour) against
    its trailing-24h baseline — hourly count, the baseline's row count
    and total, the rate ratio in truncated ppm, and an is_spike flag
    (full 24h baseline present AND count > 2.5× the baseline mean,
    compared in integers: 2·cnt·n > 5·total — calibrated to flag ~2%
    of hours on the test corpus, above its daily-rhythm swing). All
    rows are emitted so
    the output doubles as the monitor's time-series panel; flagged
    rows are the page-worthy ones.

    Exact integer math throughout (div, no float ratio); the dense
    zero-filled grid means a silent source ALSO shows up (ratio 0 —
    the dual alert). One sort per type computes count and sum on the
    same trailing frame; window partitions are calendar-bounded
    (_dense_hourly_counts' contract), so no skew at any corpus size."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    out = _dense_hourly_counts(ev).select(
        "event_type",
        "h",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("baseline_n"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias(
            "baseline_total"
        ),
    )
    return out.select(
        "event_type",
        "h",
        "cnt",
        "baseline_n",
        "baseline_total",
        F.when(
            F.col("baseline_total") > 0,
            F.expr("(cnt * baseline_n * CAST(1000000 AS BIGINT))"
                   " div baseline_total"),
        ).alias("ratio_ppm"),
        (
            (F.col("baseline_n") == 24)
            & (F.lit(2) * F.col("cnt") * F.col("baseline_n")
               > F.lit(5) * F.col("baseline_total"))
        ).alias("is_spike"),
    )


_RATE_SPIKES_SQL = f"""
WITH {_DENSE_HOURLY_CTES}, based AS (
  SELECT event_type, h, cnt,
         CAST(count(*) OVER w AS BIGINT) AS baseline_n,
         CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS baseline_total
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, h, cnt, baseline_n, baseline_total,
       CASE WHEN baseline_total > 0 THEN
         CAST((cnt * baseline_n * 1000000) // baseline_total AS BIGINT)
       END AS ratio_ppm,
       baseline_n = 24 AND 2 * cnt * baseline_n > 5 * baseline_total
         AS is_spike
FROM based
"""


def token_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head profile: the corpus's top-4096 tokens by frequency,
    collapsed into power-of-two rank buckets (bucket b = ranks
    [2^b, 2^(b+1))) with exact count/total/max/min frequencies per
    bucket — the corpus-health fingerprint (a healthy natural corpus
    halves total_freq per bucket; a flat profile means boilerplate, a
    cliff means template spam) without shipping a vocab-sized result.

    Exactness: ranks tie-break on the 60-bit token hash, and the
    bucket is length(bin(rank))-1 — integer bit-length, never
    floor(log2()) (libm-exactness at powers of two is not a contract).
    Scale: token counts map-side combine into a vocab-sized relation;
    the top-4096 head is TakeOrderedAndProject (never a vocab sort),
    and the only unpartitioned window ranks exactly those 4096 rows."""
    from ..functions.text import md5_hash64, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    freqs = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .select(md5_hash64(F.col("tok")).alias("th"))
        .groupBy("th")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freqs.orderBy(F.col("freq").desc(), F.col("th").asc()).limit(4096)
    w = Window.orderBy(F.col("freq").desc(), F.col("th").asc())
    ranked = top.select(
        "freq", F.row_number().over(w).cast("long").alias("rank")
    )
    bucket = (F.length(F.bin(F.col("rank"))) - 1).cast("long")
    return (
        ranked.groupBy(bucket.alias("rank_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ranks"),
            F.sum("freq").alias("total_freq"),
            F.max("freq").alias("max_freq"),
            F.min("freq").alias("min_freq"),
        )
    )


_ZIPF_SQL = f"""
WITH freqs AS (
  SELECT {_HASH64_SQL.format(x='tok')} AS th, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
  GROUP BY 1
), ranked AS (
  SELECT freq,
         CAST(row_number() OVER (ORDER BY freq DESC, th ASC) AS BIGINT)
           AS rank
  FROM freqs
  QUALIFY rank <= 4096
)
SELECT CAST(length(printf('%b', rank)) - 1 AS BIGINT) AS rank_bucket,
       CAST(count(*) AS BIGINT) AS n_ranks,
       CAST(SUM(freq) AS BIGINT) AS total_freq,
       MAX(freq) AS max_freq,
       MIN(freq) AS min_freq
FROM ranked
GROUP BY 1
"""


def token_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (r7): estimate the corpus's top
    tokens through a fixed 4 x 1024 CMS and report the estimate next to
    the exact count — the mergeable-sketch pattern that answers "what
    dominates this 100 TB corpus?" with kilobytes of state instead of a
    vocab-sized exact aggregation.

    Determinism: row hashes are md5(row_idx || '|' || token) folded to
    60-bit ints (non-negative, so plain % is identical cross-engine);
    the sketch is therefore bit-reproducible and the DuckDB twin
    recomputes it exactly. CMS never underestimates: est >= exact, and
    the overestimate column is the measured collision error.

    Scale: bucket sums are an algebraic aggregate over (row, bucket) —
    4096 cells with map-side combine, mergeable across any partitioning
    (the streaming/shard-parallel form is the same agg); the exact
    top-20 is one vocab-level TakeOrderedAndProject, and the estimate
    join broadcasts 20 candidates against 4096 sketch cells."""
    from ..functions.text import cms_probe_cells, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    cell = (
        toks.select(F.explode(cms_probe_cells(F.col("tok"))).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    top = _ranked_topk(
        exact.withColumn("tid", F.crc32(F.col("tok")).cast("long")),
        [F.col("exact_n").desc(), F.col("tok").asc()],
        "tid",
        20,
        "rnk",
    ).select("tok", "exact_n", "rnk")
    probes = top.select(
        "tok",
        "exact_n",
        "rnk",
        F.explode(cms_probe_cells(F.col("tok"))).alias("probe"),
    )
    return (
        cell.join(
            F.broadcast(probes),
            (F.col("r") == F.col("probe.r")) & (F.col("b") == F.col("probe.b")),
        )
        .groupBy("tok", "exact_n", "rnk")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "tok",
            "rnk",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overestimate"),
        )
    )


#: Row r's bucket of token tok, and the sketch rows (cms_probe_cells'
#: SQL).
_CMS_BUCKET_SQL = (
    _HASH64_SQL.format(x="CAST(r AS VARCHAR) || '|' || tok") + f" % {CMS_WIDTH}"
)
_CMS_ROWS_SQL = f"generate_series(0, {CMS_DEPTH - 1}) AS gs(r)"

_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS tok FROM documents
), cell AS (
  SELECT r, {_CMS_BUCKET_SQL} AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks, {_CMS_ROWS_SQL}
  GROUP BY 1, 2
), exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok
), top AS (
  SELECT tok, exact_n,
         CAST(row_number() OVER (ORDER BY exact_n DESC, tok ASC) AS BIGINT) AS rnk
  FROM exact QUALIFY rnk <= 20
), probes AS (
  SELECT tok, exact_n, rnk, r,
         {_CMS_BUCKET_SQL} AS b
  FROM top, {_CMS_ROWS_SQL}
)
SELECT tok, rnk, exact_n, MIN(cnt) AS cms_est,
       MIN(cnt) - exact_n AS overestimate
FROM probes JOIN cell USING (r, b)
GROUP BY tok, rnk, exact_n
"""


#: Batch twin of the STREAMING sketch: the drained complete-mode state
#: must equal these batch cell sums bit-for-bit (micro-batching
#: invariance of an algebraic aggregate).
_STREAM_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS tok FROM documents
)
SELECT r, {_CMS_BUCKET_SQL} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
FROM toks, {_CMS_ROWS_SQL}
GROUP BY 1, 2
"""


def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True winnowing fingerprint SETS (r7): per-window minimum shingle
    hashes at guaranteed-detection density — the MOSS-style local span
    sketch (any shared run of >= w+k-1 = 11 tokens shares a
    fingerprint), vs doc_rolling_fingerprint's single global min.

    Scale: the selection is pure per-row array algebra (no explode
    until the final fingerprint rows emit, and those are ~2/(w+1) of
    the shingle count), so the plan is scan → project → generate —
    zero shuffles; dedup of (doc, fp) happens inside the array
    (array_distinct) rather than with a distinct exchange.

    The token/shingle-hash arrays are STAGED through separate
    projections (not one nested column expression like
    functions.text.winnowing_fingerprints): codegen cannot hoist an
    array subtree referenced inside a higher-order-function lambda, so
    the single-expression form recomputes the full md5 shingle array
    at EVERY window position — O(shingles x windows) per doc, measured
    10x slower at sf0.1. Each stage's output is referenced more than
    once downstream, which keeps CollapseProject from inlining it back
    into the lambda (implementation: operators/dedup.winnowed)."""
    from ..operators.dedup import winnowed

    docs = load_table(spark, sf_dir, "documents")
    return winnowed(docs)


def winnowing_match_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style local-span match pairs (r7): docs sharing >= 2
    winnowing fingerprints — copied-SPAN detection that whole-document
    Jaccard dilutes away on long documents. Brute-force shared-
    fingerprint oracle = proof the capped buckets dropped nothing."""
    from ..operators.dedup import winnowing_match_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_match_pairs(docs, min_shared=2)


_WINNOWING_CTES = """
toks AS (
  SELECT doc_id, {toks} AS w FROM documents
), hashes AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 8
              THEN list_transform(generate_series(1, len(w)-7),
                                  i -> {h})
              ELSE [{h_whole}] END AS hs
  FROM toks
), wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_transform(generate_series(1, len(hs)-3),
                                  j -> list_min(hs[j:j+3]))
              ELSE [list_min(hs)] END AS fps
  FROM hashes
), fp_rows AS (
  SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins
)
""".format(
    toks=_TOKS_SQL,
    h=_HASH64_SQL.format(x="array_to_string(w[i:i+7], ' ')"),
    h_whole=_HASH64_SQL.format(x="array_to_string(w, ' ')"),
)


_WINNOWING_PAIRS_SQL = f"""
WITH {_WINNOWING_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fp_rows a JOIN fp_rows b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


_WINNOWING_SQL = f"""
WITH {_WINNOWING_CTES}
SELECT doc_id, fp FROM fp_rows
"""


def fuzzy_dup_verify_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs (r7): block on the first
    8 normalized tokens, verify candidates with Levenshtein over the
    first 200 normalized chars, keep pairs within distance 40 — the
    record-linkage block→verify tier of the dedup stack (exact
    distances for lightly-edited copies; opening-token edits are
    minhash_lsh_pairs' recall). Brute-force within-block oracle =
    proof the bucket cap and identity-group fan-out dropped nothing.
    See operators/dedup.fuzzy_edit_verify_pairs for the 100 TB shape."""
    from ..operators.dedup import fuzzy_edit_verify_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_edit_verify_pairs(docs, max_dist=40)


_FUZZY_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {_HASH64_SQL.format(x=f"array_to_string(({_TOKS_SQL})[1:8], ' ')")}
           AS bh,
         substring({_NORM_SQL}, 1, 200) AS pfx
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
FROM t a JOIN t b ON a.bh = b.bh AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 40
"""


_COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector.
    Spark's fold-based dot product is bit-identical to DuckDB's
    list_dot_product over DOUBLE[] (verified), so no rounding is
    needed."""
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_EMB_TOPK_SQL = f"""
SELECT a.vec_id, {_COS_SQL.format(a='a.embedding', b='q.embedding')} AS cos_sim
FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT 10
"""


#: Query vectors (vec_id < _KNN_QUERIES) and neighbors per query of
#: embedding_knn_join_q and its SQL twin.
_KNN_QUERIES = 5
_KNN_K = 5


def embedding_knn_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join: 5 query vectors (vec_id < 5, broadcast) × full
    corpus, top-5 each."""
    from ..operators.similarity import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_join(emb, queries_df, k=_KNN_K)


_EMB_KNN_SQL = f"""
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT q.vec_id AS query_id, a.vec_id AS vec_id,
         {_COS_SQL.format(a='a.embedding', b='q.embedding')} AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS_SQL.format(a='a.embedding', b='q.embedding')} DESC,
                    a.vec_id ASC) AS rank
  FROM embeddings a, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_KNN_QUERIES}) q
) WHERE rank <= {_KNN_K}
"""


#: Cosine threshold of the embedding near-dup pairs and their SQL twin.
_EMB_NEAR_DUP_COS = 0.45


def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-space near-dup pairs (cosine ≥ 0.45)."""
    from ..operators.similarity import cosine_near_dup_pairs

    return cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), _EMB_NEAR_DUP_COS
    )


_EMB_NEAR_DUP_SQL = f"""
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cos_sim >= {_EMB_NEAR_DUP_COS}
"""


def lsh_ann_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN pairs, checked against the
    exact brute-force cosine pairs: candidates are exact-verified so
    precision is 1.0 by construction, and the deterministic (seeded)
    hyperplane schedule reaches full recall on this corpus — so the
    correctness gate doubles as the recall gate of the scale path.
    T=24 tables puts the per-pair miss probability at the 0.45-cosine
    boundary around 5e-4 ((1-(1-θ/π)³)^24)."""
    from ..operators.similarity import lsh_ann_join

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_join(emb, dim=64, threshold=_EMB_NEAR_DUP_COS, n_tables=24)


def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse-quantized ANN. The quantizer fit is RNG-free
    (first-4096-by-id sample, first-k init, fixed iterations), so the
    whole probe-and-rank pipeline has an exact DuckDB twin
    (_ivf_topk_sql) — hash-checked, not rows-only."""
    from ..operators.similarity import N_QUERIES, TOP_K, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries_df, k=TOP_K)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed media metadata (mime/byte_len/sha256) —
    the opaque-media column contract."""
    from ..operators.multimodal import with_binary_payload

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    out = with_binary_payload(docs)
    return out.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.sha256").alias("sha256"),
    )


_MULTIMODAL_META_SQL = """
SELECT doc_id,
       'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha256
FROM documents
"""


def multimodal_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image-decode plumbing. The fake decoder (no codecs
    in the container) is a pure byte-level function, so it has an exact
    DuckDB twin (_MULTIMODAL_DECODE_SQL, hex-nibble byte extraction) —
    hash-checked, not rows-only."""
    from ..operators.multimodal import decode_images, with_binary_payload

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return decode_images(with_binary_payload(docs), fake=True)


def multimodal_audio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched audio-decode plumbing (round 9). Like
    multimodal_decode, the fake decoder is a pure byte-level function
    with an exact DuckDB hex twin — the REAL path (PCM WAV decode,
    envelope fingerprints) is pinned by fixture-encoder tests in
    tests/test_northstar.py, the distributed contract by this
    oracle."""
    from ..operators.multimodal import decode_audio, with_binary_payload

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return decode_audio(with_binary_payload(docs), fake=True)


def multimodal_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: 1 payload row → 4 frame rows, exploded
    executor-side. Chunks are fingerprinted via their canonical hex
    encoding, so the explosion + offsets + hashes are exact-checked
    against _MULTIMODAL_FRAMES_SQL."""
    from ..operators.multimodal import sample_frames, with_binary_payload

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return sample_frames(with_binary_payload(docs), n_frames=4)


def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first 16 learned merge
    rules over the documents corpus. The loop is deterministic
    (lexicographic tie-break, fixed rounds), so even this unrolls into
    a DuckDB oracle (_bpe_merges_sql: per-round pair-count CTEs +
    argmax + a VARCHAR-packed greedy rewrite fold); the merge order on
    a hand-computable corpus is additionally unit-tested against the
    published BPE walkthrough."""
    from ..operators.bpe import bpe_merge_table

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return bpe_merge_table(docs)


def doc_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployable tokenizer pass: learn the 16-merge BPE table from
    the corpus, then segment every document with it — per-doc subword
    counts (the 'length in real tokens' a packing/budgeting step
    consumes). Training collapses to the word-freq table once; applying
    the merges is a map-only chain of array folds, no shuffle beyond
    the final per-doc sum. Oracle: the learned chain's wf16 CTE already
    carries each word's final symbols, so segmentation is a word join
    (_bpe_segmentation_sql)."""
    from ..operators.bpe import bpe_segment, learn_bpe_merges

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs)
    return bpe_segment(docs, merges)


def multimodal_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal dedup composition: payload → Arrow-batched
    stub encoder → embedding cosine near-dup with exact-dup collapse.
    The stub (byte-nibble histogram) is SQL-expressible, so the whole
    composition is hash-checked against _MULTIMODAL_NEAR_DUP_SQL."""
    from ..operators.multimodal import media_near_dup_pairs, with_binary_payload

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return media_near_dup_pairs(with_binary_payload(docs), threshold=0.995)


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "prefix_filter_jaccard_pairs": (
        prefix_filter_jaccard_pairs_q,
        _PREFIX_JACCARD_SQL,
    ),
    "tokenizer_fertility_by_lang": (
        tokenizer_fertility_by_lang,
        _FERTILITY_SQL,
    ),
    "cross_corpus_near_dup": (cross_corpus_near_dup_q, _CROSS_CORPUS_SQL),
    "doc_winnowing_fingerprints": (
        doc_winnowing_fingerprints,
        _WINNOWING_SQL,
    ),
    "corpus_ngram_diversity": (corpus_ngram_diversity, _NGRAM_DIVERSITY_SQL),
    "gopher_quality_filter": (gopher_quality_filter, _GOPHER_FILTER_SQL),
    "corpus_source_drift": (corpus_source_drift, _SOURCE_DRIFT_SQL),
    "token_heavy_hitters_cms": (token_heavy_hitters_cms, _CMS_SQL),
    "containment_dup_pairs": (containment_dup_pairs, _CONTAINMENT_SQL),
    "stream_token_heavy_hitters": (
        stream_token_heavy_hitters_q,
        _STREAM_CMS_SQL,
    ),
    "corpus_snapshot_diff": (corpus_snapshot_diff, _SNAPSHOT_DIFF_SQL),
    "event_value_drift": (event_value_drift, _EVENT_VALUE_DRIFT_SQL),
    "winnowing_match_pairs": (winnowing_match_pairs_q, _WINNOWING_PAIRS_SQL),
    "fuzzy_dup_verify_pairs": (fuzzy_dup_verify_pairs, _FUZZY_PAIRS_SQL),
    "event_hourly_autocorr": (event_hourly_autocorr, _AUTOCORR_SQL),
    "event_rate_spikes": (event_rate_spikes, _RATE_SPIKES_SQL),
    "token_zipf_profile": (token_zipf_profile, _ZIPF_SQL),
    "stream_doc_quality": (stream_doc_quality_q, _DOC_QUALITY_LANGID_SQL),
    "doc_text_features": (doc_text_features, _DOC_TEXT_FEATURES_SQL),
    "doc_quality_langid": (doc_quality_langid, _DOC_QUALITY_LANGID_SQL),
    "doc_fingerprint_groups": (doc_fingerprint_groups_q, _DOC_FINGERPRINT_SQL),
    "doc_rolling_fingerprint": (doc_rolling_fingerprint, _ROLLING_SQL),
    "doc_exact_dedup": (doc_exact_dedup_q, _DOC_EXACT_DEDUP_SQL),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs_q, _JACCARD_PAIRS_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs_q, _JACCARD_PAIRS_SQL),
    "simhash_pairs": (simhash_pairs_q, _SIMHASH_PAIRS_SQL),
    "embedding_cosine_topk": (embedding_cosine_topk, _EMB_TOPK_SQL),
    "embedding_knn_join": (embedding_knn_join_q, _EMB_KNN_SQL),
    "embedding_near_dup_pairs": (
        embedding_near_dup_pairs_q,
        _EMB_NEAR_DUP_SQL,
    ),
    "lsh_ann_pairs": (lsh_ann_pairs_q, _EMB_NEAR_DUP_SQL),
    "multimodal_meta": (multimodal_meta, _MULTIMODAL_META_SQL),
    "simhash_bit_bias": (simhash_bit_bias, _SIMHASH_BIT_BIAS_SQL),
    "embedding_dimension_profile": (
        embedding_dimension_profile,
        _EMB_DIM_PROFILE_SQL,
    ),
}
