"""Text-analysis column functions (north-star: LLM training-data prep).

All pure built-in column expressions — JVM-side, codegen'd, no Python in
the hot path — so they run at full scan speed over a 100 TB documents
corpus. Each has an exact DuckDB SQL twin in queries.py.

Conventions shared by every function (and their SQL twins):
- ``norm_text`` = lower(trim(collapse whitespace)) — the canonical form
  for fingerprinting and shingling.
- tokens = norm_text split on single spaces (normalization guarantees
  single-spaced).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Stopword regexes per language for the n-gram/stopword language-ID
#: heuristic. Applied to lowercased text with word boundaries.
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}

#: English stopwords for the quality score's stopword-ratio feature.
QUALITY_STOPWORDS = r"\b(the|a|of|and|to|in|is|for|on|with)\b"

PUNCT_CLASS = r"[.!?,;:]"


def norm_text(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def tokens(col: Column | str = "text") -> Column:
    return F.split(norm_text(col), " ")


def token_count(col: Column | str = "text") -> Column:
    """Whitespace token count (the training-data 'length in tokens'
    first approximation; BPE-ish sub-word counting is in bpeish_token_count)."""
    return F.size(tokens(col)).cast("long")


def bpeish_token_count(col: Column | str = "text") -> Column:
    """BPE-ish sub-word proxy: word pieces of ≤4 chars. A word of length
    L contributes ceil(L/4) pieces — the standard cheap stand-in for a
    real tokenizer when estimating token budgets at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        tokens(c),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def fingerprint(col: Column | str = "text") -> Column:
    """Document fingerprint: md5 of the normalized text — the exact-dup
    key (hash-groupBy dedup at scale: shuffle on this, not on text)."""
    return F.md5(norm_text(col))


def stopword_count(col: Column | str = "text") -> Column:
    return F.regexp_count(norm_text(col), F.lit(QUALITY_STOPWORDS)).cast("long")


def punct_count(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PUNCT_CLASS)).cast("long")


def upper_count(col: Column | str = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("[A-Z]")).cast("long")


def lang_scores(col: Column | str = "text") -> dict[str, Column]:
    """Per-language stopword hit counts on lowercased text."""
    n = norm_text(col)
    return {
        lang: F.regexp_count(n, F.lit(pat)).cast("long")
        for lang, pat in LANG_STOPWORDS.items()
    }


def predicted_lang(col: Column | str = "text") -> Column:
    """Argmax of lang_scores with fixed tie-break order en>de>fr>es —
    deterministic, SQL-twin-able. (On synthetic fixture text this
    mostly says 'en'; the *operator contract* — deterministic scoring +
    argmax — is what the engine provides.)"""
    s = lang_scores(col)
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


def quality_features(col: Column | str = "text") -> dict[str, Column]:
    """The standard cheap quality signals for corpus filtering."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("long")
    n_tok = token_count(c)
    n_norm_chars = F.length(norm_text(c)).cast("long")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        # single-spaced ⇒ total token chars = len - (n_tok - 1)
        "avg_token_len": (n_norm_chars - (n_tok - F.lit(1))) / n_tok,
        "stopword_ratio": stopword_count(c) / n_tok,
        # n_tok is never 0 (splitting "" yields [""]), but n_chars IS 0
        # for the empty document: try_divide → NULL, matching DuckDB's
        # x/0 semantics (ANSI division would throw mid-scan); the
        # composite score stays defined because least() skips NULLs in
        # both engines.
        "punct_ratio": F.try_divide(punct_count(c), n_chars),
        "upper_ratio": F.try_divide(upper_count(c), n_chars),
    }


def quality_score(col: Column | str = "text") -> Column:
    """Composite quality in [0,~1]: rewards stopword presence and sane
    token lengths, penalizes punctuation/uppercase noise. Weighted sum
    of deterministic ratios — identical expression tree in the SQL twin."""
    f = quality_features(col)
    return (
        F.lit(0.4) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.3) * F.least(f["avg_token_len"] / 8, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(f["punct_ratio"] * 10, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(f["upper_ratio"] * 10, F.lit(1.0)))
    )


def dup_ngram_frac_arr(toks: Column | str, n: int = 2) -> Column:
    """``dup_ngram_frac`` over an ALREADY-MATERIALIZED token-array
    column (an attribute from a previous projection). Prefer this in
    per-document hot paths: codegen cannot hoist a subtree referenced
    inside a higher-order-function lambda, so the text-column form
    re-tokenizes at every gram position — O(tokens x positions) per
    document. Stage ``tokens(...)`` through its own select() first."""
    w = F.col(toks) if isinstance(toks, str) else toks
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_ngram_frac(col: Column | str = "text", n: int = 2) -> Column:
    """Duplicate word-n-gram fraction straight off the text column —
    the Gopher-rule repetition signal. Convenient single-expression
    form; in a hot path stage the tokens and use dup_ngram_frac_arr
    (this form re-evaluates the tokenize subtree per gram position)."""
    return dup_ngram_frac_arr(tokens(col), n)


#: PII patterns, restricted to the regex subset Java's engine and RE2
#: (DuckDB) interpret identically: no backreferences, no lookaround,
#: ASCII word boundaries only.
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(col: Column | str = "text") -> Column:
    """Replace emails, phone-shaped numbers, and IPv4 literals with
    typed placeholder tokens — the standard scrub step before a corpus
    ships to training. Chained ``regexp_replace`` (Spark replaces all
    occurrences by default): pure codegen'd scan work, a free rider on
    any pass that already reads the text column."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_counts(col: Column | str = "text") -> dict[str, Column]:
    """Per-kind PII match counts (the audit metric next to redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def rolling_hash_arr(toks: Column | str, window: int = 8) -> Column:
    """``rolling_hash`` over an already-materialized token-array column
    (see dup_ngram_frac_arr for why staging matters in hot paths)."""
    w = F.col(toks) if isinstance(toks, str) else toks
    shingles = F.when(
        F.size(w) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - window),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, window)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    return F.array_min(F.transform(shingles, md5_hash64))


#: Tokens per shingle of rolling_hash.
ROLLING_WINDOW = 8


def rolling_hash() -> Column:
    """Deterministic 64-bit rolling-style content hash: min over all
    ``window``-token shingle hashes (winnowing-style document sketch).
    Uses the cross-engine md5→int64 hash (see md5_hash64). Convenience
    form; hot paths should stage tokens and use rolling_hash_arr."""
    return rolling_hash_arr(tokens("text"), ROLLING_WINDOW)


def winnowing_fingerprints(
    col: Column | str = "text", k: int = 8, w: int = 4
) -> Column:
    """TRUE winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm):
    hash every k-token shingle, then keep the MINIMUM hash of each
    sliding window of ``w`` consecutive shingle hashes. Guarantees any
    shared token run of length >= w + k - 1 yields at least one shared
    fingerprint, at expected density 2/(w+1) — the selective sketch
    SET that enables local span matching, where rolling_hash keeps one
    global min per document. Documents shorter than k tokens collapse
    to one whole-text fingerprint. Returns the distinct fingerprint
    array; pure array algebra, zero explode.

    NB: single-expression form — the window pass re-evaluates the full
    shingle-hash array per window position (codegen cannot hoist a
    lambda-referenced subtree), O(shingles x windows) per doc. The
    doc_winnowing_fingerprints query stages each array through its own
    projection instead (measured 17x faster); use that shape in hot
    paths."""
    toks = tokens(col)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    hashes = F.transform(grams, md5_hash64)
    wins = F.when(
        F.size(hashes) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(hashes) - w),
            lambda j: F.array_min(F.slice(hashes, j + 1, w)),
        ),
    ).otherwise(F.array(F.array_min(hashes)))
    return F.array_distinct(wins)


def md5_hash64(c: Column) -> Column:
    """Cross-engine deterministic 60-bit integer hash: first 15 hex
    digits of md5 as a bigint. DuckDB twin:
    ``CAST(('0x' || substring(md5(x),1,15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: Rows and buckets per row of the count-min sketch (the SQL twins
#: of the heavy-hitter queries use the same 4 x 1024).
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_probe_cells(tok: Column) -> Column:
    """The ``depth`` (row, bucket) count-min-sketch cells a token
    hashes into: row r's bucket is md5(r || '|' || token) folded to a
    60-bit int mod ``width`` (non-negative, so pmod == plain % in the
    DuckDB twin). Shared by the batch heavy-hitters query and the
    streaming sketch — the sketch is deterministic, mergeable across
    any partitioning OR micro-batching (bucket sums are algebraic),
    and bit-reproducible by the SQL oracle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1)),
        lambda i: F.struct(
            i.alias("r"),
            F.pmod(
                md5_hash64(F.concat_ws("|", i.cast("string"), tok)),
                F.lit(CMS_WIDTH),
            ).alias("b"),
        ),
    )
