"""Deduplication operators (north-star: LLM training-data prep).

Five families over the ``documents`` table, each designed scale-first:

- **exact**: hash-groupBy on an md5 fingerprint of normalized text. One
  shuffle on a 128-bit key (never on the text itself). The 100 TB
  pattern: fingerprint at ingest, keep-first by deterministic tie-break.
- **n-gram Jaccard**: word-3-gram shingles → explode → equi-join on
  shingle → count-intersection / union. Exact, but O(pairs sharing a
  shingle) — the verification step of the near-dup stack.
- **MinHash + LSH**: K seeded xxhash64 min-hashes (engine-internal —
  the oracle checks the operator's OUTPUT against exact Jaccard, so
  the hash family only has to be uniform, not cross-engine
  reproducible) → per-doc signature → single-row bands → candidate
  pairs share ≥2 signature slots → exact Jaccard verification of
  candidates only. The scale path: candidate generation is linear in
  corpus size, the quadratic step touches only colliding pairs.
- **SimHash**: 64-bit sign-aggregated token-hash sketch; near-dups =
  pairs within Hamming distance d (bucketed by rotating chunks).
- **embedding cosine**: near-dup by semantic similarity over the
  ``embeddings`` table (see operators/similarity.py for the join
  strategies).

MinHash/Jaccard shingle + hash conventions are shared with
functions/text.py (norm_text, md5_hash64) and mirrored in the oracle SQL
in queries.py.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprint, md5_hash64, norm_text, tokens
from ..sources.files import checkpoint_stage, ensure_parallelism

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_first(df: DataFrame) -> DataFrame:
    """Keep the lowest-id document per exact-content fingerprint.

    Deterministic (min id), single shuffle on the fingerprint. At scale
    prefer this over ``dropDuplicates`` (arbitrary survivor) for
    reproducible corpus builds.
    """
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("fingerprint", fingerprint("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def fingerprint_groups(df: DataFrame) -> DataFrame:
    """Per-fingerprint group stats (the dedup report: how many copies
    of each distinct content)."""
    return (
        df.withColumn("fingerprint", fingerprint("text"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


# ---------------------------------------------------------------------------
# shingling (shared by jaccard + minhash)
# ---------------------------------------------------------------------------


#: Word-gram size of the shingle-based similarity operators.
SHINGLE_K = 3


def gram_array(toks: Column | str, k: int = 3) -> Column:
    """Word-k-gram array from an ALREADY-MATERIALIZED token-array
    column. Documents with fewer than k tokens contribute their whole
    token string as one gram.

    The argument must be a plain attribute (a column produced by a
    previous projection), NOT the ``tokens(...)`` expression tree:
    codegen cannot hoist a subtree referenced inside a
    higher-order-function lambda, so passing the expression recomputes
    the full normalize+split work at EVERY gram position —
    O(tokens x positions) per document (measured 17x slower on the
    winnowing sketch). Stage the tokens through their own select()
    first; the extra projection is free, and CollapseProject keeps it
    because the token array is referenced more than once here."""
    w = F.col(toks) if isinstance(toks, str) else toks
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))


def shingled(df: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Shingling is the CPU-dense map of the dedup stack — spread it
    across all cores even when the scan under-splits, and stage the
    token array through its own projection so the gram pass reads a
    materialized array instead of re-tokenizing per position."""
    staged = ensure_parallelism(df).select("doc_id", tokens("text").alias("__toks"))
    return staged.select(
        "doc_id", F.array_distinct(gram_array("__toks", k)).alias("shingles")
    )


def _rep_shingles(reps: DataFrame):
    """(sh, sizes, ex) of the representatives: their shingle sets, the
    set sizes (doc_id, n_sh) and one (doc_id, shingle) row per posting.
    ``sh`` is an eager checkpoint, not cache(): broadcast consumers race
    a lazy cache and recompute the shingle pass (see _collapse_exact,
    r13)."""
    sh = shingled(reps).transform(checkpoint_stage)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    return sh, sizes, ex


def _rarest_prefix(ex: DataFrame, threshold_num: int, threshold_den: int):
    """(prefix, ceil_tn) of the prefix-filter joins: each document's
    postings ranked under the total order (document frequency asc,
    shingle asc), cut to the n − ⌈t·n⌉ + 1 rarest, with t =
    threshold_num/threshold_den. ``ceil_tn`` is the ⌈t·n⌉ column
    (n = ``n_sh``) that the cut used."""
    sdf = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    worder = Window.partitionBy("doc_id").orderBy(
        F.col("sdf").asc(), F.col("shingle").asc()
    )
    ranked = (
        ex.join(sdf, "shingle")
        .withColumn("pos", F.row_number().over(worder))
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # ⌈t·n⌉ = ⌊(num·n + den − 1)/den⌋ exactly (num·n + den − 1 < 2^53,
    # and x/den at that magnitude floors exactly; see queries.py grid
    # rules). Prefix keeps positions 1 .. n − ⌈t·n⌉ + 1.
    ceil_tn = F.floor(
        (F.col("n_sh") * threshold_num + threshold_den - 1) / threshold_den
    )
    # (r13: an eager checkpoint here — the prefix relation feeds both
    # self-join sides, so the rank window computes twice — was tried
    # and REVERTED: materialization hides the prefix-length filter and
    # the doc-keyed window partitioning from the final physical plan,
    # which is exactly what test_prefix_filter_verification_is_
    # candidate_bounded pins as the operator's scale contract. The
    # observable contract beats the bounded-window recompute.)
    return ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_tn + 1), ceil_tn


# ---------------------------------------------------------------------------
# exact-dup collapse / expansion (shared by the pair operators)
# ---------------------------------------------------------------------------


def capped_buckets(
    melted: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """Bucket membership lists with a hard size cap.

    Counts membership per bucket FIRST, drops buckets above
    ``max_bucket_size``, and only then materializes the id lists via
    ``collect_list``. At 100 TB one degenerate key (a stopword-like
    shingle value, an all-zeros simhash chunk) would otherwise build a
    multi-GB array in a single row and then explode O(n²) pairs out of
    it; dropping over-full buckets is standard LSH practice — a bucket
    that hot carries no near-dup signal, only a degenerate feature.

    Count and collect share ONE exchange: the count is a window over
    the bucket key (rows arrive hash-partitioned by it; WindowExec
    spills rows to disk, so even the degenerate bucket never holds an
    array), and the follow-on groupBy sees the same HashPartitioning so
    Catalyst plans no second shuffle — the melted lineage (shingle/
    signature derivation, the expensive upstream) executes ONCE. The
    alternative two-agg form (count agg + semi-join + list agg)
    recomputes that lineage per pass; at sf0.1 the two measure within
    ~10% of each other (the window pays a per-partition sort, the
    two-agg pays the recompute), but at 100 TB the recompute is a
    second full scan of the corpus-derived signatures while the sort
    cost stays local and spillable — scan-once wins.
    """
    w = Window.partitionBy(*keys)
    return (
        melted.withColumn("n", F.count(F.lit(1)).over(w))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket_size))
        .groupBy(*keys)
        .agg(F.collect_list(id_col).alias("ids"))
    )


def _ordered_pairs(ids: Column) -> Column:
    """All (a, b) with a < b from an id array (bucket/group expansion)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x: F.filter(
                F.transform(
                    ids,
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
                lambda p: p["a"] < p["b"],
            ),
        )
    )


def _collapse_exact(df: DataFrame, id_col: str):
    """Exact-duplicate collapse: (groups, reps).

    ``groups`` = one row per distinct normalized content (fingerprint,
    min-id representative, member-id list); ``reps`` = the input
    restricted to representatives. A corpus that is X% exact copies —
    the common case in web-scale training data — would otherwise put
    whole identity groups into every candidate bucket of the pair
    operators and blow candidates up quadratically in copy count
    (measured: 67 s vs 4 s on a 10-copies-each corpus, SCALING.md).
    One shuffle on the 128-bit fingerprint; member lists are bounded by
    the duplication factor, not corpus size.
    """
    fp = df.select(F.col(id_col), fingerprint("text").alias("fp"))
    # Eager localCheckpoint, NOT cache() (r13, guide §5 measured): the
    # group table feeds several BROADCAST builds, and broadcast
    # exchanges run as concurrent driver-side jobs — with a lazy cache
    # they race past the unmaterialized entry and EACH recomputes the
    # fingerprint scan + single-partition collect_list aggregate
    # (profiled: the same groupBy stage twice per query at 0.4-1.1 s
    # a pop). The checkpoint materializes it exactly once, at the same
    # memory footprint the cache held.
    groups = (
        fp.groupBy("fp")
        .agg(
            F.min(id_col).alias("rep"),
            F.collect_list(id_col).alias("members"),
        )
        .transform(checkpoint_stage)
    )
    reps = df.join(
        groups.select(F.col("rep").alias(id_col)), id_col, "left_semi"
    )
    return groups, reps


def _within_pairs(
    groups: DataFrame,
    extra_cols: dict[str, Column],
    per_rep: DataFrame | None,
    directed: bool,
) -> DataFrame:
    """Identity-group pairs, annotated with ``extra_cols`` (which may
    reference ``per_rep`` columns joined on ``rep``). Undirected
    (directed=False): every (a < b). ``directed=True``: every ORDERED (a, b)
    with a != b — for asymmetric metrics like containment, where
    identical contents relate both ways."""
    g = groups.filter(F.size("members") >= 2)
    if per_rep is not None:
        g = g.join(per_rep, "rep")
    if directed:
        pairs = F.filter(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda x: F.transform(
                        F.col("members"),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            ),
            lambda p: p["a"] != p["b"],
        )
    else:
        pairs = _ordered_pairs(F.col("members"))
    return g.select(
        F.explode(pairs).alias("p"),
        *[c.alias(n) for n, c in extra_cols.items()],
    ).select(
        F.col("p.a").alias("doc_a"),
        F.col("p.b").alias("doc_b"),
        *extra_cols.keys(),
    )


def _fanout_cross(
    rep_pairs: DataFrame,
    groups: DataFrame,
    carry_cols: list[str],
    directed: bool,
) -> DataFrame:
    """Fan representative-level pairs out to all member combinations,
    carrying the representatives' metric columns verbatim (members of a
    group share content, so the metrics transfer exactly). Undirected
    (directed=False) canonicalizes each member pair to (min, max);
    ``directed=True`` preserves the rep pair's orientation (asymmetric
    metrics: doc_a's side stays doc_a's)."""
    members = groups.select("rep", F.explode("members").alias("member"))
    fanned = rep_pairs.join(
        members.select(F.col("rep").alias("doc_a"), F.col("member").alias("ma")),
        "doc_a",
    ).join(
        members.select(F.col("rep").alias("doc_b"), F.col("member").alias("mb")),
        "doc_b",
    )
    if directed:
        return fanned.select(
            F.col("ma").alias("doc_a"), F.col("mb").alias("doc_b"), *carry_cols
        )
    return fanned.select(
        F.least("ma", "mb").alias("doc_a"),
        F.greatest("ma", "mb").alias("doc_b"),
        *carry_cols,
    )


def _pairs_over_copies(
    df: DataFrame,
    rep_pairs_of,
    identity: dict[str, Column],
    directed: bool = False,
    keep: Column | None = None,
) -> DataFrame:
    """The policy every near-dup pair operator shares: collapse exact
    copies to their min-id representative (_collapse_exact), pair the
    representatives with ``rep_pairs_of(reps) -> (rep_pairs, per_doc)``,
    then add each identity group's member pairs and fan the
    representative pairs out to members (_within_pairs,
    _fanout_cross). ``identity`` names the metric columns and their
    value for identical contents; it may read ``per_doc`` columns of
    the group's representative (``per_doc`` is keyed by doc_id, or
    None). ``keep`` filters the identity pairs, for operators whose
    threshold identical contents can miss."""
    groups, reps = _collapse_exact(df, "doc_id")
    rep_pairs, per_doc = rep_pairs_of(reps)
    per_rep = None if per_doc is None else per_doc.withColumnRenamed("doc_id", "rep")
    within = _within_pairs(groups, identity, per_rep, directed)
    if keep is not None:
        within = within.filter(keep)
    return within.unionByName(
        _fanout_cross(rep_pairs, groups, list(identity), directed)
    )


def _jaccard_over_copies(df: DataFrame, rep_pairs_of) -> DataFrame:
    """_pairs_over_copies for the (n_common, jaccard) operators:
    identical contents share all ``n_sh`` shingles at jaccard 1.0."""
    return _pairs_over_copies(
        df, rep_pairs_of, {"n_common": F.col("n_sh"), "jaccard": F.lit(1.0)}
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.6) -> DataFrame:
    """All document pairs with word-k-gram Jaccard ≥ threshold. Exact.

    Plan: collapse exact dups → explode → self-equi-join on shingle
    (shuffle co-located on the shingle key) → count common → join
    per-doc sizes → filter → expand groups back. Quadratic in docs
    *sharing a shingle*; at 100 TB use minhash_lsh_pairs, which funnels
    only LSH candidates into this verification.
    """
    def rep_pairs(reps: DataFrame):
        _, sizes, ex = _rep_shingles(reps)
        a, b = ex.alias("a"), ex.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        pairs = (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "n_common", "jaccard")
        )
        return pairs, sizes

    return _jaccard_over_copies(df, rep_pairs)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering — all pairs
    with word-k-gram Jaccard ≥ threshold_num/threshold_den, same output
    contract as ``ngram_jaccard_pairs`` but the physical strategy you
    run at 100 TB when exactness (recall 1.0) is required.

    The scale difference from ``ngram_jaccard_pairs``: that operator
    equi-joins on EVERY shared shingle, so one globally hot shingle
    (a boilerplate sentence fragment across m docs) generates m²
    candidate rows. Prefix filtering (the SSJoin/PPJoin family:
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) joins only on each
    document's *prefix* — its (n − ⌈t·n⌉ + 1) globally RAREST shingles
    under a total order by (document frequency asc, shingle asc). Any
    true pair must share a prefix shingle on both sides, so recall
    stays 1.0 while hot shingles — by definition high-df, therefore
    sorted to the suffix — never generate candidates.

    All threshold math is integer (t = num/den as a rational):
    prefix length n − ⌊(num·n + den − 1)/den⌋ + 1 and the length and
    final filters compare den·x vs num·y, so no float boundary exists
    anywhere on the candidate or the result path.

    Stages, one shuffle each: exact-dup collapse (fingerprint) →
    shingle df count → per-doc rank window (doc-partitioned) → prefix
    self-equi-join on shingle → candidate-bounded verification join →
    group fan-out. The DuckDB oracle is the brute-force all-pairs
    Jaccard, so driver equality doubles as the recall-1.0 proof.
    """
    def rep_pairs(reps: DataFrame):
        _, sizes, ex = _rep_shingles(reps)
        prefix, _ = _rarest_prefix(ex, threshold_num, threshold_den)
        a = prefix.select(
            F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a")
        )
        b = prefix.select(
            F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b")
        )
        cand = (
            a.join(b, "shingle")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                # length filter: J ≥ t ⟹ den·min(n_a,n_b) ≥ num·max(n_a,n_b)
                & (
                    F.least("n_a", "n_b") * threshold_den
                    >= F.greatest("n_a", "n_b") * threshold_num
                )
            )
            .select("doc_a", "doc_b", "n_a", "n_b")
            .distinct()
        )
        ta = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
        tb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
        common = (
            cand.join(ta, "doc_a")
            .join(tb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        union_size = F.col("n_a") + F.col("n_b") - F.col("n_common")
        pairs = (
            common.filter(F.col("n_common") * threshold_den >= union_size * threshold_num)
            .withColumn("jaccard", F.col("n_common") / union_size)
            .select("doc_a", "doc_b", "n_common", "jaccard")
        )
        return pairs, sizes

    return _jaccard_over_copies(df, rep_pairs)


def containment_prefix_pairs(
    df: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """DIRECTED containment similarity join: all ordered pairs
    (doc_a, doc_b) with |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥
    threshold_num/threshold_den — "A is mostly contained in B". The
    asymmetric complement of the Jaccard joins: a short boilerplate
    block, license header, or quoted document buried inside a longer
    one scores near-zero Jaccard (the union is dominated by B) but
    containment ~1, so this is the operator that catches
    sub-document inclusion in training corpora.

    Candidate generation is the asymmetric prefix filter: if A's
    containment in ANY doc reaches t, at most n_a − ⌈t·n_a⌉ of A's
    shingles are missing, so A's (n_a − ⌈t·n_a⌉ + 1) globally RAREST
    shingles (df asc, shingle asc — the same total order as the
    Jaccard prefix join) must hit every true container. Only A's
    prefix probes the full shingle index; recall stays 1.0. Unlike the
    symmetric join there is no both-sides prefix or near-equal-length
    filter — the only extra prune is |B| ≥ ⌈t·n_a⌉ (B needs at least
    that many common shingles). All threshold math is integer.

    Scale: exact-dup collapse first (the copies² guard), then one df
    count, one per-doc rank window, the prefix→index equi-join on the
    shingle hash, and a candidate-bounded verification join. The index
    side carries every (doc, shingle) posting — the honest cost of
    exact asymmetric recall; at 100 TB cap df on the PROBE side only
    via a higher threshold, never the index side.
    """
    def rep_pairs(reps: DataFrame):
        sh, sizes, ex = _rep_shingles(reps)
        prefix, ceil_tn = _rarest_prefix(ex, threshold_num, threshold_den)
        a = prefix.select(
            F.col("doc_id").alias("doc_a"),
            "shingle",
            F.col("n_sh").alias("n_a"),
            ceil_tn.alias("min_common"),
        )
        b = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
        b_sizes = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
        cand = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b", "n_a", "min_common")
            .distinct()
            .join(b_sizes, "doc_b")
            .filter(F.col("n_b") >= F.col("min_common"))
            .select("doc_a", "doc_b", "n_a")
        )
        # Verification on the shingle ARRAYS (r13, guide §2.3 — shuffle
        # keys, not postings): the former exploded-postings verify join
        # shuffled Σ n_a rows per candidate through two exchanges and a
        # groupBy; array_intersect computes the same distinct-intersection
        # count in codegen with ONE row per candidate pair (the
        # minhash-verify shape). Arrays are distinct by construction, so
        # n_common is identical.
        # r14 (guide §2.5 byte-undercount, profiled): the verify otherwise
        # rides the candidate distinct's AQE-coalesced reduce stage (6
        # tasks, ~6 s of array_intersect CPU at sf0.1 — byte-light rows,
        # CPU-dense work). One explicit hash repartition of the SURVIVING
        # candidates (24-byte rows, post-distinct and post-size-filter, so
        # no map-side partials are displaced) pins the verify at cluster
        # width for the price of a trivially small exchange.
        cand = cand.repartition(
            sh.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
        sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
        common = (
            cand.join(sh_a, "doc_a")
            .join(sh_b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                "n_a",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            )
        )
        pairs = common.filter(
            F.col("n_common") * threshold_den >= F.col("n_a") * threshold_num
        ).select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            (F.col("n_common") / F.col("n_a")).alias("containment"),
        )
        return pairs, sizes

    # identity groups relate both ways (containment is directed and
    # identical contents contain each other), so the fan-out preserves
    # direction
    return _pairs_over_copies(
        df,
        rep_pairs,
        {
            "n_common": F.col("n_sh"),
            "n_a": F.col("n_sh"),
            "containment": F.lit(1.0),
        },
        directed=True,
    )


#: Shingle size and window length of the winnowing fingerprints.
WINNOW_K = 8
WINNOW_W = 4


def winnowed(df: DataFrame) -> DataFrame:
    """(id, fp) rows of each document's TRUE winnowing fingerprint set
    (Schleimer/Wilkerson/Aiken): min hash of each sliding window of
    ``w`` consecutive k-token shingle hashes, distinct per doc. Every
    array is staged through its own projection (see gram_array — the
    single-expression form re-evaluates the shingle-hash tree per
    window position, measured 17x slower)."""
    toks = ensure_parallelism(df).select("doc_id", tokens("text").alias("__toks"))
    grams = toks.select("doc_id", gram_array("__toks", WINNOW_K).alias("__grams"))
    hashes = grams.select(
        "doc_id", F.transform("__grams", md5_hash64).alias("__hs")
    )
    wins = hashes.select(
        "doc_id",
        F.when(
            F.size("__hs") >= WINNOW_W,
            F.transform(
                F.sequence(F.lit(0), F.size("__hs") - WINNOW_W),
                lambda j: F.array_min(F.slice("__hs", j + 1, WINNOW_W)),
            ),
        )
        .otherwise(F.array(F.array_min("__hs")))
        .alias("__wins"),
    )
    return wins.select(
        "doc_id", F.explode(F.array_distinct("__wins")).alias("fp")
    )


#: Distinct documents above which a fingerprint or prefix bucket is
#: dropped as a degenerate feature (see capped_buckets).
MAX_BUCKET_SIZE = 1000


def winnowing_match_pairs(
    df: DataFrame,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style local-span match pairs: documents sharing at least
    ``min_shared`` winnowing fingerprints — the detector built on the
    winnowing guarantee (any shared run of >= w+k-1 tokens contributes
    a shared fingerprint), so it surfaces pairs with COPIED SPANS that
    whole-document Jaccard dilutes below its threshold. ``n_shared``
    counts distinct shared fingerprints (≈ distinct copied regions).

    Scale shape = the dedup stack's: exact-dup collapse first, bucket
    by fingerprint with the hard cap (a boilerplate span shared by m
    docs otherwise explodes m² pair rows), pair fan-in via one
    (doc_a, doc_b) count agg, identity groups re-expanded at full
    overlap. The brute-force oracle equality doubles as proof the cap
    dropped nothing on the corpus under test."""
    def rep_pairs(reps: DataFrame):
        # eager: fps feeds sizes + buckets + verify (broadcast race, r13)
        fps = winnowed(reps).transform(checkpoint_stage)
        sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
        buckets = capped_buckets(fps, ["fp"], "doc_id", MAX_BUCKET_SIZE)
        pairs = (
            buckets.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
            .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        return pairs, sizes

    # identity pairs share ALL their fingerprints — but the threshold
    # still applies: a degenerate doc with a single fingerprint (short/
    # empty text) must not pair below min_shared, matching the oracle
    return _pairs_over_copies(
        df,
        rep_pairs,
        {"n_shared": F.col("n_fp").cast("long")},
        keep=F.col("n_shared") >= min_shared,
    )


def fuzzy_edit_verify_pairs(
    df: DataFrame,
    max_dist: int = 40,
    prefix_tokens: int = 8,
    verify_chars: int = 200,
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: block on the first
    ``prefix_tokens`` normalized tokens, then verify each candidate
    pair with Levenshtein distance over the first ``verify_chars``
    normalized characters — the classic record-linkage shape
    (block → bounded-cost verify) for catching lightly-edited copies
    whose mutations sit past the opening tokens. Output:
    (doc_a, doc_b, edit_dist) for every pair with edit_dist ≤
    ``max_dist``; exact-duplicate pairs carry edit_dist = 0.

    Recall contract: a pair is surfaced iff its first
    ``prefix_tokens`` normalized tokens match EXACTLY — edits inside
    the opening tokens route around this detector by design (that
    recall belongs to minhash_lsh_pairs; this operator contributes
    the cheap high-precision tier and an exact distance).

    Scale shape = the dedup stack's: exact-dup collapse first (a
    corpus that is X% exact copies must not re-verify per copy),
    one bucket shuffle on a 60-bit prefix hash with the standard
    hard cap (a boilerplate opening shared by m docs otherwise
    explodes m² verifications), Levenshtein bounded at
    ``verify_chars``² per pair (never whole-document), computed with
    Spark's thresholded form (early-exits past ``max_dist``), and
    identity groups re-expanded at distance 0. The verify prefix
    never rides the bucket shuffle — it joins back on doc id after
    pair fan-in."""
    def rep_pairs(reps: DataFrame):
        staged = (
            reps.select("doc_id", norm_text("text").alias("__norm"))
            .select(
                F.col("doc_id"),
                md5_hash64(
                    F.array_join(
                        F.slice(F.split(F.col("__norm"), " "), 1, prefix_tokens),
                        " ",
                    )
                ).alias("bh"),
                F.substring("__norm", 1, verify_chars).alias("pfx"),
            )
            # eager: feeds buckets + both pfx verify joins (broadcast
            # race with a lazy cache, r13 — see _collapse_exact)
            .transform(checkpoint_stage)
        )
        buckets = capped_buckets(
            staged.select("doc_id", "bh"), ["bh"], "doc_id", MAX_BUCKET_SIZE
        )
        pfx = staged.select("doc_id", "pfx")
        pairs = (
            buckets.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
            .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .join(
                pfx.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pa")),
                "doc_a",
            )
            .join(
                pfx.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pb")),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.levenshtein("pa", "pb", max_dist).cast("long").alias("edit_dist"),
            )
            .filter(F.col("edit_dist") >= 0)
        )
        return pairs, None

    return _pairs_over_copies(df, rep_pairs, {"edit_dist": F.lit(0).cast("long")})


#: Gram size of ngram_overlap_decontaminate, and the contaminated
#: fraction (num/den of a document's grams) at which it flags a document.
DECONTAM_K = 8
DECONTAM_FLAG_NUM = 1
DECONTAM_FLAG_DEN = 5


def ngram_overlap_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """Benchmark decontamination: per-document word-k-gram overlap with
    an eval corpus — (doc_id, n_grams, n_contaminated,
    contamination_frac, is_contaminated) where is_contaminated ⇔
    n_contaminated/n_grams ≥ flag_num/flag_den (compared in integers,
    no float boundary). The n-gram-overlap rule from the GPT-3/PaLM/
    Llama data cards.

    Scale shape: both sides reduce to DISTINCT (doc, 60-bit gram hash)
    pairs — the shuffle never carries gram text. The eval gram set
    (benchmarks: millions of grams) broadcasts into the corpus-side
    join, so the only corpus-sized shuffle is the per-doc distinct +
    count. Docs shorter than k tokens contribute their whole token
    string as one gram, so short eval questions still decontaminate.
    """
    def per_gram(df: DataFrame) -> DataFrame:
        # stage the token array so the gram lambda reads a materialized
        # attribute instead of re-tokenizing per position (gram_array)
        staged = df.select("doc_id", tokens("text").alias("__toks"))
        w = F.col("__toks")
        grams = F.when(
            F.size(w) >= DECONTAM_K,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - DECONTAM_K),
                lambda i: F.array_join(F.slice(w, i + 1, DECONTAM_K), " "),
            ),
        ).otherwise(F.array(F.array_join(w, " ")))
        return staged.select(
            "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
        ).select("doc_id", md5_hash64(F.col("gram")).alias("gh"))

    corpus_grams = per_gram(ensure_parallelism(docs))
    eval_grams = per_gram(eval_docs).select("gh").distinct()
    marked = corpus_grams.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gh", "left_outer"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated") / F.col("n_grams")).alias(
                "contamination_frac"
            ),
            (
                F.col("n_contaminated") * DECONTAM_FLAG_DEN
                >= F.col("n_grams") * DECONTAM_FLAG_NUM
            ).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: Shared MinHash-LSH tuning defaults. ``minhash_lsh_pairs`` (the
#: pairs query) and ``dedup_clusters`` (the clusters query) MUST run
#: the same candidate generation — both take these via keyword
#: defaults so a retune can never drift one without the other
#: (test_dedup_clusters_matches_pairs_params pins it).
MINHASH_NUM_HASHES = 16
MINHASH_SHINGLE_K = 3
MINHASH_MIN_COLLISIONS = 2
MINHASH_MAX_BUCKET_SIZE = 1000


def _seeded_hash(seed: int):
    # NB: a plain `lambda s, i=seed: ...` is wrong twice over — PySpark
    # passes the *array index* as a second lambda arg (shadowing the
    # seed), and 3-arity lambdas are rejected by `aggregate`. A closure
    # factory keeps the seed a true compile-time constant.
    return lambda s: F.xxhash64(F.lit(seed), F.xxhash64(s))


def minhash_signature(shingles: Column, num_hashes: int = 16) -> list[Column]:
    """K deterministic min-hashes: slot i = min over shingles of
    xxhash64(i, xxhash64(shingle)) — the variable-length string is
    hashed ONCE, and the K slot hashes mix the resulting 8-byte long
    (measured 4.3× faster than re-hashing the string per slot at
    identical uniformity). Hash values are engine-internal: correctness
    of the operator's OUTPUT is oracle-checked against exact Jaccard,
    so the hash family only has to be uniform, not
    cross-engine-reproducible."""
    return [
        F.array_min(F.transform(shingles, _seeded_hash(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def _melted_signatures(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, slot, val) MinHash band rows from a shingled relation.
    Zero higher-order functions: shingles explode once, each string
    hashes ONCE (xxhash64), the K slot hashes derive from the 8-byte
    long (4.3x cheaper than re-hashing the string per slot), and the K
    mins aggregate in one map-side-combined pass — the shuffle carries
    K longs per doc, never shingles."""
    ex = sh.select(id_col, F.explode("shingles").alias("shingle")).select(
        id_col, F.xxhash64(F.col("shingle")).alias("sh_hash")
    )
    sig = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("sh_hash"))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        id_col,
        F.posexplode(
            F.array(*[F.col(f"mh{i}") for i in range(num_hashes)])
        ).alias("slot", "val"),
    )


def _minhash_rep_pairs(
    reps: DataFrame,
    threshold: float,
    num_hashes: int = MINHASH_NUM_HASHES,
    max_bucket_size: int = MINHASH_MAX_BUCKET_SIZE,
):
    """LSH → exact-verify over the exact-copy representatives:
    (verified rep pairs, per-rep shingle counts). The shared core of
    minhash_lsh_pairs (which fans pairs back out to members) and
    dedup_clusters (which must NOT fan out — connected components over
    rep pairs plus the rep→member map give the same partition without
    ever materializing the copies²-sized member-pair relation)."""
    # Eager localCheckpoint for the same reason as _collapse_exact's
    # groups (r13): sh feeds the sh_a/sh_b verify joins, whose
    # broadcast builds race a lazy cache concurrently and each re-run
    # the tokenize+gram pass (profiled: the ~10 s-CPU shingle stage
    # TWICE per query). Checkpointing materializes the rep shingles
    # once; same footprint the cache held.
    sh = shingled(reps, k=MINHASH_SHINGLE_K).transform(checkpoint_stage)
    # LSH banding (1-row bands) over _melted_signatures: bucket on
    # (slot, value) via a single groupBy; id lists materialize only for
    # buckets whose counted membership is within [2, max_bucket_size]
    # (capped_buckets).
    # r14, BUILT+MEASURED+REJECTED (the basket-rollup repartition
    # pattern applied here): hash-repartitioning the band rows before
    # the bucket groupBy (to pin the CPU-dense bucket+pair stage at
    # cluster width) read SLOWER in an alternated A/B (NEW 2.51/3.32/
    # 2.74 s vs OLD 2.26/2.90/2.49 s for minhash/clusters/degree-hist,
    # NEW measured under LESS ambient load) — capped_buckets' counting
    # tier combines map-side, and the pre-agg repartition displaces
    # those partials, the same failure as NN-Descent's rejected
    # distinct repartition (r13). AQE's byte-derived choice stands
    # for this family.
    melted = _melted_signatures(sh, "doc_id", num_hashes)
    buckets = capped_buckets(melted, ["slot", "val"], "doc_id", max_bucket_size)
    # Candidate = collides in >= min_collisions of the K slots. One
    # collision admits ~1% of all random pairs on a small corpus vocab;
    # two cuts false candidates ~20x while the miss probability for a
    # true pair at j is 1 - (1-j)^K - K*j*(1-j)^(K-1) complement —
    # ~1e-5 at j=0.6, K=16, and vanishing for the planted j>=0.97 dups.
    candidates = (
        buckets.select(F.explode(_ordered_pairs(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .count()
        .filter(F.col("count") >= MINHASH_MIN_COLLISIONS)
        .drop("count")
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # r14, BUILT+MEASURED+REJECTED: pinning this exact-Jaccard verify
    # at cluster width (the containment_prefix_pairs fix) read SLOWER
    # here (2.46 vs 2.18 s, NEW arm at LOWER load) — the
    # min_collisions filter leaves so few candidates that the extra
    # exchange+stage costs more than the array_intersect CPU it
    # spreads. Kept for containment (whose asymmetric prefix filter
    # admits orders of magnitude more candidates), not here.
    rep_pairs = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return rep_pairs, sh.select("doc_id", F.size("shingles").alias("n_sh"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = MINHASH_NUM_HASHES,
    max_bucket_size: int = MINHASH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs via exact-dup collapse → MinHash-LSH candidates →
    exact verification → group expansion.

    Phase 0 collapses exact duplicates (same normalized-text
    fingerprint) to one representative before any shingling: a corpus
    that is X% exact copies — the COMMON case in web-scale training
    data — would otherwise put whole identity groups into every LSH
    bucket and explode candidate pairs quadratically in copy count.
    LSH then runs over distinct contents only; the final answer is
    reconstructed algebraically (within-group pairs at jaccard 1.0 +
    representative pairs fanned out to members), never re-verified.
    Measured on a 10x-replicated 50k-doc corpus (10 copies each):
    67s → ~4s at identical output.

    Candidate rule: a pair collides in ≥ ``min_collisions`` of the K
    slots. Miss probability for a true pair at the j=0.6 threshold is
    ~1e-5 (K=16, m=2); planted near-dups (j≥0.97) are never missed.
    Verification recomputes exact Jaccard on candidates only, so false
    positives cost work, never correctness.

    Scale: signatures are one narrow map over shingles (the shuffle
    carries 16 longs per distinct doc); candidate generation is linear
    in corpus size; only colliding pairs reach the quadratic verify.
    Buckets larger than ``max_bucket_size`` distinct documents are
    dropped before their id lists materialize (see capped_buckets) —
    a bucket that hot means a degenerate hash slot, not near-dup
    signal; recall for real near-dups is preserved by the other K-1
    slots.
    """
    # Distinct-content pairs expand back to document pairs: identity
    # groups at jaccard 1.0, representative pairs fanned to members —
    # pure join arithmetic, nothing re-touches text or shingles.
    return _jaccard_over_copies(
        df,
        lambda reps: _minhash_rep_pairs(
            reps, threshold, num_hashes, max_bucket_size=max_bucket_size
        ),
    )


def cross_corpus_near_dup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Best-match near-dup FILTER of a new batch against an existing
    corpus: for every NEW document whose k-shingle Jaccard with some
    CORPUS document is >= threshold, emit its best match — max jaccard,
    ties to the smallest corpus doc id. Output: (doc_id,
    corpus_doc_id, n_common, jaccard), one row per contaminated new
    doc. This is the incremental-ingest counterpart of
    minhash_lsh_pairs ("is this crawl page already in the training
    set?") — the question a production pipeline asks of every arriving
    batch, where the corpus side is the 100 TB relation.

    Scale shape:
    - both sides collapse exact duplicates first (_collapse_exact), so
      LSH runs over distinct contents and identity groups never
      multiply candidates;
    - corpus signatures are the narrow (id, slot, val) relation of
      _melted_signatures — K longs per distinct content. A production
      deployment PRECOMPUTES and stores them bucketed by (slot, val),
      so each incremental batch joins band rows against band rows and
      never touches corpus text;
    - hot corpus buckets (> max_bucket_size distinct contents sharing
      one slot value — a degenerate hash feature, not near-dup signal)
      are dropped by an anti-join BEFORE the band join can fan out;
    - identical contents short-cut through a fingerprint equi-join
      (jaccard 1.0 tier, no shingle intersection); the LSH path finds
      them too (16/16 collisions), and the duplicate candidate rows
      carry identical metrics, so the final argmax is unaffected;
    - exactness: every candidate is verified by exact shingle
      intersection; group members inherit their representative's best
      match algebraically. The per-new-doc argmax tie-break (min
      corpus id) is correct through the collapse because
      _collapse_exact's representative IS its group's min id.
    """
    groups_n, reps_n = _collapse_exact(new_df, "doc_id")
    groups_c, reps_c = _collapse_exact(corpus_df, "doc_id")
    # eager: each side feeds several joins whose broadcast builds
    # race a lazy cache and re-shingle (see _collapse_exact, r13)
    sh_n = shingled(reps_n, k=MINHASH_SHINGLE_K).transform(checkpoint_stage)
    sh_c = shingled(reps_c, k=MINHASH_SHINGLE_K).transform(checkpoint_stage)

    # exact-content tier: same fingerprint => identical shingle sets
    exact = (
        groups_n.select(F.col("rep").alias("new_rep"), "fp")
        .join(groups_c.select(F.col("rep").alias("corp_rep"), "fp"), "fp")
        .join(
            sh_c.select(
                F.col("doc_id").alias("corp_rep"),
                F.size("shingles").alias("n_common"),
            ),
            "corp_rep",
        )
        .select("new_rep", "corp_rep", "n_common", F.lit(1.0).alias("jaccard"))
    )

    melt_n = _melted_signatures(sh_n, "doc_id", MINHASH_NUM_HASHES).withColumnRenamed(
        "doc_id", "new_rep"
    )
    melt_c = _melted_signatures(sh_c, "doc_id", MINHASH_NUM_HASHES).withColumnRenamed(
        "doc_id", "corp_rep"
    )
    hot = (
        melt_c.groupBy("slot", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > MINHASH_MAX_BUCKET_SIZE)
        .select("slot", "val")
    )
    cand = (
        melt_n.join(melt_c, ["slot", "val"])
        .join(hot, ["slot", "val"], "left_anti")
        .groupBy("new_rep", "corp_rep")
        .agg(F.count(F.lit(1)).alias("n_coll"))
        .filter(F.col("n_coll") >= MINHASH_MIN_COLLISIONS)
        .select("new_rep", "corp_rep")
    )
    verified = (
        cand.join(
            sh_n.select(
                F.col("doc_id").alias("new_rep"), F.col("shingles").alias("sh_a")
            ),
            "new_rep",
        )
        .join(
            sh_c.select(
                F.col("doc_id").alias("corp_rep"), F.col("shingles").alias("sh_b")
            ),
            "corp_rep",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_rep", "corp_rep", "n_common", "jaccard")
    )

    w = Window.partitionBy("new_rep").orderBy(
        F.col("jaccard").desc(), F.col("corp_rep").asc()
    )
    best = (
        exact.unionByName(verified)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    members_n = groups_n.select(
        F.col("rep").alias("new_rep"), F.explode("members").alias("doc_id")
    )
    return best.join(members_n, "new_rep").select(
        F.col("doc_id"),
        F.col("corp_rep").alias("corpus_doc_id"),
        "n_common",
        "jaccard",
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: Width of the SimHash sketch.
SIMHASH_BITS = 60


def simhash_sketch(
    df: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """60-bit SimHash over each document's distinct word-k-gram
    shingles: bit b of the sketch is 1 iff at least half the shingle
    hashes have bit b set.

    Features are k-gram shingles, not single tokens: on a small
    vocabulary single tokens give every document nearly the same
    feature set (no resolution); k-grams span a |V|^k space where
    near-dup structure survives.

    Single-pass relational plan: explode shingles → hash → ONE
    hash-aggregate with 60 conditional-sum columns (all codegen'd long
    math) → fold the majority votes into the sketch. Shuffles once on
    doc_id; at 100 TB that is a map-side-combinable agg, not an O(bits)
    array re-scan per row."""
    ex = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokens("text").alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(gram_array("__toks", SHINGLE_K))).alias("token"),
        )
        .select(id_col, md5_hash64(F.col("token")).alias("h"))
    )
    # Expression trees built as SQL strings: the former per-bit Column
    # arithmetic issued ~700 py4j round-trips per construction (~1.5 s
    # of pure driver time, cProfile r13); each F.expr is ONE JVM-side
    # parse of the identical expression. Same operators (shiftright,
    # bitwiseAND, conditional sum), bit-identical output.
    agg = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"sum(shiftright(h, {b}) & 1)").alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sk_sql = " + ".join(
        f"IF(b{b} * 2 >= n, CAST({2 ** b} AS BIGINT), CAST(0 AS BIGINT))"
        for b in range(SIMHASH_BITS)
    )
    return agg.select(id_col, F.expr(sk_sql).alias("sk"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 6,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of the
    60-bit SimHash. Candidate generation: split the sketch into
    ``max_hamming + 1`` chunks — by pigeonhole, any pair within the
    distance budget must share at least one exact chunk, so the join is
    an equi-join on (chunk_idx, chunk_value), never a cross join.
    Exact duplicates are collapsed first (identical text ⇒ identical
    sketch ⇒ identity groups would flood every chunk bucket; see
    _collapse_exact) and re-expanded at hamming 0.

    Chunk values shared by more than ``max_bucket_size`` distinct
    documents are excluded from the self-join (counted first, one
    narrow agg): a that-hot chunk value is a degenerate feature (e.g.
    an all-identical low-entropy bit range) and would blow the join
    output up quadratically; pairs within the hamming budget still
    surface through their other max_hamming chunks."""
    def rep_pairs(reps: DataFrame):
        # staged: the chunk join consumes the sketch THREE times (bucket
        # counts + both self-join sides); unstaged, the explode+61-column
        # agg pipeline re-runs for each — measured 2.3x slower at sf0.1.
        # One (id, long) row per doc; eager localCheckpoint (r13) so the
        # three consumers (several of them broadcast builds, which race a
        # lazy cache) read one materialization.
        sk = simhash_sketch(reps, "doc_id").transform(checkpoint_stage)
        pairs = hamming_chunk_pairs(
            sk, "doc_id", "sk", bits=SIMHASH_BITS, max_hamming=max_hamming,
            max_bucket_size=max_bucket_size,
        )
        return pairs, None

    return _pairs_over_copies(df, rep_pairs, {"hamming": F.lit(0).cast("int")})


def hamming_chunk_pairs(
    sk_df: DataFrame,
    id_col: str,
    sketch_col: str,
    bits: int,
    max_hamming: int = 6,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Generic Hamming-distance pair join over any ``bits``-wide long
    sketch column (SimHash text sketches, aHash perceptual image
    hashes, ...): split each sketch into ``max_hamming + 1`` chunks —
    by pigeonhole any pair within the distance budget shares at least
    one exact chunk — equi-join on (chunk_idx, chunk_value), verify
    with bit_count(xor). Chunk values shared by more than
    ``max_bucket_size`` sketches are excluded (degenerate low-entropy
    bit ranges would blow the join up quadratically; real pairs still
    surface through their other chunks). Returns
    (doc_a, doc_b, hamming) with doc_a < doc_b."""
    sk = sk_df.select(id_col, F.col(sketch_col).alias("sk"))
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(F.col("sk"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("cv"),
            )
            for i in range(n_chunks)
        ]
    )
    ex = sk.select(id_col, "sk", F.explode(chunks).alias("c")).select(
        id_col, "sk", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    ok = (
        ex.groupBy("ci", "cv")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket_size))
        .select("ci", "cv")
    )
    ex = ex.join(ok, ["ci", "cv"], "left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sk").alias("sk_a"),
            F.col("b.sk").alias("sk_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# connected components → dedup clusters
# ---------------------------------------------------------------------------


def _cc_union_find_one_partition(
    pairs: DataFrame, id_col: str, a_col: str, b_col: str
) -> DataFrame:
    """Executor-side union-find over a pair graph that fits one task.

    ``coalesce(1)`` + ``mapInPandas``: the whole edge list streams
    through a single executor task that runs path-compressing
    union-find rooted at the MIN id (so the emitted component label is
    exactly the min reachable id, matching the iterative algorithm
    bit-for-bit). No driver collect — the graph never leaves the
    executors; output is one (node, comp) row per endpoint node.
    """
    id_type = dict(pairs.dtypes)[a_col]

    def run(batches):
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf[a_col].tolist(), pdf[b_col].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        import pandas as pd

        keys = list(parent)
        yield pd.DataFrame({"node": keys, "comp": [find(k) for k in keys]})

    return (
        pairs.select(a_col, b_col)
        .coalesce(1)
        .mapInPandas(run, schema=f"node {id_type}, comp {id_type}")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    small_graph_edges: int = 5_000_000,
    small_graph_nodes: int = 2_000_000,
) -> DataFrame:
    """Connected components of the similarity-pair graph: (id_col,
    component) where component = min node id reachable from the node.

    This is the step that turns pairwise near-dup output (minhash /
    simhash / cosine pairs) into DEDUP GROUPS — "keep one doc per
    component" — which pairwise ops alone cannot express (near-dup is
    not transitive; the cluster is the transitive closure).

    Two physical strategies behind one logical op, picked by measured
    edge count (the dedup analogue of Catalyst's broadcast-vs-shuffle
    join choice):

    - **Small graph** (≤ ``small_graph_edges`` pairs AND ≤
      ``small_graph_nodes`` estimated distinct endpoints, the common
      case — near-dup pairs touch a few percent of even a 100 TB
      corpus, and upstream LSH already collapsed exact dups): one
      executor task runs path-compressing union-find over the whole
      edge list (``coalesce(1)`` + Arrow ``mapInPandas`` —
      executor-side, never a driver collect). Edges stream through;
      what persists in the task is the parent dict, ~100 bytes per
      DISTINCT NODE — so the gate bounds nodes, not just edges (a
      worst-case 5M-edge path graph has 5M+1 nodes ≈ 0.5 GB of dict,
      which must NOT land in one task on a memory-capped executor).
      Node count is estimated with one map-side-partial
      ``approx_count_distinct`` pass. The a+b sum over-estimates the
      union, but HLL itself carries ~5% rsd either way, so the gate
      additionally inflates the estimate by 2x that margin (x1.1)
      before comparing — approximation error alone can never admit an
      over-budget graph into the single-task path.
    - **Big graph**: distributed min-label propagation WITH pointer
      jumping. Each round every node takes the min of (its label, its
      neighbors' labels, its label's label) — the neighbor step is the
      same join + groupBy-min MapReduce round GraphX CC runs; the
      label-of-label step (path halving, cf. the large-star/small-star
      family of MapReduce CC algorithms) short-circuits long chains so
      convergence is O(log diameter) rounds, not O(diameter): a
      60-node chain settles in ~7 rounds instead of 60. Per-round
      ``localCheckpoint`` truncates the lineage so the plan doesn't
      grow exponentially, and the driver-side convergence test reads
      ONE aggregated count per round — no collect of node data. At
      100 TB: state per round = (node, label) pairs, two narrow longs;
      the edge list is reused cached; skewed mega-components cost only
      on their own keys.

    Both paths emit identical labels (min reachable id); the unit
    tests run both.
    """
    if small_graph_edges:
        stats = pairs.agg(
            F.count(F.lit(1)).alias("n_edges"),
            (
                F.approx_count_distinct("doc_a") + F.approx_count_distinct("doc_b")
            ).alias("n_nodes_est"),
        ).first()
        small = (
            stats["n_edges"] <= small_graph_edges
            # inflate by 2x the default ~5% HLL rsd: an underestimate
            # must not route an over-budget graph into the one-task path
            and stats["n_nodes_est"] * 1.1 <= small_graph_nodes
        )
    else:
        small = False
    if small:
        endpoint_comp = _cc_union_find_one_partition(pairs, id_col, "doc_a", "doc_b")
        return (
            nodes.select(F.col(id_col).alias("node"))
            .join(endpoint_comp, "node", "left_outer")
            .select(
                F.col("node").alias(id_col),
                F.coalesce("comp", F.col("node")).alias("comp"),
            )
        )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp")
    ).transform(checkpoint_stage)
    for _ in range(max_iter):
        # neighbor labels: for each dst, min label among its neighbors
        msgs = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(
            msgs, labels["node"] == msgs["dst"], "left_outer"
        ).select(
            "node",
            F.col("comp").alias("comp0"),
            F.least(
                F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping: comp = min(comp, label[comp]). Labels are
        # keyed by node id and comp values ARE node ids, so one more
        # join on the (small) label set halves every chain.
        lol = labels.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        # The moved flag rides along into the checkpoint so convergence
        # is a filter+count over already-materialized partitions — no
        # extra old-vs-new join (and its shuffle) per round.
        new_labels = (
            stepped.join(lol, "comp", "left_outer")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("comp2", F.col("comp"))
                ).alias("comp"),
                "comp0",
            )
            .withColumn("moved", F.col("comp") != F.col("comp0"))
            .drop("comp0")
            .transform(checkpoint_stage)
        )
        changed = new_labels.filter("moved").count()
        labels = new_labels.drop("moved")
        if changed == 0:
            break
    else:
        # min-label propagation needs up to (component diameter) rounds;
        # a similarity chain longer than max_iter docs would otherwise
        # yield silently split cluster ids.
        logging.getLogger(__name__).warning(
            "connected_components did not converge in %d rounds "
            "(%d labels still changing); component ids may be split — "
            "raise max_iter for long-diameter graphs",
            max_iter,
            changed,
        )
    # labels is checkpointed every round, so the returned plan no
    # longer references the edge list — release its cache instead of
    # leaking it into session-lifetime executor storage.
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col), "comp")


def dedup_clusters(df: DataFrame, threshold: float = 0.6) -> DataFrame:
    """End-to-end near-dup clustering of a corpus: MinHash-LSH pairs →
    connected components → one row per document with its cluster id,
    cluster size, and whether it is the canonical survivor (min id).
    This is the full "dedup a web crawl" pipeline as one DataFrame op.

    The component graph is the REPRESENTATIVE-level near-dup relation
    (r9 sparsification): exact copies collapse to their min-id rep
    before LSH, and CC runs over verified rep pairs only — never the
    fanned-out member-pair relation, whose size grows as copies² in
    the duplication factor (the 100×-copies fixture put ~25M member
    pairs through CC and cost 6.4× at 100×; rep-level CC rides the
    same ~2.6× curve as minhash_lsh_pairs itself). The partition of
    documents is IDENTICAL: every member connects to its rep (rep =
    min id of its identity group, so component min-labels are
    unchanged), and rep pairs carry exactly the cross-group edges the
    member fan-out would have multiplied. Members rejoin via one
    explode of the bounded group lists; isolated reps keep comp =
    their own id (coalesce after the left join).

    The iterative propagation runs ONLY over reps that appear in at
    least one pair — an isolated rep is trivially its own component,
    and in a real corpus near-dup pairs touch a few percent of
    documents, so each CC round's join+agg shuffles orders of
    magnitude fewer rows than the corpus.
    """
    # Same candidate-generation params as minhash_lsh_pairs — both
    # take the MINHASH_* module defaults so the clusters query can
    # never drift from the pairs query on a retune.
    groups, reps = _collapse_exact(df, "doc_id")
    rep_pairs, _ = _minhash_rep_pairs(reps, threshold)
    # Eager localCheckpoint instead of cache(): the verified rep-pair
    # relation is tiny (near-dup pairs only), it is re-read by the CC
    # gate agg + every propagation round + the endpoints scan, and —
    # unlike a cache-manager entry — the checkpoint blocks are freed
    # by the ContextCleaner when the result goes out of scope, so a
    # dedup_clusters call leaks nothing into session-lifetime storage.
    pairs = rep_pairs.select("doc_a", "doc_b").transform(checkpoint_stage)
    endpoints = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    rep_comp = connected_components(pairs, endpoints, id_col="doc_id")
    members = groups.select(
        F.col("rep"), F.explode("members").alias("doc_id")
    )
    # comp is referenced twice below (sizes + the final join); a narrow
    # 2-long-column checkpoint shares the scan.
    comp = members.join(
        rep_comp.withColumnRenamed("doc_id", "rep"), "rep", "left_outer"
    ).select(
        "doc_id", F.coalesce("comp", F.col("rep")).alias("comp")
    ).transform(checkpoint_stage)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            "doc_id",
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
        )
    )
