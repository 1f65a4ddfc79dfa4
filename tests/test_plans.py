"""Plan-shape assertions: the 100 TB scale contract, executable.

Each test pins a physical-plan property an operator's scale story
depends on. If a refactor silently drops predicate pushdown, spills a
broadcast into a shuffle, or introduces a cartesian product, these fail
before any benchmark does.
"""

import re

import pytest

from amazonmsk_emr_tem_data_spark.plans.inspect import plan_facts
from amazonmsk_emr_tem_data_spark.queries import REGISTRY


def facts(spark, sf_dir, name):
    return plan_facts(REGISTRY[name][0](spark, sf_dir))


def test_filter_project_scan_pushdown(spark, sf_dir):
    f = facts(spark, sf_dir, "filter_project_scan")
    assert f.pushed_filters, "predicates must reach the parquet scan"
    assert f.n_exchanges == 0, "scan->filter->project must be shuffle-free"
    assert not f.joins


def test_q1_partial_aggregation(spark, sf_dir):
    f = facts(spark, sf_dir, "q1_pricing_summary")
    assert f.has_partial_agg, "map-side combine before the shuffle"
    assert f.n_exchanges == 1, "one shuffle on the grouping key"


def test_nation_revenue_broadcasts_dims(spark, sf_dir):
    f = facts(spark, sf_dir, "nation_revenue")
    assert f.joins, "expected joins in the plan"
    assert set(f.joins) == {"BroadcastHashJoin"}, (
        "all dims (nation/customer/supplier/orders-after-filter) must "
        f"broadcast, got {f.joins}"
    )
    assert f.pushed_filters, "date predicate must reach the orders scan"


def test_asof_join_single_shuffle(spark, sf_dir):
    f = facts(spark, sf_dir, "asof_latest_order")
    assert f.n_exchanges == 1, "union-merge as-of = exactly one key shuffle"
    assert not f.joins, "as-of must not plan an inequality join"


def test_knn_broadcasts_query_side(spark, sf_dir):
    f = facts(spark, sf_dir, "embedding_knn_join")
    assert all(j.startswith("Broadcast") for j in f.joins), (
        f"corpus must never shuffle for the knn join, got {f.joins}"
    )
    assert not f.has_cartesian


def test_returned_item_revenue_pushes_dates_broadcasts_nation(spark, sf_dir):
    f = facts(spark, sf_dir, "returned_item_revenue")
    assert f.pushed_filters, "quarter + returnflag predicates must reach scans"
    assert "BroadcastHashJoin" in f.joins, "nation must broadcast"
    assert not f.has_cartesian


def test_cheapest_supplier_rollup_before_window(spark, sf_dir):
    # Q2 shape: the window min must run over the (part, supplier)
    # rollup — ONE pre-window shuffle for the rollup, one for the
    # window partitioning, never a window over raw lineitem.
    f = facts(spark, sf_dir, "cheapest_supplier_per_part")
    assert f.has_partial_agg, "rollup must partial-aggregate map-side"
    assert "BroadcastHashJoin" in f.joins, "part filter + supplier broadcast"


def test_dup_span_frac_shuffles_hashes_not_text(spark, sf_dir):
    # the exploded span column must be hashed scan-side: no plan node
    # may carry the raw span string through an exchange
    fn, _ = REGISTRY["doc_dup_span_frac"]
    plan = (
        fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "span" not in m.group(1), "shuffle key must be the 64-bit hash"


def test_forecast_revenue_pure_pushdown(spark, sf_dir):
    # Q6 shape: the cheapest possible plan — predicates at the scan,
    # one single-row aggregate exchange, no joins.
    f = facts(spark, sf_dir, "forecast_revenue_change")
    assert f.pushed_filters, "shipdate + raw-column bounds must reach the scan"
    assert not f.joins
    assert f.n_exchanges == 1, "map-side partial -> one scalar exchange"
    assert f.has_partial_agg


def test_nation_market_share_single_fact_shuffle(spark, sf_dir):
    # Q8 shape: 7-table join where every dim broadcasts; at most the
    # lineitem-orders join may shuffle (AQE may even broadcast orders
    # at tiny SF, hence <=).
    f = facts(spark, sf_dir, "nation_market_share")
    non_broadcast = [j for j in f.joins if not j.startswith("Broadcast")]
    assert len(non_broadcast) <= 1, (
        f"only the fact-fact join may shuffle, got {f.joins}"
    )
    assert not f.has_cartesian
    assert f.pushed_filters, "orderdate range must reach the orders scan"


def test_decontamination_broadcasts_eval_grams_and_hashes_shuffles(
    spark, sf_dir
):
    # the eval gram set must broadcast (never a shuffled join against
    # the corpus gram stream), and no exchange may carry gram text —
    # only the 60-bit hash.
    f = facts(spark, sf_dir, "doc_decontamination")
    assert f.joins and all(j == "BroadcastHashJoin" for j in f.joins), (
        f"eval grams must broadcast, got {f.joins}"
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", f.raw):
        assert "gram#" not in m.group(1), (
            "shuffle key must be the gram hash, never gram text"
        )


def test_sequence_packing_windows_partition_by_shard(spark, sf_dir):
    # the corpus-sized window must partition by shard; the only
    # single-partition exchange allowed is the tiny shard-offset table
    # (|corpus|/1000 rows).
    f = facts(spark, sf_dir, "doc_sequence_packing")
    assert "hashpartitioning(shard" in f.raw, (
        "within-shard running sum must hash-partition on shard"
    )
    import re

    singles = re.findall(r"Exchange SinglePartition", f.raw)
    assert len(singles) <= 1, (
        "only the shard-offset prefix sum may serialize, got "
        f"{len(singles)} single-partition exchanges"
    )


def test_heavy_shipper_semi_join_broadcasts(spark, sf_dir):
    # Q20 shape: qualifying suppkeys reach supplier as a broadcast
    # LEFT SEMI — supplier itself never shuffles.
    f = facts(spark, sf_dir, "heavy_shipper_suppliers")
    assert "LeftSemi" in f.raw, "must plan a semi join"
    assert not f.has_cartesian
    assert any(j.startswith("Broadcast") for j in f.joins)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product_anywhere(spark, name):
    """No registry query may plan an unbroadcast cartesian product —
    the one join strategy that cannot survive a 100x scale-up."""
    fn, _ = REGISTRY[name]
    f = plan_facts(fn(spark, "/root/testdata/sf0.001"))
    assert not f.has_cartesian, name


def test_corpus_split_is_map_only(spark, sf_dir):
    # hash-membership split: any worker computes membership standalone —
    # a shuffle or join in this plan means the property was lost
    f = facts(spark, sf_dir, "doc_corpus_split")
    assert f.n_exchanges == 0, "hash split must be map-only"
    assert not f.joins and not f.has_cartesian


def test_shuffle_shards_single_exchange_no_global_sort(spark, sf_dir):
    # one partition-by-shard shuffle; ordering is per-shard (window),
    # never a global ORDER BY (which would serialize the corpus)
    f = facts(spark, sf_dir, "doc_shuffle_shards")
    assert f.n_exchanges == 1, "exactly the partition-by-shard shuffle"
    assert not f.joins


def test_quality_selection_partitioned_window(spark, sf_dir):
    # the ranking window must be partitioned by source — an
    # unpartitioned window here would move the corpus to one task
    f = facts(spark, sf_dir, "doc_quality_selection")
    assert f.n_exchanges == 1, "one shuffle on source for the window"
    assert not f.has_cartesian


def test_bm25_broadcasts_stats_no_global_corpus_sort(spark, sf_dir):
    # r7 shape: per-term tf comes straight off the token array and idf
    # folds in as driver literals, so the scoring plan is scan →
    # project → TakeOrderedAndProject — NO join and NO wide shuffle at
    # all (r6's broadcast-join formulation is the fallback only for
    # queries with too many terms to columnize)
    f = facts(spark, sf_dir, "doc_bm25_search")
    assert not f.joins, f"scoring must be join-free, got {f.joins}"
    assert f.n_exchanges == 0, (
        f"scoring must be shuffle-free (tf off the token array), "
        f"got {f.n_exchanges} exchanges"
    )
    # The top-k must be a distributed partial sort (per-partition heaps
    # + driver merge), NEVER an unpartitioned row_number window over the
    # scored corpus (that serializes every scored doc through one task).
    assert "TakeOrderedAndProject" in f.raw, (
        "top-k must compile to TakeOrderedAndProject, not a global sort"
    )
    # the rank window is allowed only ABOVE the limit (plan prints
    # root-first), i.e. over the <= k surviving rows
    if "Window" in f.raw:
        assert f.raw.index("Window") < f.raw.index("TakeOrderedAndProject"), (
            "rank window must consume the limited top-k rows, not the "
            "scored corpus"
        )


def test_leakage_safe_split_is_map_only(spark, sf_dir):
    # like doc_corpus_split: membership is a pure function of the row,
    # so any shuffle or join in this plan means the property was lost
    f = facts(spark, sf_dir, "doc_leakage_safe_split")
    assert f.n_exchanges == 0, "fingerprint-hash split must be map-only"
    assert not f.joins and not f.has_cartesian


def test_length_histogram_partial_agg_bounded_exchanges(spark, sf_dir):
    # map-side combine onto ~30 bucket keys; the only other exchange is
    # the share window over those aggregated rows
    f = facts(spark, sf_dir, "corpus_length_histogram")
    assert f.has_partial_agg, "bucket rollup must partial-aggregate"
    # bucket agg + tiny share window (+ ensure_parallelism's scan
    # repartition, a no-op at real scale where scans split naturally)
    assert f.n_exchanges <= 3, f"got {f.n_exchanges} exchanges"
    assert not f.joins


def test_tfidf_window_partitioned_by_doc(spark, sf_dir):
    # the top-k ranking window must partition by doc_id — an
    # unpartitioned window would serialize every (doc, term) score
    # through one task (the BM25 bug class); N is a 1-row broadcast
    f = facts(spark, sf_dir, "corpus_tfidf_topterms")
    assert "hashpartitioning(doc_id" in f.raw, (
        "tf-idf rank window must hash-partition on doc_id"
    )
    assert not f.has_cartesian


def test_outliers_broadcast_moments(spark, sf_dir):
    f = facts(spark, sf_dir, "event_value_outliers")
    assert "BroadcastHashJoin" in f.joins, "per-type moments must broadcast"
    assert not f.has_cartesian


def test_upsert_single_key_shuffle(spark, sf_dir):
    f = facts(spark, sf_dir, "events_upsert_latest")
    assert not f.joins, "upsert is union + window, never a join"
    assert not f.has_cartesian


def test_curation_pipeline_no_extra_shuffles(spark, sf_dir):
    # The composed quality->dedup->decon->split->shard->pack pipeline
    # must keep each stage's scale contract under composition: no
    # cartesian, and both the shard-position and the packing windows
    # stay partitioned (split/shard keys), never corpus-wide. At this
    # fixture scale every join (eval grams, decon verdicts, sub-shard
    # offsets) plans as broadcast; at corpus scale the verdict join
    # would legitimately become one doc_id key shuffle — the assertion
    # guards the cartesian/nested-loop regression class.
    f = facts(spark, sf_dir, "corpus_curation_pipeline")
    assert not f.has_cartesian
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"all pipeline joins must broadcast bounded sides, got {f.joins}"
    )
    assert "hashpartitioning(split" in f.raw or (
        "hashpartitioning(shard" in f.raw
    ), "shard/pack windows must partition by (split, shard)"


def test_semantic_decontam_corpus_never_shuffles_vectors(spark, sf_dir):
    # LEFT broadcast-nested-loop on the cosine threshold: the corpus
    # embedding column must never cross an exchange — the only shuffle
    # carries the narrow (vec_id, label, cos) aggregate stream. A
    # join-back regression (corpus SortMergeJoin against its own hit
    # aggregate — the shape this query shipped with first) doubles the
    # corpus shuffle cost at 100 TB.
    f = facts(spark, sf_dir, "semantic_decontamination")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"eval side must broadcast; corpus must not shuffle, got {f.joins}"
    )
    assert not f.has_cartesian
    assert f.has_partial_agg, "hit counts must partial-aggregate map-side"


def test_mixture_resample_docs_side_map_only(spark, sf_dir):
    # The corpus side must be scan -> broadcast-join(rates) -> filter:
    # zero shuffles of documents. The only exchanges belong to the
    # |sources|-row rate derivation (one partial agg + one single-
    # partition window over the aggregated rows).
    f = facts(spark, sf_dir, "corpus_mixture_resample")
    assert set(f.joins) == {"BroadcastHashJoin"}, (
        f"rates must broadcast onto the docs scan, got {f.joins}"
    )
    assert f.n_exchanges <= 2, (
        f"only the rate derivation may shuffle, got {f.n_exchanges}"
    )
    assert f.has_partial_agg


def test_pagerank_no_cartesian_broadcast_composition(spark, sf_dir):
    # Post-checkpoint composition (final ranks x out-degrees): small
    # model-state joins must broadcast; nothing in the visible plan may
    # plan a cartesian. (Per-iteration shapes live behind localCheckpoint
    # truncation — their contract is the integer-arithmetic oracle.)
    f = facts(spark, sf_dir, "page_rank_pages")
    assert not f.has_cartesian
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"rank/out-degree composition joins must broadcast, got {f.joins}"
    )


def test_pq_adc_corpus_scans_codes_broadcasts_queries(spark, sf_dir):
    # The ADC pass must scan the (narrow) encoded corpus once: queries
    # broadcast (BNLJ, the knn rule), the per-query top-k window is
    # partitioned by query_id, and nothing plans a cartesian. Codebook
    # training is bounded driver model state and never appears as a
    # join side.
    f = facts(spark, sf_dir, "embedding_pq_adc_topk")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"queries must broadcast over the encoded corpus, got {f.joins}"
    )
    assert not f.has_cartesian
    assert "hashpartitioning(query_id" in f.raw, (
        "per-query rank window must partition by query_id"
    )


def test_quality_sort_shards_broadcasts_value_map(spark, sf_dir):
    # Global ordering without a global sort: the only unpartitioned
    # window runs over the bounded DISTINCT-value table; the corpus
    # side takes the (value -> shard) map as a broadcast and the
    # within-shard rank window partitions by sort_shard. A regression
    # to orderBy/ntile would plan a corpus-wide single-partition sort.
    f = facts(spark, sf_dir, "doc_quality_sort_shards")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"value->shard map must broadcast, got {f.joins}"
    )
    assert not f.has_cartesian
    assert "hashpartitioning(sort_shard" in f.raw, (
        "within-shard ranks must partition by sort_shard"
    )


def test_ivfpq_scans_codes_once_broadcasts_probe_table(spark, sf_dir):
    # Both quantizers are driver model state; the only corpus pass that
    # feeds scoring is the encoded (cell, codes) scan joined against the
    # broadcast (query, probed-cell, LUT) table. No cartesian, no
    # corpus shuffle, query-partitioned top-k window.
    f = facts(spark, sf_dir, "embedding_ivfpq_topk")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"probe/LUT table must broadcast over the encoded corpus, got {f.joins}"
    )
    assert not f.has_cartesian
    assert "hashpartitioning(query_id" in f.raw


def test_scd2_single_window_shuffle(spark, sf_dir):
    # lag -> flag -> cumsum -> lead all share the user_id partitioning:
    # exactly one exchange, no joins — a year of history is one pass.
    f = facts(spark, sf_dir, "user_type_scd2")
    assert f.n_exchanges == 1, f"SCD2 must shuffle once, got {f.n_exchanges}"
    assert not f.joins


def test_fixed_k_sample_single_stratum_shuffle(spark, sf_dir):
    f = facts(spark, sf_dir, "stratified_fixed_k_sample")
    assert f.n_exchanges == 1, (
        f"per-stratum rank = one lang shuffle, got {f.n_exchanges}"
    )
    assert not f.joins


def test_page_clustering_bounded_plan(spark, sf_dir):
    # The explode-not-union rewrite keeps the plan to single-digit
    # exchanges (the first cut planned 84: every union branch
    # recomputed the transition mining). The wedge self-join may
    # legitimately shuffle on u; nothing may plan a cartesian.
    f = facts(spark, sf_dir, "page_graph_clustering")
    assert not f.has_cartesian
    assert f.n_exchanges <= 12, (
        f"triangle plan re-exploded to {f.n_exchanges} exchanges"
    )


def test_gap_fill_two_exchanges_no_joins(spark, sf_dir):
    # grid generation = one per-user min/max aggregate (map-combined);
    # neighbor annotation = ONE user-keyed window pass over the merged
    # stream (both frames share a single sort). No joins: an as-of-join
    # formulation would shuffle events twice.
    f = facts(spark, sf_dir, "tem_gap_fill_hourly")
    assert not f.joins, f"gap-fill must be join-free, got {f.joins}"
    assert f.n_exchanges <= 2, (
        f"span agg + one window shuffle expected, got {f.n_exchanges}"
    )
    assert f.has_partial_agg


def test_zorder_single_agg_no_joins(spark, sf_dir):
    # Morton code + shard id are map-side column algebra; the only
    # exchange is the 64-group stats aggregation (map-combined). The
    # key-maxima collect happens at build time and is driver model
    # state, not part of this plan.
    f = facts(spark, sf_dir, "zorder_layout_stats")
    assert not f.joins, f"zorder stats must be join-free, got {f.joins}"
    assert f.n_exchanges == 1, (
        f"one shard-stats shuffle expected, got {f.n_exchanges}"
    )
    assert f.has_partial_agg


def test_dsir_broadcast_model_and_partial_topk(spark, sf_dir):
    # The 256-row lambda model joins back as a broadcast (the corpus
    # side must never shuffle for it); the final top-k must be
    # TakeOrderedAndProject (per-partition heaps), not a global sort;
    # the rank window runs over the <= k surviving rows only.
    f = facts(spark, sf_dir, "dsir_importance_select")
    assert f.joins and all(j == "BroadcastHashJoin" for j in f.joins), (
        f"the lambda model must broadcast-join, got {f.joins}"
    )
    assert not f.has_cartesian
    assert "TakeOrderedAndProject" in f.raw, (
        "top-k must compile to TakeOrderedAndProject"
    )


def test_pq_rerank_gather_broadcasts_shortlist(spark, sf_dir):
    # Stage 2's gather must join the raw-vector scan against the
    # BROADCAST shortlist/query frames (corpus never shuffles for the
    # rerank); nothing may plan a cartesian; the rerank window
    # partitions by query_id over <= shortlist_k rows.
    f = facts(spark, sf_dir, "embedding_pq_rerank_topk")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), (
        f"rerank gather must broadcast, got {f.joins}"
    )
    assert not f.has_cartesian
    assert "hashpartitioning(query_id" in f.raw


def test_key_skew_report_broadcast_totals_partial_topk(spark, sf_dir):
    # the (n_keys, n_rows) totals are a 1-row broadcast; top-k must be
    # per-partition heaps, not a global sort
    f = facts(spark, sf_dir, "key_skew_report")
    assert f.joins and all(j.startswith("Broadcast") for j in f.joins), f.joins
    assert "TakeOrderedAndProject" in f.raw
    assert f.has_partial_agg


def test_incremental_agg_cutoff_invariance(spark, sf_dir):
    # The refresh algebra's actual contract: merge(base partials, delta
    # partials) must be identical for ANY cutoff — including the
    # degenerate all-base and all-delta splits — because COUNT and the
    # cent-grid SUM merge by addition exactly.
    from collections import Counter

    # patch the DEFINING module: the query function resolves
    # _INCR_CUTOFF from its own module globals at call time
    from amazonmsk_emr_tem_data_spark.queries import _graph_ann as Qm

    ref = None
    orig = Qm._INCR_CUTOFF
    try:
        for cutoff in ("1900-01-01", "1996-01-01", "1997-06-15", "2100-01-01"):
            Qm._INCR_CUTOFF = cutoff
            got = Counter(
                tuple(r) for r in Qm.orders_incremental_agg(spark, sf_dir).collect()
            )
            if ref is None:
                ref = got
            assert got == ref, f"cutoff {cutoff} changed the merged rollup"
    finally:
        Qm._INCR_CUTOFF = orig


def test_prefix_filter_verification_is_candidate_bounded(spark, sf_dir):
    # Exactness comes from the verification join, but candidates must be
    # generated ONLY from prefix shingles — no cartesian anywhere, and
    # the per-doc rank window must partition by doc_id (never a global
    # unpartitioned window over the exploded shingles).
    f = facts(spark, sf_dir, "prefix_filter_jaccard_pairs")
    assert not f.has_cartesian
    assert "hashpartitioning(doc_id" in f.raw, (
        "df-rank window must partition by doc_id"
    )
    # the property in the test name: the prefix-length condition
    # pos <= n_sh - ceil(num*n/den) + 1 must survive into the physical
    # plan on BOTH join sides (its ceil renders via integer FLOOR math
    # carrying the num/den literals; dropping the prefix filter
    # degenerates candidates to the full shingle self-join and deletes
    # these Filter conditions). The pattern derives from the query's
    # actual threshold and tolerates renderer whitespace/paren drift —
    # it only requires num and (den - 1) to appear multiplied/added in
    # one expression, which is the ceil idiom's invariant shape.
    num, den = 7, 10  # prefix_filter_jaccard_pairs_q's threshold
    ceil_idiom = rf"\*\s*{num}\)\s*\+\s*{den}\)\s*-\s*1\)"
    assert len(re.findall(ceil_idiom, f.raw)) >= 2, (
        "prefix-length filter missing from the candidate path"
    )


def test_cooccurrence_lift_partial_topk_no_explicit_marg_broadcast(spark, sf_dir):
    # pair counts combine map-side; the final top-100 must be
    # per-partition heaps + driver merge, never a global sort of the
    # full pair universe
    f = facts(spark, sf_dir, "token_cooccurrence_lift")
    assert f.has_partial_agg
    assert "TakeOrderedAndProject" in f.raw
    assert not f.has_cartesian


def test_unpivot_is_map_side_expand(spark, sf_dir):
    # wide->long must compile to a map-side Expand (4 rows out per
    # input row, no join, no extra shuffle) + ONE map-combined agg
    # exchange onto the 4 measure keys
    f = facts(spark, sf_dir, "lineitem_measures_unpivot")
    assert "Expand" in f.raw, "unpivot must plan as Expand"
    assert not f.joins and not f.has_cartesian
    assert f.has_partial_agg, "per-measure rollup must partial-aggregate"
    assert f.n_exchanges == 1, f"got {f.n_exchanges} exchanges"


def test_lambda_staging_survives_optimizer(spark, sf_dir):
    """The r7 lambda-staging fix, pinned: codegen cannot hoist a
    subtree referenced inside a higher-order-function lambda, so if
    CollapseProject ever re-fuses the staged projections (a Spark
    upgrade loosening its duplicate-expensive-expression guard), the
    tokenize/md5 trees get re-evaluated at EVERY array position —
    measured 17x slower on winnowing. Staged, each tree renders ONCE
    in the physical plan; re-fused, it is duplicated into the when-
    condition, the lambda body, and the otherwise branch."""
    from amazonmsk_emr_tem_data_spark.plans.inspect import explain_str
    from amazonmsk_emr_tem_data_spark.operators.dedup import shingled
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    win = explain_str(
        REGISTRY["doc_winnowing_fingerprints"][0](spark, sf_dir), "simple"
    )
    assert win.count("md5(") <= 1, (
        "winnowing shingle-hash tree duplicated — staging collapsed"
    )
    assert win.count("split(") <= 1, (
        "winnowing tokenize tree duplicated — staging collapsed"
    )

    sh = explain_str(load_table(spark, sf_dir, "documents").transform(shingled), "simple")
    assert sh.count("split(") <= 1, (
        "shingled() tokenize tree duplicated — staging collapsed"
    )


def test_aqe_skew_join_fires_on_planted_skew(spark):
    """The session claims AQE skew-join splitting as the first line of
    defense for hot join keys (operators/skew.py docs; session.py conf)
    — this pins that it actually FIRES, not just that the flag is set.
    A planted 50%-hot-key large-large join under test-scaled skew
    thresholds must finalize with SortMergeJoin(skew=true), i.e. AQE
    split the oversized shuffle partition at runtime. If a Spark
    upgrade or a session-conf edit silently disables the mechanism,
    the salting tier becomes the ONLY skew defense and this fails."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.shuffle.partitions",
    ]
    old = {k: spark.conf.get(k) for k in keys}
    try:
        # 32 initial shuffle partitions: under ~16, AQE's internal
        # median-size guard stops the split on this data size (the
        # test session runs 8 CPUs / 8 partitions by default)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        left = spark.range(100_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(2000).select(
            F.col("id").alias("k"), F.lit(1).alias("m")
        )
        # no downstream partitioning requirement: a global agg above
        # the join demands SinglePartition, and AQE declines to split
        # a skewed join whose split would force an extra shuffle
        # (unless forceOptimizeSkewedJoin) — keep the join output free
        j = left.join(right, "k").select("k", "m")
        # collect() finalizes THIS DataFrame's adaptive plan (a write
        # sink would execute a separate QueryExecution and leave this
        # one isFinalPlan=false)
        assert len(j.collect()) == 51_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE did not split the planted skewed partition:\n"
            + plan[:2000]
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# round-7 session-5 operators
# ---------------------------------------------------------------------------


def test_bloom_prune_filter_sits_under_the_join(spark, sf_dir):
    """The Bloom stage's whole value: the membership predicate is a
    plain Filter over the orders scan (below any exchange/join), the
    exact join is a broadcast left-semi, and nothing plans a
    cartesian or an extra shuffle beyond the final aggregate's."""
    f = facts(spark, sf_dir, "bloom_prune_join")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    assert not f.has_cartesian
    # one exchange for the groupBy; the probe filter adds none
    assert f.n_exchanges == 1, f.n_exchanges
    assert "xxhash64" in f.raw, "probe filter must appear in the plan"


def test_skyline_windows_partition_by_band(spark, sf_dir):
    """The banded skyline's scale contract: every window over the DATA
    is partitioned (by band) — the only unpartitioned sort the plan
    may contain is over the #bands-row aggregate feeding the
    broadcast. A global single-partition window over part rows would
    be the O(n log n)-on-one-task failure mode."""
    f = facts(spark, sf_dir, "part_skyline")
    assert set(f.joins) == {"BroadcastHashJoin"}, (
        "band prefix-max table must broadcast, got " + str(f.joins)
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", f.raw)
    assert specs, "expected window specs in the plan"
    data_specs = [s for s in specs if "band" in s and "pmod" not in s]
    assert data_specs, "data windows must be partitioned by band"


def test_register_sketch_single_wide_shuffle(spark, sf_dir):
    """The FM sketch aggregates map-side to <= |types|*64 rows before
    its shuffle; the dense grid + exact-distinct join happen at
    sketch-size, so the plan carries partial aggregation and no
    cartesian."""
    f = facts(spark, sf_dir, "user_distinct_sketch")
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_attribution_is_one_user_shuffle_no_join(spark, sf_dir):
    """Last-touch attribution composes the union-merge as-of join:
    exactly the user_id exchange plus the final group-by exchange —
    and NO planned join (an inequality join here would be the O(n*m)
    trap the operator exists to avoid)."""
    f = facts(spark, sf_dir, "purchase_attribution")
    assert not f.joins, f.joins
    assert f.n_exchanges == 2, f.n_exchanges


def test_hilbert_audit_matches_zorder_plan_shape(spark, sf_dir):
    """The Hilbert audit must keep the Z-order audit's physical shape:
    one map-side-combined 64-group aggregate, no joins, the FSM
    entirely in projection expressions (no UDF, no extra exchange)."""
    fh = facts(spark, sf_dir, "hilbert_layout_stats")
    fz = facts(spark, sf_dir, "zorder_layout_stats")
    assert fh.n_exchanges == fz.n_exchanges == 1
    assert not fh.joins and not fz.joins
    assert fh.has_partial_agg
    assert "pythonudf" not in fh.raw.lower()


def test_kmv_bottom_k_prunes_map_side(spark, sf_dir):
    """The KMV sketch's scale contract: the per-type bottom-64 rank
    filter must compile to WindowGroupLimit (Spark 3.5+), so every map
    task pre-trims to its local k BEFORE the |types|-key shuffle — the
    difference between shuffling k longs per type and shuffling every
    distinct (user, day) hash. The pairwise stage may nested-loop:
    its inputs are the post-aggregate sketch ROWS (k longs per type),
    never event data."""
    f = facts(spark, sf_dir, "activity_overlap_kmv")
    assert "WindowGroupLimit" in f.raw, (
        "bottom-k must pre-trim map-side via WindowGroupLimit"
    )
    assert not f.has_cartesian
    assert "SortMergeJoin" not in f.joins, (
        "sketch pairing must never shuffle-sort (inputs are |types| rows)"
    )


def test_ivm_delta_joins_share_the_orderkey_key(spark, sf_dir):
    """The four delta joins of the IVM maintenance pass all key on
    orderkey and re-aggregate exact integer partials — partial
    aggregation must survive, and no delta combination may degenerate
    into a nested-loop/cartesian (the filters are disjoint slices of
    the same tables, joined equi on orderkey only)."""
    f = facts(spark, sf_dir, "order_lineitem_ivm")
    assert f.has_partial_agg
    assert not f.has_cartesian
    assert "BroadcastNestedLoopJoin" not in f.joins


def test_seasonal_anomaly_broadcasts_baseline_no_event_shuffle(spark, sf_dir):
    """The seasonal monitor's scale contract: the <= |types|*24
    baseline table broadcasts back onto the event scan — exactly ONE
    exchange in the whole plan (the baseline aggregate's), and the
    event side is never shuffled."""
    f = facts(spark, sf_dir, "event_seasonal_anomaly")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    assert f.n_exchanges == 1, f.n_exchanges
    assert f.has_partial_agg


def test_rake_topk_is_partial_no_global_sort(spark, sf_dir):
    """RAKE's corpus-level top-50 must compile to
    TakeOrderedAndProject (per-partition heaps), not a global sort,
    and the |vocab|-row word-score table must broadcast onto the
    member stream."""
    f = facts(spark, sf_dir, "rake_keyword_phrases")
    assert "TakeOrderedAndProject" in f.raw
    assert "BroadcastHashJoin" in f.joins
    assert not f.has_cartesian


def test_shard_rebalance_map_only_single_agg(spark, sf_dir):
    """Rendezvous resharding is ONE pass: 17 hash expressions + argmax
    in projections, a single 17-group map-side-combined aggregate — no
    joins, no second corpus scan, no UDF."""
    f = facts(spark, sf_dir, "doc_shard_rebalance")
    assert not f.joins
    assert f.n_exchanges == 1, f.n_exchanges
    assert f.has_partial_agg
    assert "pythonudf" not in f.raw.lower()


def test_weighted_sample_partial_topk_no_shuffle(spark, sf_dir):
    """The exponential-race bottom-k must compile to
    TakeOrderedAndProject over per-partition heaps with ZERO
    exchanges — the whole point of key-based weighted sampling is
    that no global weight total (and hence no global pass) exists."""
    f = facts(spark, sf_dir, "doc_weighted_sample")
    assert "TakeOrderedAndProject" in f.raw
    assert f.n_exchanges == 0, f.n_exchanges
    assert not f.joins


def test_source_kl_joins_vocabulary_not_instances(spark, sf_dir):
    """The KL diagnostic's joins run on vocabulary-sized relations
    (per-source freq ⋈ corpus freq ⋈ totals) — every join strategy is
    a broadcast (hash for the freq tables, nested-loop only for the
    1-row totals), never a sort-merge over token instances."""
    f = facts(spark, sf_dir, "source_token_kl")
    assert f.joins and "SortMergeJoin" not in f.joins, f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_latency_paths_checkpointed_unroll_stays_bounded(spark, sf_dir):
    """Bellman-Ford's scale contract: the edge table is materialized
    ONCE (localCheckpoint), so the 4-round unroll's visible plan is a
    handful of broadcast joins over <= |nations|^2 rows — without the
    checkpoint the union chain doubles per round and re-runs the two
    fact shuffles 2^4 times. Bound the plan: few joins, no cartesian,
    no sort-merge (everything downstream of the checkpoint is tiny)."""
    f = facts(spark, sf_dir, "nation_min_latency_paths")
    assert len(f.joins) <= 4, f.joins
    assert "SortMergeJoin" not in f.joins
    assert not f.has_cartesian


def test_kmeans_assignment_is_joinless_projection(spark, sf_dir):
    """Lloyd's scale contract: centroids are MODEL STATE (driver
    state re-broadcast each round), so the visible plan has NO joins
    at all — a join or 8x row-blowup here is the cross-join failure
    mode this design exists to avoid. Since r10 each round is ONE
    fused Arrow pass (lloyd_round_partials: assignment + inertia +
    update sums in the same scan); the plan must show the
    MapInPandas partial-aggregate shape — the wide exchange carries
    <= k rows per input partition, and the final reduce is a plain
    map-side-combined groupBy-sum. (The r7-r9 pure-expression form
    was dropped on measurement: F.aggregate fold dots are
    CodegenFallback, interpreted — 1.9-2.5 s/round vs 0.6-0.75 s at
    bit-identical output; see the operator docstring.)"""
    f = facts(spark, sf_dir, "kmeans_lloyd_clusters")
    assert not f.joins, f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian
    assert "mapinpandas" in f.raw.lower()


def test_modularity_no_cartesian_bounded_joins(spark, sf_dir):
    """The modularity rollup's scale contract: LPA labels are behind a
    checkpoint (its per-round joins never stack into this plan); what
    remains is hash/merge joins on node keys plus the two 1-row scalar
    broadcasts (m) — no cartesian, bounded exchanges. The intra join
    is edge-list-sized, never |V|² (each side keyed on one endpoint)."""
    f = facts(spark, sf_dir, "copurchase_modularity")
    assert not f.has_cartesian
    assert f.has_partial_agg
    bnl = sum(1 for j in f.joins if j == "BroadcastNestedLoopJoin")
    assert bnl <= 2, f.joins  # the 1-row m scalar only
    assert f.n_exchanges <= 12, f.n_exchanges


def test_query_cost_attribution_matches_plan_facts(spark, sf_dir):
    """The cost-attribution monitor's rows must agree with plan_facts
    computed directly on the same queries (r9 VERDICT ask #4: the
    rows-only registry entry gets its correctness from THIS contract
    instead of a DuckDB twin), and the no-cartesian invariant must
    hold over whatever slice it reports."""
    from amazonmsk_emr_tem_data_spark.plans.inspect import plan_facts
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY
    from amazonmsk_emr_tem_data_spark.queries._curation import (
        query_cost_attribution,
    )

    names = ["q1_pricing_summary", "nation_revenue", "asof_latest_order"]
    rows = {
        r["query"]: r
        for r in query_cost_attribution(spark, sf_dir, names).collect()
    }
    assert set(rows) == set(names)
    for name in names:
        f = plan_facts(REGISTRY[name][0](spark, sf_dir))
        r = rows[name]
        assert r["n_exchanges"] == f.n_exchanges, name
        assert r["n_joins"] == len(f.joins), name
        assert r["n_broadcast_joins"] == sum(
            1 for j in f.joins if j == "BroadcastHashJoin"
        ), name
        assert not r["has_cartesian"], name
        # (no n_codegen_spans floor: under AQE the pre-execution
        # formatted plan often omits "codegen id" markers entirely)
        assert r["n_scans"] >= 1, name
        # parquet-backed scans must carry a real size estimate
        assert r["est_scan_bytes"] > 0, name


def test_query_cost_attribution_default_scope_is_bench(spark, sf_dir):
    """Default scope = BENCH_HEADLINE minus itself."""
    from amazonmsk_emr_tem_data_spark.queries import BENCH_HEADLINE
    from amazonmsk_emr_tem_data_spark.queries._curation import (
        query_cost_attribution,
    )

    got = {
        r["query"]
        for r in query_cost_attribution(spark, sf_dir).collect()
    }
    want = set(BENCH_HEADLINE) - {"query_cost_attribution"}
    assert got == want


def test_checksum_buckets_shuffle_digests_not_rows(spark, sf_dir):
    """The Merkle diff's scale contract: both sides collapse to 1024
    digest rows BEFORE any join (partial XOR aggregation map-side);
    the full-outer reconciliation joins digest tables, never
    documents. Bounded exchanges pin the collapse-first shape."""
    f = facts(spark, sf_dir, "table_checksum_buckets")
    assert f.has_partial_agg
    assert not f.has_cartesian
    assert f.n_exchanges <= 4, f.n_exchanges


def test_compaction_plan_is_metadata_bounded(spark, sf_dir):
    """The compaction planner's single-partition cumsum window runs on
    file METADATA (one row per file), never data — no joins anywhere,
    and the file-size aggregate combines map-side before the plan's
    only wide exchanges."""
    f = facts(spark, sf_dir, "shard_compaction_plan")
    assert not f.joins
    assert f.has_partial_agg


def test_km_survival_no_self_join_bounded_windows(spark, sf_dir):
    """The KM estimator's scale contract: risk sets come from ONE
    cumulative window over the (segment, day) aggregate — the order
    table never joins itself (the naive n_risk = COUNT per (t, dur>=t)
    inequality self-join would be O(n·days)). Joins are the custkey
    segment join plus broadcasts; nothing nested-loop except the 1-row
    max-date."""
    f = facts(spark, sf_dir, "customer_survival_km")
    assert f.has_partial_agg
    assert not f.has_cartesian
    assert f.joins.count("SortMergeJoin") <= 2, f.joins


def test_bitmap_shuffle_is_bucket_sized(spark, sf_dir):
    """Bitmap DAU/WAU: events collapse to (bucket, day) longs via
    map-side bit_or BEFORE any wide operation; the dense grid and
    7-day OR windows run at bitmap size. Partial aggregation must
    survive and nothing may degenerate to a cartesian."""
    f = facts(spark, sf_dir, "user_activity_bitmaps")
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_cohort_ltv_single_fact_shuffles_no_joins(spark, sf_dir):
    """Cohort LTV is window + aggregate over orders alone — no joins
    anywhere; the cumulative window partitions by cohort."""
    f = facts(spark, sf_dir, "cohort_ltv_curves")
    assert not f.joins
    assert f.has_partial_agg


def test_stock_balance_two_windows_share_one_sort(spark, sf_dir):
    """The clamp identity's selling point: both cumulative windows
    (running sum, then running min of it) use the SAME partition and
    order, so Catalyst plans them over ONE partkey exchange and ONE
    sort — a sequential fold would serialize, a second sort would
    double the dominant cost."""
    f = facts(spark, sf_dir, "part_stock_balance")
    assert not f.joins
    assert f.n_exchanges == 1, f.n_exchanges
    assert len(re.findall(r"\(\d+\) Sort", f.raw)) == 1, "windows must share the sort"


def test_weighted_median_two_phase_broadcast_locator(spark, sf_dir):
    """Two-phase exact weighted median: the full-data pass is a
    map-side-combinable histogram aggregate; the 3-row median-bucket
    locator comes back by BROADCAST; only the median bucket's slice is
    ever sorted by price. The naive one-window version sorted the
    whole table in |flags|=3 partitions (measured 46x at 100x) — a
    SortMergeJoin or a missing broadcast here is that regression
    returning."""
    f = facts(spark, sf_dir, "lineitem_weighted_median")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    assert f.has_partial_agg


def test_topk_ties_pretrims_map_side(spark, sf_dir):
    """dense_rank <= 3 must compile with WindowGroupLimit (Spark 3.5+)
    so each map task pre-trims to its local top ranks before the
    |priorities|=5-partition window sort — without it the 5 reducers
    sort the whole order table."""
    f = facts(spark, sf_dir, "topk_orders_with_ties")
    assert "WindowGroupLimit" in f.raw
    assert not f.joins


def test_k_anonymity_single_scan_audit(spark, sf_dir):
    """The privacy audit costs one map-side-combined aggregate over
    the quasi-identifier tuple plus a 1-row total broadcast — never a
    second customer scan per class."""
    f = facts(spark, sf_dir, "customer_k_anonymity")
    assert f.has_partial_agg
    assert not f.has_cartesian
    assert f.n_exchanges <= 2, f.n_exchanges


def test_global_sequence_broadcast_offsets_partitioned_windows(spark, sf_dir):
    """Two-phase global numbering: the data-side window partitions by
    (source, bucket) — NEVER the unpartitioned global window that
    serializes into one task — and the bucket-offset table comes back
    by broadcast. The only unpartitioned window allowed is the
    cumulative count over bucket METADATA (one row per 512 docs)."""
    f = facts(spark, sf_dir, "doc_global_sequence")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", f.raw)
    data_specs = [s for s in specs if "doc_id" in s and "bkt" in s]
    assert data_specs, "row-numbering window must partition by bucket"


def test_anotb_shares_the_kmv_pretrim(spark, sf_dir):
    """The A-not-B sketch difference rides _kmv_pairs_staged: the
    bottom-k WindowGroupLimit pre-trim and the sketch-rows-only
    pairing must survive in this consumer too."""
    f = facts(spark, sf_dir, "activity_anotb_kmv")
    assert "WindowGroupLimit" in f.raw
    assert "SortMergeJoin" not in f.joins
    assert not f.has_cartesian


def test_welch_pairs_join_moment_rows_only(spark, sf_dir):
    """Welch's t: the full-data pass is one map-side-combinable moment
    aggregate; the pairwise stage joins |types| rows (nested-loop on a
    tiny aggregate is fine, a sort-merge over events is not)."""
    f = facts(spark, sf_dir, "welch_t_event_types")
    assert f.has_partial_agg
    assert "SortMergeJoin" not in f.joins


def test_abc_classes_broadcast_offsets_partitioned_cumsum(spark, sf_dir):
    """ABC classification reuses the two-phase offset pattern for a
    descending global CUMSUM: revenue-bucket offsets broadcast back,
    the per-part window partitions by bucket — never a one-task global
    window over parts."""
    f = facts(spark, sf_dir, "part_abc_classes")
    assert "BroadcastHashJoin" in f.joins, f.joins
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", f.raw)
    data_specs = [s for s in specs if "part" in s and "bkt" in s]
    assert data_specs, "per-part cumsum must partition by revenue bucket"


def test_double_billing_single_window_no_self_join(spark, sf_dir):
    """The duplicate-invoice detector is ONE lag window over
    (customer, amount) — the O(n² per customer) self-join it replaces
    must not reappear."""
    f = facts(spark, sf_dir, "orders_double_billing")
    assert not f.joins
    assert f.n_exchanges == 1, f.n_exchanges


def test_textrank_no_cartesian_word_graph(spark, sf_dir):
    """TextRank's edge mining is two lead() reads per token (one
    doc-keyed window) — never a token self-join; PageRank's iterations
    are checkpoint-truncated, so the visible plan must stay small and
    cartesian-free."""
    f = facts(spark, sf_dir, "textrank_keywords")
    assert not f.has_cartesian
    assert "TakeOrderedAndProject" in f.raw


def test_negative_sampling_candidate_bounded_joins(spark, sf_dir):
    """Negative sampling's scale contract: candidates expand the
    CUSTOMER table x12 map-side (never events/lineitem), and both the
    existence and seen-ness joins are bounded by candidate rows; the
    1-row max-partkey broadcast must not become a shuffle."""
    f = facts(spark, sf_dir, "customer_negative_parts")
    assert not f.has_cartesian
    assert "LeftSemi" in f.raw and "LeftAnti" in f.raw
    assert f.has_partial_agg


def test_langid_calibration_single_scan(spark, sf_dir):
    """Calibration is one scan + one <=6-row aggregate; no joins."""
    f = facts(spark, sf_dir, "langid_margin_calibration")
    assert not f.joins
    assert f.has_partial_agg
    # ensure_parallelism's input repartition + the bucket aggregate
    assert f.n_exchanges <= 2, f.n_exchanges


def test_imputation_two_phase_broadcast_medians(spark, sf_dir):
    """Median imputation's scale contract: the histogram pass combines
    map-side, the locator and per-type medians come back by BROADCAST,
    and only the median bucket's slice is ever sorted — a sort-merge
    join or a per-type whole-table sort is the serialization trap the
    two-phase shape avoids."""
    f = facts(spark, sf_dir, "event_value_imputation")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_neyman_member_pick_partitioned_by_source(spark, sf_dir):
    """Neyman sampling: the member rank window partitions by source;
    the allocation table (|sources| rows) broadcasts back."""
    f = facts(spark, sf_dir, "neyman_allocation_sample")
    assert "BroadcastHashJoin" in f.joins, f.joins
    assert "hashpartitioning(source" in f.raw
    assert not f.has_cartesian


def test_ppr_checkpointed_iterations_takeordered(spark, sf_dir):
    """PPR's visible plan is post-checkpoint: a rank join over the
    materialized final iteration and a TakeOrderedAndProject top-100 —
    no cartesian, no global sort."""
    f = facts(spark, sf_dir, "ppr_part_recommendations")
    assert not f.has_cartesian
    assert "TakeOrderedAndProject" in f.raw


def test_winsorize_two_phase_broadcast_cuts(spark, sf_dir):
    """Winsorization shares the imputation/median two-phase contract:
    one histogram combine, broadcast cut tables, bucket-only sorts —
    no per-type whole-table ordering, no sort-merge join."""
    f = facts(spark, sf_dir, "event_value_winsorize")
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_inter_gaps_single_user_sort(spark, sf_dir):
    """Gap histogram: one user-keyed window sort (the shared
    sessionize shape) + one map-side-combinable (type, bucket)
    aggregate; no joins."""
    f = facts(spark, sf_dir, "inter_event_gaps")
    assert not f.joins
    assert f.has_partial_agg
    assert len(re.findall(r"\(\d+\) Sort", f.raw)) == 1


def test_region_share_windows_over_aggregate(spark, sf_dir):
    """Contribution shares: the share windows must run over the
    <= |nations|-row aggregate, so the plan's window sorts sit ABOVE
    the group-by (tiny input), and the dims broadcast."""
    f = facts(spark, sf_dir, "region_nation_share")
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_plans_md_not_stale():
    """PLANS.md must carry one audit row per registry query, in
    REGISTRY order — it went stale silently in r7 (6 queries added
    after the last regen had no rows). Regenerate with
    scripts/plan_report.py after adding or renaming queries (r7
    VERDICT ask #3)."""
    import os

    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    order = []
    with open(path) as f:
        for line in f:
            # exact header match: a bare "| query" prefix also swallows
            # the query_cost_attribution DATA row (r10 regression)
            if line.startswith("| ") and not line.startswith("| query |"):
                order.append(line.split("|")[1].strip())
    rows = set(order)
    reg = set(REGISTRY)
    missing = reg - rows
    extra = rows - reg
    assert not missing, (
        f"PLANS.md is stale — run scripts/plan_report.py; missing: "
        f"{sorted(missing)}"
    )
    assert not extra, f"PLANS.md has rows for unknown queries: {sorted(extra)}"
    # scripts/plan_report.py writes one row per query in REGISTRY order;
    # rows out of that order were patched in by hand
    assert order == list(REGISTRY), (
        "PLANS.md rows are not in REGISTRY order — regenerate it with "
        "scripts/plan_report.py"
    )


def test_ohlc_single_combined_aggregate(spark, sf_dir):
    """OHLC candles: one map-side-combined aggregate, one shuffle, no
    join, no window. min_by/max_by with a string order key plan as
    SortAggregate (Spark's implementation for non-primitive agg
    buffers) — the partial_min_by BEFORE the exchange is the contract:
    each map task reduces to one candle per (type, day) before any
    data moves; the per-partition sort is by group key, not a global
    sort."""
    f = facts(spark, sf_dir, "event_value_ohlc")
    assert not f.joins
    assert f.has_partial_agg
    assert f.n_exchanges == 1, "one shuffle on (type, day)"
    assert "partial_min_by" in f.raw and "partial_max_by" in f.raw


def test_ri_audit_broadcasts_dims_no_cartesian(spark, sf_dir):
    """The FK audit: dimension parents broadcast; lineitem->orders is
    the one honest big-big join; never a cartesian."""
    f = facts(spark, sf_dir, "referential_integrity_audit")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg


def test_rfm_two_phase_rank_broadcasts_offsets(spark, sf_dir):
    """RFM quintiles: the three global ranks must be the two-phase
    shape — bucket-histogram offsets broadcast back (never a single
    global-window sort over all customers)."""
    f = facts(spark, sf_dir, "customer_rfm_segments")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg


def test_copurchase_lift_bounded_basket_join(spark, sf_dir):
    """Market-basket lift: the pair self-join shuffles on orderkey
    (basket-bounded fanout); per-part counts and the order total
    broadcast back; never cartesian."""
    f = facts(spark, sf_dir, "part_copurchase_lift")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg


def test_open_orders_sweep_line_no_interval_join(spark, sf_dir):
    """The sweep line must never plan an interval self-join: deltas
    aggregate map-side and the running sum rides ONE sort over the
    date-domain-bounded relation."""
    f = facts(spark, sf_dir, "open_orders_daily")
    assert not f.has_cartesian
    assert f.has_partial_agg
    assert len(re.findall(r"\(\d+\) Sort\b", f.raw)) == 1


def test_bot_regularity_one_user_window(spark, sf_dir):
    """Regularity: one user-keyed window sort (the shared sessionize
    shape) + a map-side-combinable per-user aggregate; no joins."""
    f = facts(spark, sf_dir, "bot_regularity_score")
    assert not f.joins
    assert f.has_partial_agg
    assert len(re.findall(r"\(\d+\) Sort\b", f.raw)) == 1


def test_link_prediction_wedge_join_hub_capped(spark, sf_dir):
    """RA link prediction: wedge join + anti join on the pair
    relation, degree filter broadcast; top-N must be
    TakeOrderedAndProject, never a global sort of all candidates."""
    f = facts(spark, sf_dir, "copurchase_link_prediction")
    assert not f.has_cartesian
    assert "TakeOrderedAndProject" in f.raw


def test_gibberish_filter_map_only(spark, sf_dir):
    """Character-class heuristics are a pure map pass: zero exchanges,
    zero joins — the cheapest possible corpus filter."""
    f = facts(spark, sf_dir, "doc_gibberish_filter")
    assert f.n_exchanges == 0
    assert not f.joins


def test_burstiness_two_exchange_agg(spark, sf_dir):
    """Burstiness: (term, doc) rollup then term rollup — the same two
    map-side-combined exchanges as the inverted index; N broadcasts."""
    f = facts(spark, sf_dir, "token_burstiness")
    assert f.has_partial_agg
    assert not f.has_cartesian
    # the only joins allowed are the broadcast of the one-row N
    assert all(j.startswith("Broadcast") for j in f.joins)


def test_priority_drift_windows_over_aggregate(spark, sf_dir):
    """Mix drift: share windows must run over the |months|x|priorities|
    aggregate, never the fact table (sorts sit above the group-by)."""
    f = facts(spark, sf_dir, "orders_priority_drift")
    assert f.has_partial_agg
    assert not f.joins
    assert not f.has_cartesian


def test_ann_recall_audit_topk_bounded(spark, sf_dir):
    """The audit joins two k-bounded relations; no cartesian, and the
    ground-truth side must keep its broadcast-corpus shape."""
    f = facts(spark, sf_dir, "ann_recall_audit")
    assert not f.has_cartesian


def test_type_percentiles_broadcast_locators(spark, sf_dir):
    """Per-type percentiles: four cut locators broadcast back onto the
    observation relation — never a per-type whole-table sort; the
    histogram combines map-side."""
    f = facts(spark, sf_dir, "event_type_percentiles")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg


def test_hhi_two_combines_no_join(spark, sf_dir):
    """HHI: (part, supplier) rollup then part rollup, both
    map-side-combined; the DECIMAL ratio runs on |parts| rows."""
    f = facts(spark, sf_dir, "part_supplier_hhi")
    assert not f.joins
    assert f.has_partial_agg
    assert f.n_exchanges <= 2


def test_quantile_normalize_two_phase_ranks(spark, sf_dir):
    """Quantile normalization: both global numberings are the
    two-phase shape (bucket offsets broadcast, windows partitioned by
    bucket); only metadata may pass a single-partition exchange."""
    f = facts(spark, sf_dir, "quantile_normalize_quality")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins
    singles = re.findall(r"Exchange SinglePartition", f.raw)
    assert len(singles) <= 2, (
        f"corpus data must not serialize: {len(singles)} single-partition "
        "exchanges"
    )


def test_phrase_search_filters_before_join(spark, sf_dir):
    """Phrase search: the position join must touch only the phrase
    terms' postings (term filters below the join), and shuffle on
    doc_id — never a cartesian or a raw-text scan join."""
    f = facts(spark, sf_dir, "phrase_search")
    assert not f.has_cartesian
    assert f.has_partial_agg


def test_session_sample_map_side_filter(spark, sf_dir):
    """Coherent sampling: one user-keyed window pass + a hash filter;
    no joins at all."""
    f = facts(spark, sf_dir, "session_coherent_sample")
    assert not f.joins
    assert len(re.findall(r"\(\d+\) Sort\b", f.raw)) == 1


def test_churn_labels_broadcast_cutoff(spark, sf_dir):
    """Churn prep: the one-row cutoff broadcasts; features and labels
    are two combined aggregates joined on user."""
    f = facts(spark, sf_dir, "user_churn_labels")
    assert not f.has_cartesian
    assert f.has_partial_agg


def test_mmr_candidates_bounded_no_cartesian(spark, sf_dir):
    """MMR: the corpus appears only in the broadcast-query knn
    CANDIDATE stage (selection itself runs driver-side over the
    bounded candidate rows, so the returned frame is a literal). Pin
    the candidate stage's shape directly: broadcast queries, corpus
    never shuffles, no cartesian."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import knn_join
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    f = plan_facts(knn_join(emb, queries_df, k=20))
    assert not f.has_cartesian
    assert all(j.startswith("Broadcast") for j in f.joins)
    # and the returned literal stays join-free
    g = facts(spark, sf_dir, "mmr_diverse_topk")
    assert not g.joins and not g.has_cartesian


def test_regression_single_moment_combine(spark, sf_dir):
    """Exact OLS: one map-side-combined moment aggregate, one shuffle
    to |flags| rows; the DECIMAL closed forms run post-aggregate."""
    f = facts(spark, sf_dir, "discount_quantity_regression")
    assert not f.joins
    assert f.has_partial_agg
    assert f.n_exchanges == 1


def test_clustering_coeff_wedge_semi_join(spark, sf_dir):
    """Clustering coefficient: wedge join + LEFT SEMI triangle check
    against the pair set; degree filter broadcast; no cartesian."""
    f = facts(spark, sf_dir, "copurchase_clustering_coefficient")
    assert not f.has_cartesian
    assert "LeftSemi" in f.raw


def test_seasonality_dow_metadata_windows(spark, sf_dir):
    """DOW profile: one combine to 7 rows; share windows over the
    7-row aggregate."""
    f = facts(spark, sf_dir, "orders_seasonality_dow")
    assert not f.joins
    assert f.has_partial_agg


def test_rolling_7d_range_frame_over_daily_aggregate(spark, sf_dir):
    """RANGE-frame rolling revenue: one map-side combine to the date
    domain, then the interval frame over the tiny daily relation."""
    f = facts(spark, sf_dir, "daily_revenue_rolling_7d")
    assert not f.joins
    assert f.has_partial_agg
    assert "RANGE BETWEEN" in f.raw.upper() or "specifiedwindowframe(RangeFrame" in f.raw


def test_conversion_latency_asof_no_inequality_join(spark, sf_dir):
    """Conversion latency: the next-purchase lookup is the union-merge
    as-of (one user window) — no inequality join; the quantile
    locators broadcast."""
    f = facts(spark, sf_dir, "conversion_latency_quantiles")
    assert not f.has_cartesian
    assert "BroadcastHashJoin" in f.joins


def test_dedup_rate_two_exchange_hash_shape(spark, sf_dir):
    """Dedup-rate dashboard: (source, fp) combine then source rollup —
    both map-side combined; shuffles carry the hash, never text."""
    f = facts(spark, sf_dir, "doc_dedup_rate_by_source")
    assert not f.joins
    assert f.has_partial_agg
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", f.raw):
        assert "text" not in m.group(1)


def test_basket_histogram_two_combines(spark, sf_dir):
    """Basket-size histogram: per-order distinct rollup + k rollup,
    both combined; share window over the |k|-row aggregate."""
    f = facts(spark, sf_dir, "order_basket_size_histogram")
    assert not f.joins
    assert f.has_partial_agg


def test_curation_funnel_no_cartesian_counts_union(spark, sf_dir):
    """Funnel report: five one-row stage counts unioned — joins may
    appear only inside the decontamination stage (broadcast gram
    semi-join), never a cartesian; partial agg on every count."""
    f = facts(spark, sf_dir, "curation_funnel_report")
    assert f.has_partial_agg
    assert "CartesianProduct" not in f.raw


def test_degree_histogram_hash_only_shuffles(spark, sf_dir):
    """Degree histogram: after LSH pair generation, the degree and
    histogram rollups shuffle doc ids and counts — document text must
    never enter an exchange."""
    import re

    f = facts(spark, sf_dir, "dedup_graph_degree_histogram")
    assert f.has_partial_agg
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", f.raw):
        assert "text" not in m.group(1)


def test_fulfillment_latency_broadcast_cuts(spark, sf_dir):
    """Fulfillment SLO: one orderkey combine feeds the day-grid
    histogram; the percentile locators and the n join are broadcasts
    over |priorities|-row aggregates — no sort-merge join, no
    cartesian."""
    f = facts(spark, sf_dir, "order_fulfillment_latency")
    assert f.has_partial_agg
    assert "CartesianProduct" not in f.raw
    assert "SortMergeJoin" not in f.joins


def test_simhash_bit_bias_single_wide_combine(spark, sf_dir):
    """Bit-bias monitor: the 60 conditional bit-sums ride the sketch's
    ONE map-side-combined aggregate; the unpivot is a projection, so
    the plan carries no joins at all."""
    f = facts(spark, sf_dir, "simhash_bit_bias")
    assert not f.joins
    assert f.has_partial_agg


def test_embedding_dim_profile_one_exchange(spark, sf_dir):
    """Dimension profile: posexplode → ONE combine on dim_idx. A
    second exchange or a join would mean the profile stopped being a
    single aggregation pass."""
    f = facts(spark, sf_dir, "embedding_dimension_profile")
    assert not f.joins
    assert f.has_partial_agg
    assert f.n_exchanges == 1


def test_hard_negatives_broadcast_anchor_side(spark, sf_dir):
    """Contrastive mining is the knn_join shape: the anchor slice is
    broadcast, the corpus never shuffles for the join; ranking windows
    are the only exchanges."""
    f = facts(spark, sf_dir, "embedding_hard_negatives")
    assert all(j.startswith("Broadcast") for j in f.joins), f.joins
    assert not f.has_cartesian


def test_nn_descent_no_cartesian(spark, sf_dir):
    """Descent rounds are hash joins over bounded candidate relations
    (≤16k² per node) — an all-pairs fallback would surface as a
    cartesian product."""
    f = facts(spark, sf_dir, "nn_descent_knn_graph")
    assert not f.has_cartesian
    assert f.joins, "candidate scoring must plan hash joins"


def test_mojibake_audit_one_exchange_no_regex(spark, sf_dir):
    """The artifact audit is pure codegen'd string expressions + ONE
    map-side-combined aggregate to |sources| rows."""
    f = facts(spark, sf_dir, "doc_mojibake_audit")
    assert not f.joins
    assert f.has_partial_agg
    assert f.n_exchanges == 1


def test_top_eigenvector_is_bounded_model_state(spark, sf_dir):
    """The returned frame is driver model state (64 rows built from
    the collected 64×64 Gram) — its plan must be a local scan with
    ZERO runtime exchanges; the corpus pass already happened inside
    the one Arrow Gram aggregation."""
    f = facts(spark, sf_dir, "embedding_top_eigenvector")
    assert f.n_exchanges == 0
    assert not f.joins


def test_cluster_medoids_one_combine_no_joins(spark, sf_dir):
    """Medoid selection: Arrow assignment rows + ONE map-side-combined
    aggregate whose medoid rides a struct min — no join, no window
    over data rows."""
    f = facts(spark, sf_dir, "kmeans_cluster_medoids")
    assert not f.joins
    assert f.has_partial_agg


def test_spectral_outliers_takeordered_no_joins(spark, sf_dir):
    """Spectral outliers: scan-side Arrow scoring + a top-20
    TakeOrdered; the only window ranks the 20 surviving rows."""
    f = facts(spark, sf_dir, "embedding_spectral_outliers")
    assert not f.joins
    assert not f.has_cartesian


def test_l_diversity_broadcast_customer_metadata_window(spark, sf_dir):
    """l-diversity: customers broadcast into the orders scan; the
    entropy window runs over the |classes|x|priorities| combine, never
    raw orders."""
    f = facts(spark, sf_dir, "customer_l_diversity")
    assert "BroadcastHashJoin" in f.joins
    assert f.has_partial_agg
    assert not f.has_cartesian


def test_label_drift_single_combine_no_joins(spark, sf_dir):
    """Centroid drift: posexplode + ONE conditional-sum combine to
    |labels|*d rows; both halves ride the same aggregate."""
    f = facts(spark, sf_dir, "embedding_label_centroid_drift")
    assert not f.joins
    assert f.has_partial_agg


def test_running_distinct_no_window_over_raw_events(spark, sf_dir):
    """Audience growth: the first-occurrence identity means NO window
    touches raw events — one (type,user) combine, one rollup, then the
    running sum over the metadata relation."""
    f = facts(spark, sf_dir, "running_distinct_users")
    assert not f.joins
    assert f.has_partial_agg


def test_trigrams_one_user_shuffle_metadata_rank(spark, sf_dir):
    """Trigram mining: the lead() windows ride ONE user_id shuffle;
    the rank window runs over the <=|types|^3 combine, and the total
    is a 1-row broadcast."""
    f = facts(spark, sf_dir, "session_event_trigrams")
    assert f.has_partial_agg
    assert not f.has_cartesian or all(
        j.startswith("Broadcast") for j in f.joins
    )


def test_curation_delta_no_cartesian(spark, sf_dir):
    """The snapshot-membership join is a doc_id equi-join over the two
    curated sets; a cartesian product would mean the chain reuse
    broke."""
    f = facts(spark, sf_dir, "incremental_curation_delta")
    assert not f.has_cartesian


def test_harmonic_no_cartesian_bounded_sources(spark, sf_dir):
    """Harmonic centrality: per-round frontier joins are equi-joins on
    node ids; the bounded source slice must never plan a cartesian."""
    f = facts(spark, sf_dir, "part_harmonic_centrality")
    assert not f.has_cartesian


def test_hyperball_no_cartesian(spark, sf_dir):
    """HyperBall: register rounds are equi-joins of the sketch onto
    repartitioned+checkpointed edge rows (r12: the per_source_harmonic
    shape — no collect_list hub buffers) plus distinct + bottom-k
    windows — never a cartesian; the final agg partial-aggregates."""
    f = facts(spark, sf_dir, "copurchase_hyperball")
    assert not f.has_cartesian
    assert f.has_partial_agg


def test_ivfpq_persisted_serve_is_broadcast_only(spark, sf_dir):
    """The persisted-serve path keeps the fit path's plan contract:
    the corpus joins only against broadcast model state (probed
    cells + LUTs); loading the model from parquet must not introduce
    a corpus-side shuffle join."""
    f = facts(spark, sf_dir, "ivfpq_persisted_topk")
    assert not f.has_cartesian
    non_broadcast = [
        j for j in f.joins
        if not j.startswith("Broadcast")
    ]
    assert not non_broadcast, non_broadcast


def test_dedup_signal_agreement_no_cartesian(spark, sf_dir):
    """The agreement audit joins the two VERIFIED pair relations on
    the pair key (full outer) and the source dim on ids — all
    equi-joins; the candidate generators underneath keep their own
    banded/capped contracts."""
    f = facts(spark, sf_dir, "dedup_signal_agreement")
    assert not f.has_cartesian
    assert f.has_partial_agg


def test_weighted_priority_sample_shuffle_free(spark, sf_dir):
    """A-ES priority sampling: the rank key is a column expression in
    the scan stage and the global top-n compiles to
    TakeOrderedAndProject (per-partition heaps + one driver merge) —
    zero exchanges, zero joins. At 100 TB this must stay a single map
    pass over the corpus."""
    f = facts(spark, sf_dir, "weighted_priority_sample")
    assert "TakeOrderedAndProject" in f.raw, (
        "top-n must compile to TakeOrderedAndProject, not a global sort"
    )
    assert f.n_exchanges == 0, "A-ES sampling must be shuffle-free"
    assert not f.joins


def test_stratified_priority_sample_single_exchange(spark, sf_dir):
    """Stratified A-ES: the rank key computes in the scan stage and the
    per-stratum top-k is one window — exactly one exchange (the stratum
    key), no joins. At 100 TB only (id, source, key) triples shuffle."""
    f = facts(spark, sf_dir, "stratified_priority_sample")
    assert f.n_exchanges == 1, "stratified A-ES = one stratum shuffle"
    assert not f.joins


def test_bbit_minhash_audit_consolidated_plan(spark, sf_dir):
    """b-bit audit after the r13 consolidation (14 shuffles/BHJ×94 →
    exchange-free final stage): the shingle→signature aggregate runs
    ONCE behind an eager localCheckpoint of the bounded audit tables
    (one row per audited doc — driver-safe by the same bound that
    makes the audit an audit), so the final plan joins checkpointed
    per-doc signatures with broadcasts only — zero exchanges, no
    sort-merge, nothing cartesian. The shuffle that remains in the
    materialization stage carries K longs per doc, never shingles
    (pinned structurally: no shingle column survives to the audited
    tables)."""
    f = facts(spark, sf_dir, "bbit_minhash_audit")
    assert f.n_exchanges == 0, "post-checkpoint stage is exchange-free"
    assert f.joins and all(j == "BroadcastHashJoin" for j in f.joins)
    assert not f.has_cartesian
