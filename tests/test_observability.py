"""Round-9 pipeline-observability and sparsification contracts:
the curation funnel, the dedup-graph degree histogram, the sketch
bit-bias monitor, the embedding dimension profile, and the kNN edge
sparsifier that part_kcore_members peels."""

from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.queries import REGISTRY
from amazonmsk_emr_tem_data_spark.queries._graph_ann import _knn_sparsify_edges
from amazonmsk_emr_tem_data_spark.queries._curation import (
    corpus_curation_pipeline,
    curation_funnel_report,
)
from amazonmsk_emr_tem_data_spark.queries._round8 import (
    dedup_graph_degree_histogram,
)
from amazonmsk_emr_tem_data_spark.queries._northstar import (
    embedding_dimension_profile,
    simhash_bit_bias,
)
from amazonmsk_emr_tem_data_spark.sources.files import load_table


def test_curation_funnel_is_monotone_and_matches_pipeline(spark, sf_dir):
    """Funnel counts must be non-increasing stage over stage, and the
    final (decontaminated) stage must equal the row count of the
    composed pipeline itself — the funnel and the pipeline share one
    stage builder, and this pins that the report really describes the
    pipeline's survivors."""
    rows = {
        r["stage_ord"]: r for r in curation_funnel_report(spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 3, 4, 5]
    counts = [rows[i]["n_docs"] for i in sorted(rows)]
    assert counts == sorted(counts, reverse=True)
    assert rows[1]["retained_ppm"] == 1_000_000
    for i in range(2, 6):
        prev, cur = counts[i - 2], counts[i - 1]
        assert rows[i]["retained_ppm"] == (1_000_000 * cur) // prev
    assert counts[4] == corpus_curation_pipeline(spark, sf_dir).count()


def test_degree_histogram_masses_add_up(spark, sf_dir):
    """The degree histogram must partition the corpus (Σ n_docs =
    |documents|) and its edge mass must equal twice the pair count
    (Σ degree·n_docs = 2·|pairs| — every undirected pair contributes
    two endpoint-degree units)."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    hist = dedup_graph_degree_histogram(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in hist) == docs.count()
    edge_mass = sum(r["degree"] * r["n_docs"] for r in hist)
    assert edge_mass == 2 * minhash_lsh_pairs(docs, threshold=0.6).count()


def test_simhash_bit_bias_covers_all_bits(spark, sf_dir):
    """Exactly one row per sketch bit; set counts bounded by the
    corpus; ppm fields consistent with n_set/n_docs."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    rows = simhash_bit_bias(spark, sf_dir).collect()
    assert sorted(r["bit"] for r in rows) == list(range(60))
    for r in rows:
        assert 0 <= r["n_set"] <= n_docs
        assert r["set_ppm"] == (1_000_000 * r["n_set"]) // n_docs
        assert r["bias_ppm"] == (
            abs(2 * r["n_set"] - n_docs) * 1_000_000 // n_docs
        )


def test_embedding_dimension_profile_shape_and_variance(spark, sf_dir):
    """One row per dimension, every row covering every vector, with
    non-negative variance and extrema bracketing the mean."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    rows = embedding_dimension_profile(spark, sf_dir).collect()
    assert sorted(r["dim_idx"] for r in rows) == list(range(dim))
    for r in rows:
        assert r["n"] == n_vec
        assert r["var_e12"] >= 0
        assert r["min_e6"] <= r["mean_e6"] <= r["max_e6"]


def test_packing_report_matches_pipeline_pack_ids(spark, sf_dir):
    """The budget's n_seqs per (split, shard) must equal the number of
    distinct pack ids the pipeline actually assigns (the packing is a
    contiguous prefix sum, so max(pack_id)+1 == ceil(tokens/2048)),
    and its token totals must reconcile with the pipeline rows."""
    from collections import defaultdict

    from amazonmsk_emr_tem_data_spark.queries._curation import (
        packing_efficiency_report,
    )

    report = {
        (r["split"], r["shard"]): r
        for r in packing_efficiency_report(spark, sf_dir).collect()
    }
    packs = defaultdict(set)
    tokens = defaultdict(int)
    for r in corpus_curation_pipeline(spark, sf_dir).collect():
        packs[(r["split"], r["shard"])].add(r["pack_id"])
        tokens[(r["split"], r["shard"])] += r["n_tokens"]
    assert set(report) == set(packs)
    for key, rep in report.items():
        assert rep["n_tokens"] == tokens[key]
        assert rep["n_seqs"] == len(packs[key]) == max(packs[key]) + 1
        assert 0 <= rep["pad_waste_ppm"] < 1_000_000


def test_knn_sparsify_keeps_either_endpoint_edges(spark):
    """The sparsifier's semantics on a hand-built star + triangle:
    every node keeps its top-knn strongest edges; an edge survives if
    EITHER side keeps it, so a leaf's only edge to a saturated hub
    always survives (no orphaned nodes), while the hub's own
    weakest surplus edges drop only when NEITHER side ranks them."""
    # hub 0 with leaves 1..4 (weights 40, 30, 20, 10); leaf-leaf edge
    # (3, 4) with weight 5
    edges = [(0, 1, 40), (0, 2, 30), (0, 3, 20), (0, 4, 10), (3, 4, 5)]
    df = spark.createDataFrame(edges, "a long, b long, w long")
    kept = {
        (r["a"], r["b"])
        for r in _knn_sparsify_edges(df, knn=2).collect()
    }
    # hub keeps (0,1), (0,2); leaves 3 and 4 each keep their hub edge
    # from their own side -> all four hub edges survive
    assert {(0, 1), (0, 2), (0, 3), (0, 4)} <= kept
    # (3,4) is each leaf's 2nd-strongest edge -> kept by both sides
    assert (3, 4) in kept
    kept1 = {
        (r["a"], r["b"])
        for r in _knn_sparsify_edges(df, knn=1).collect()
    }
    # at knn=1 the weak leaf-leaf edge loses both slots and drops;
    # hub edges survive via the leaf side
    assert (3, 4) not in kept1
    assert {(0, 1), (0, 2), (0, 3), (0, 4)} <= kept1


def test_dedup_clusters_rep_level_cc_groups_exact_copies(spark):
    """Rep-level CC (r9): exact copies and near-dups must land in one
    cluster labeled by the GLOBAL min doc id even though the iterative
    propagation never sees member-level pairs. Three identity groups
    of one content + an isolated doc: one cluster of 6 with
    cluster_id = 1, one singleton."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import dedup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base), (4, base), (6, base),            # identity group A
        (2, base + " iota"), (5, base + " iota"),   # identity group B
        (3, base + " iota kappa"),                  # near-dup of B
        (9, "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_clusters(docs, 0.5).collect()}
    big = {d for d in out if out[d]["cluster_id"] == 1}
    assert big == {1, 2, 3, 4, 5, 6}
    assert all(out[d]["cluster_size"] == 6 for d in big)
    assert out[1]["is_canonical"] and not out[4]["is_canonical"]
    assert out[9]["cluster_id"] == 9 and out[9]["cluster_size"] == 1


def test_dedup_clusters_matches_pairs_params():
    """The clusters query and the pairs query must run identical
    candidate generation (r9 ADVICE): both take their LSH tuning from
    the MINHASH_* module constants, so a retune of one can never drift
    the other. A tuning value that is still a parameter of either entry
    point defaults to its constant; one that is not reads the constant
    in the body."""
    import inspect

    from amazonmsk_emr_tem_data_spark.operators import dedup as d

    expected = {
        "num_hashes": "MINHASH_NUM_HASHES",
        "k": "MINHASH_SHINGLE_K",
        "min_collisions": "MINHASH_MIN_COLLISIONS",
        "max_bucket_size": "MINHASH_MAX_BUCKET_SIZE",
    }
    body = inspect.getsource(d._minhash_rep_pairs).split('"""')[-1]
    for fn in (d.minhash_lsh_pairs, d._minhash_rep_pairs):
        params = inspect.signature(fn).parameters
        for name, const in expected.items():
            if name in params:
                assert params[name].default == getattr(d, const), (
                    fn.__name__, name
                )
            else:
                assert const in body, (fn.__name__, name)
    # dedup_clusters must not override any of them
    src = inspect.getsource(d.dedup_clusters)
    assert "_minhash_rep_pairs(reps, threshold)" in src


def test_dedup_clusters_releases_caches(spark):
    """dedup_clusters must leave NOTHING in the session cache manager
    (r9 ADVICE: the shingle cache and the pairs cache leaked into
    executor storage for the session lifetime). The shingle sets and
    the rep-pair relation are localCheckpoint'ed (ContextCleaner-scoped)."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import dedup_clusters

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "unrelated words over here")],
        "doc_id long, text string",
    )
    assert dedup_clusters(docs, 0.5).count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
