"""Round-14 (optimization round 2) pins.

Covers:
- score_pairs_cosine NULL/NaN element contract (r13 ADVICE medium +
  both lows): element-NULL vectors yield cos_sim NULL (the JVM
  ``cosine`` expression's behavior — the r13 slow path leaked NaN,
  which passes every ``>= threshold`` filter under NaN-largest
  semantics); NaN ELEMENTS yield NaN, deliberately matching the JVM
  expression.
- checkpoint_stage both modes (r13 VERDICT ask #4): default =
  localCheckpoint; SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir> = reliable
  checkpoint into that dir (survives executor loss at scale); both
  truncate the plan, and staging an explicitly projected relation
  keeps the upstream scan's pruned ReadSchema.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F


def _nan_eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b


def test_score_pairs_cosine_element_null_matches_jvm(spark):
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        cosine,
        score_pairs_cosine,
    )

    nan = float("nan")
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),  # clean pair
        (2, [1.0, None, 3.0], [4.0, 5.0, 6.0]),  # a elem-NULL -> NULL
        (3, [1.0, 2.0, 3.0], [None, 5.0, 6.0]),  # b elem-NULL -> NULL
        (4, [1.0, None, 3.0], [None, 5.0, 6.0]),  # both -> NULL
        (5, [nan, 2.0, 3.0], [4.0, 5.0, 6.0]),  # NaN element -> NaN
        (6, None, [1.0, 2.0, 3.0]),  # whole-NULL side -> NULL
        (7, [1.0, 2.0], [1.0, 2.0, 3.0]),  # ragged -> NULL
        (8, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector -> NULL
        (9, [2.0, 1.0, 0.5], [2.0, 1.0, 0.5]),  # clean pair
    ]
    pairs = spark.createDataFrame(
        rows, "pid long, a array<double>, b array<double>"
    ).coalesce(1)  # one Arrow batch: NULL-bearing -> the slow path

    got = {
        r["pid"]: r["cos_sim"]
        for r in score_pairs_cosine(pairs, "a", "b", ("pid",)).collect()
    }
    want = {
        r["pid"]: r["cos_sim"]
        for r in pairs.select(
            "pid", cosine(F.col("a"), F.col("b")).alias("cos_sim")
        ).collect()
    }
    assert len(got) == len(rows)
    for pid in want:
        assert _nan_eq(got[pid], want[pid]), (pid, got[pid], want[pid])
    # the ADVICE repro: element-NULL rows are NULL on BOTH engines, so
    # a dirty embedding can no longer pass a near-dup threshold filter
    # through the scorer alone
    for pid in (2, 3, 4, 6, 7, 8):
        assert got[pid] is None
    assert math.isnan(got[5])  # NaN element: NaN, as the JVM computes
    scored = score_pairs_cosine(pairs, "a", "b", ("pid",))
    passing = {
        r["pid"] for r in scored.filter(F.col("cos_sim") >= 0.9).collect()
    }
    assert 2 not in passing and 3 not in passing and 6 not in passing

def test_checkpoint_stage_local_mode_default(spark, monkeypatch):
    from amazonmsk_emr_tem_data_spark.sources.files import checkpoint_stage

    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    df = spark.range(0, 100).withColumn("x", F.col("id") * 2)
    out = df.transform(checkpoint_stage)
    # materialized + lineage truncated: the plan is a scan of the
    # checkpointed relation, not the range+project
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "Range" not in plan
    assert sorted(r["x"] for r in out.collect()) == [2 * i for i in range(100)]


def test_checkpoint_stage_reliable_mode(spark, monkeypatch, tmp_path):
    import os

    from amazonmsk_emr_tem_data_spark.sources.files import checkpoint_stage

    ckdir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ckdir)
    df = spark.range(0, 50).withColumn("y", F.col("id") + 7)
    out = df.transform(checkpoint_stage)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert sorted(r["y"] for r in out.collect()) == [i + 7 for i in range(50)]
    # the reliable checkpoint actually wrote recoverable blocks under
    # the env-given dir (this is what a lost executor re-reads)
    ckroot = spark.sparkContext.getCheckpointDir()
    assert ckroot is not None and ckroot.startswith("file:")
    found = []
    for base, _dirs, names in os.walk(ckdir):
        found += [os.path.join(base, n) for n in names]
    assert found, f"no checkpoint files under {ckdir}"


def test_checkpoint_stage_preserves_upstream_pruning(spark, sf_dir):
    """Staged relations are explicitly projected, so the parquet scan
    UPSTREAM of the checkpoint boundary reads only those columns —
    the PLANS.md 'checkpoint staging' fact (r13 VERDICT ask #4)."""
    from amazonmsk_emr_tem_data_spark.sources.files import (
        checkpoint_stage,
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "source")
    # capture the scan's ReadSchema of the plan being materialized
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "doc_id" in plan
    assert "text" not in plan.split("ReadSchema")[-1][:400], plan
    out = staged.transform(checkpoint_stage)
    assert out.columns == ["doc_id", "source"]

def test_kmeans_fit_k_row_reduce_bit_identical(spark, sf_dir, monkeypatch):
    """r14 (r13 VERDICT ask #2): the Lloyd fit's round reduce is
    scale-adaptive — a driver collect while the partial set is tiny, a
    k-row groupBy sum when the input partition count would make the
    collect driver-heavy. int64 sums are exact under any association,
    so BOTH paths must equal the driver-side Python reduce bit for
    bit."""
    from amazonmsk_emr_tem_data_spark.queries import _analytics
    from amazonmsk_emr_tem_data_spark.queries._analytics import (
        _EMB_DIM,
        _KMEANS_K,
        _kmeans_fit_centroids,
    )
    from amazonmsk_emr_tem_data_spark.operators.clustering import (
        lloyd_round_partials,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import (
        ensure_parallelism,
        load_table,
    )

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings")).cache()
    got = _kmeans_fit_centroids(emb, rounds=2)
    # force the wide path (k-row spark-side aggregate): any nonzero
    # partition count now exceeds the collect budget
    monkeypatch.setattr(_analytics, "_KMEANS_COLLECT_MAX_ROWS", 0)
    got_wide = _kmeans_fit_centroids(emb, rounds=2)
    assert got == got_wide  # bit-identical across reduce orders

    # driver-side Python-reduce twin (the r13 form)
    init = emb.orderBy("vec_id").limit(_KMEANS_K).collect()
    want = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init)
    ]
    for _ in range(2):
        part = lloyd_round_partials(emb, want, with_grid=True)
        acc: dict[int, list[int]] = {}
        for r in part.collect():
            a = acc.setdefault(int(r["cluster"]), [0] * (_EMB_DIM + 1))
            a[0] += r["n"]
            for i in range(_EMB_DIM):
                a[i + 1] += r[f"s{i}"]
        want = sorted(
            (cid, [(a[i + 1] / 1e9) / a[0] for i in range(_EMB_DIM)])
            for cid, a in acc.items()
        )
    assert got == want  # bit-identical floats, not approx
    emb.unpersist()


def test_nn_descent_fused_rev_sample_identical(spark):
    """r14: the fused staged relation's rrk (row_number over
    partitionBy(b), orderBy(md5(b|a), a)) selects exactly the rows the
    r13 standalone reverse-window selected (partitionBy(a'), orderBy
    (md5(a'|b'), b') over the REVERSED frame)."""
    from pyspark.sql import Window
    from amazonmsk_emr_tem_data_spark.functions.text import md5_hash64

    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 40) for b in range(1, 40)
         if a != b and (a * 7 + b * 13) % 5 < 2],
        "a long, b long",
    )
    rev_k = 3
    # r13 formulation: reverse first, then window
    wrev_old = Window.partitionBy("a").orderBy("ek", "b")
    old = (
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        .withColumn(
            "ek", md5_hash64(F.concat_ws("|", F.col("a"), F.col("b")))
        )
        .withColumn("rrk", F.row_number().over(wrev_old))
        .filter(F.col("rrk") <= rev_k)
        .select("a", "b")
    )
    # r14 formulation: rank on the un-reversed rows, reverse after
    wrev_new = Window.partitionBy("b").orderBy("ek", "a")
    new = (
        edges.withColumn(
            "ek", md5_hash64(F.concat_ws("|", F.col("b"), F.col("a")))
        )
        .withColumn("rrk", F.row_number().over(wrev_new))
        .filter(F.col("rrk") <= rev_k)
        .select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )

def test_nn_descent_prefilter_dim_derived_default(spark):
    """r14: prefilter=None derives the default from the data's
    dimensionality — off at dim 64 (measured-rejected regime), on at
    dim >= 512 (measured-winning regime)."""
    from amazonmsk_emr_tem_data_spark.operators.similarity import (
        nn_descent_graph,
    )

    def emb(dim):
        rows = [
            (i, [float((i * 7 + j) % 13) - 6.0 for j in range(dim)])
            for i in range(1, 30)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def plan(df):
        import re

        s = df._jdf.queryExecution().executedPlan().toString()
        # strip per-invocation ids (expression #N, RDD [N],
        # plan_id=N) so plan SHAPES compare
        return re.sub(r"#\d+|\[\d+\]|plan_id=\d+", "#", s)

    lo = emb(64)
    assert plan(nn_descent_graph(lo, k=3, iters=1)) == plan(
        nn_descent_graph(lo, k=3, iters=1, prefilter=False)
    )
    hi = emb(512)
    auto_hi = plan(nn_descent_graph(hi, k=3, iters=1))
    assert auto_hi == plan(nn_descent_graph(hi, k=3, iters=1, prefilter=True))
    assert auto_hi != plan(nn_descent_graph(hi, k=3, iters=1, prefilter=False))
