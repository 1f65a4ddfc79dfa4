"""Distributed embedding clustering + semantic deduplication.

North-star: cluster-based corpus curation. SemDeDup (Abbas et al.,
2023, arXiv:2303.09540) deduplicates web-scale corpora by k-means
clustering the embedding space and removing near-identical pairs
WITHIN clusters — turning an O(n²) all-pairs cosine problem into
O(Σ cell²), the same bounded-bucket trick LSH plays for text.

Two layers:

- :func:`kmeans_fit` — full-data distributed Lloyd's (spherical):
  assignment is a scan-side argmax over k broadcast centroid literals
  (JVM-side column math, no UDF, no shuffle); the update step reduces
  per-(cell, dimension) means with ONE groupBy over posexploded
  vector components. Only the model state (k×d floats) ever reaches
  the driver per round — the canonical "broadcast model, reduce
  statistics" iteration. Unlike ``similarity.kmeans_centroids`` (the
  IVF recipe: sample-trained, driver numpy), this trains on ALL
  vectors and scales with the cluster, not the driver.
- :func:`semantic_dedup` — SemDeDup: fit/assign cells, score cosine
  pairs within cells only, connected-components the near-dup graph
  (reusing dedup.connected_components, fast union-find path), keep
  the min-id representative per component.

Determinism: init = the k lowest-id vectors, iteration count fixed —
no RNG anywhere, so results are reproducible run-to-run and testable
against a sequential numpy reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.files import checkpoint_stage, ensure_parallelism
from .similarity import KMEANS_ITERS, with_ivf_cell


def _normalized(vec_col: str):
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.transform(v, lambda x: x / F.greatest(n, F.lit(1e-12)))


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = KMEANS_ITERS,
) -> list[list[float]]:
    """Full-data distributed spherical k-means; returns k unit-norm
    centroids. Per round: scan-side assignment (broadcast centroids) +
    one (cell, dim) shuffle of partial sums; k×d floats to the driver."""
    df = ensure_parallelism(embeddings).select(
        "vec_id", _normalized("embedding").alias("v")
    ).cache()
    init = df.orderBy("vec_id").limit(k).select("v").collect()
    centroids = [list(r["v"]) for r in init]
    try:
        for _ in range(iters):
            assigned = with_ivf_cell(df, centroids, vec_col="v")
            # one flat aggregation with d long accumulators per cell
            # (no row explosion: a posexplode shuffled d rows per
            # vector; this ships d partial sums per partition instead —
            # measured 1.4x faster locally, and strictly less shuffle
            # at scale). Component sums land on a 1e-9 grid as longs
            # so the reduction is exact integer math: centroids are
            # bit-reproducible across partitionings AND engines (the
            # DuckDB oracle sums in a different order; a double sum
            # would drift in the last ulp). Rounding is floor(x*G + .5)
            # — ONE convention shared by this Spark fit, the numpy fit
            # (similarity.kmeans_centroids), and the SQL twin
            # (queries._kmeans_cte_chain); np.round/F.round/duckdb
            # round disagree on exact .5 grid points (half-to-even vs
            # HALF_UP vs half-away-from-zero). Unit-norm keeps |x| <= 1
            # so each grid value is <= ~1e9: an int64 sum holds ~9e9
            # rows/cell even at full |x| = 1 magnitude (Spark's
            # non-ANSI sum(long) wraps silently on overflow while
            # DuckDB promotes to HUGEINT — the 1e12 grid this replaced
            # had only ~9.2M rows/cell of true headroom).
            dim = len(centroids[0])
            # agg columns as SQL strings (r13): the Column-op form
            # issued ~6 py4j round-trips per dimension per round; each
            # F.expr is one JVM parse of the identical expression
            # (element_at is 1-based in both forms; 0.5D keeps the
            # literal DOUBLE — a bare 0.5 parses as DECIMAL(1,1)).
            row_sums = (
                assigned.groupBy("ivf_cell")
                .agg(
                    *[
                        F.expr(
                            f"sum(cast(floor(element_at(v, {i + 1})"
                            f" * 1.0E9 + 0.5D) as bigint))"
                        ).alias(f"d{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            by_cell = {
                r["ivf_cell"]: [r[f"d{i}"] / 1e9 for i in range(dim)]
                for r in row_sums
            }
            new = []
            for c in range(k):
                vec = by_cell.get(c)
                if not vec:
                    new.append(centroids[c])  # empty cell keeps its seed
                    continue
                nrm = max(sum(x * x for x in vec) ** 0.5, 1e-12)
                new.append([x / nrm for x in vec])
            centroids = new
    finally:
        df.unpersist()
    return centroids


def lloyd_round_partials(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    with_grid: bool = True,
) -> DataFrame:
    """One fused Lloyd round as an Arrow ``mapInPandas`` partial
    aggregate: per input batch, assign every vector to its nearest
    centroid and emit ≤ k rows of (cluster, count, 1e-6-grid inertia
    sum, and — when ``with_grid`` — the 64 1e-9-grid component sums
    the centroid update needs). The caller reduces the ≤ k·partitions
    partial rows with one tiny groupBy-sum.

    Why Python here, when the repo rule is "stay JVM-side": the
    JVM-side formulation of the fold dot product is ``F.aggregate``,
    a higher-order function that is a **CodegenFallback** expression —
    Spark evaluates the lambda per element interpreted, outside
    whole-stage codegen (and the unrolled 512-node element_at chain
    measures SLOWER still: it blows the codegen method budget and
    falls back to interpreted Catalyst eval). Measured on the sf0.1
    corpus (50k×64, cached): 1.9–2.5 s per expression round vs
    0.6–0.75 s per Arrow round at bit-identical output. This is the
    guide's documented exception: Arrow-batched numpy where the
    built-in genuinely isn't vectorized.

    Bit-exactness contract (the oracle hash depends on it): every
    float op replicates the expression twin's IEEE-754 sequence —
    - dot products are LEFT FOLDS: ``acc = (acc + x_i·c_i)`` runs as
      64 vectorized numpy steps, each a single-rounded binary64 op in
      the same order as ``F.aggregate`` / DuckDB list_dot_product
      (numpy elementwise add/mul are plain IEEE ops, no FMA, no
      pairwise reassociation — reassociation only happens in numpy
      REDUCTIONS, which this deliberately avoids);
    - d² = ((ee − 2·dot) + cc) with cc computed driver-side by the
      same sequential fold;
    - argmin ties break to the smallest cluster id (np.argmin returns
      the first minimum — the ``when``-chain's order);
    - grid snaps are floor(x·1e9 + 0.5) (exact in float64) and
      HALF_UP for inertia: floor(v + 0.5) for v ≥ 0, ceil(v − 0.5)
      below, matching Spark's F.round(double).

    Scale: identical to the expression form — one narrow corpus scan,
    the shuffle carries ≤ k rows × partitions of longs, model state is
    k·dim doubles on the driver. No join, no row blowup."""
    import numpy as np

    k = len(centroids)
    dim = len(centroids[0][1])
    ids = [c for c, _ in centroids]
    C = np.array([v for _, v in centroids], dtype=np.float64)
    cc = np.array(
        [_seq_dot(v, v) for _, v in centroids], dtype=np.float64
    )
    n_grid = dim if with_grid else 0
    nearest = _nearest_d2_e6_kernel()
    schema = "cluster long, n long, isum long" + "".join(
        f", s{i} long" for i in range(n_grid)
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cl, ig = nearest(X, C, cc)
            if with_grid:
                g = np.floor(X * 1e9 + 0.5).astype(np.int64)
            out = {"cluster": [], "n": [], "isum": []}
            for i in range(n_grid):
                out[f"s{i}"] = []
            for c in range(k):
                m = cl == c
                if not m.any():
                    continue
                out["cluster"].append(ids[c])
                out["n"].append(int(m.sum()))
                out["isum"].append(int(ig[m].sum()))
                if with_grid:
                    gs = g[m].sum(axis=0)
                    for i in range(dim):
                        out[f"s{i}"].append(int(gs[i]))
            yield pd.DataFrame(out)

    return embeddings.select("embedding").mapInPandas(fn, schema)


def _nearest_d2_e6_kernel():
    """``nearest(X, C, cc) -> (cluster index, HALF_UP 1e-6-grid d²)``
    of each row of ``X`` against centroid matrix ``C`` with squared
    norms ``cc``: the IEEE sequence of lloyd_round_partials'
    bit-exactness contract (left-fold dots, d² = (ee − 2·dot) + cc,
    first-minimum argmin). A nested function, so cloudpickle ships it
    by value inside the executor closures that capture it (see
    multimodal._pure_decoders)."""

    def nearest(X, C, cc):
        import numpy as np

        n = X.shape[0]
        k, dim = C.shape
        ee = np.zeros(n)
        for i in range(dim):
            ee = ee + X[:, i] * X[:, i]
        d2 = np.empty((k, n))
        for c in range(k):
            acc = np.zeros(n)
            for i in range(dim):
                acc = acc + X[:, i] * C[c, i]
            d2[c] = (ee - 2.0 * acc) + cc[c]
        cl = np.argmin(d2, axis=0)
        sel = d2[cl, np.arange(n)] * 1e6
        return cl, np.where(
            sel >= 0, np.floor(sel + 0.5), np.ceil(sel - 0.5)
        ).astype(np.int64)

    return nearest


def _seq_dot(a, b) -> float:
    """Sequential left-fold dot — the exact IEEE op sequence of
    operators.similarity.dot and DuckDB list_dot_product."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def assign_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """(id, cell, unit-norm vector) for every embedding — scan-side
    argmax over broadcast centroid literals."""
    df = ensure_parallelism(embeddings).select(
        "vec_id", _normalized("embedding").alias("v")
    )
    return with_ivf_cell(df, centroids, vec_col="v").select(
        "vec_id", "ivf_cell", "v"
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup: per-vector (cluster id, keep flag) where duplicates
    (cosine ≥ threshold, same cell) collapse to the min-id survivor.

    Pair scoring joins on ``ivf_cell`` — the shuffle is co-located by
    cell and the quadratic term is bounded by the largest cell, not
    the corpus (the SemDeDup paper's core trade: cross-cell near-dups
    are missed, a documented recall cut that its own evaluation found
    negligible at k chosen so cells stay small). Components come from
    the shared CC operator (union-find fast path for the tiny pair
    graph)."""
    from .dedup import connected_components
    from .similarity import score_pairs_cosine

    centroids = kmeans_fit(embeddings, k=n_cells)
    # Eager checkpoint, not cache() (r13, the round's staging pattern):
    # celled feeds both self-join sides, the CC gate aggregate and the
    # final projection — a lazily-cached entry is raced by concurrent
    # consumers, each re-running the normalize+assign pass; the
    # checkpoint also truncates the kmeans-fit lineage.
    celled = assign_cells(embeddings, centroids).transform(checkpoint_stage)
    a = celled.alias("a")
    b = celled.alias("b")
    # Within-cell pair scoring through the shared Arrow fold scorer
    # (r13, guide §4.1): the former per-pair ``cosine`` COLUMN
    # expression is a CodegenFallback F.aggregate fold — ~3·dim
    # interpreted steps per pair over the Σ cell² candidate volume, the
    # profiled dominant cost (the same lesson as the r11 LSH bucketer).
    # score_pairs_cosine replays the identical single-rounded per-dim
    # op order (bit-identical result; pinned by the oracle hash and the
    # scorer's own tests).
    pairs = (
        score_pairs_cosine(
            a.join(
                b,
                (F.col("a.ivf_cell") == F.col("b.ivf_cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            ).select(
                F.col("a.vec_id").alias("doc_a"),
                F.col("b.vec_id").alias("doc_b"),
                F.col("a.v").alias("va"),
                F.col("b.v").alias("vb"),
            ),
            "va",
            "vb",
            keep=("doc_a", "doc_b"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b")
    )
    # Eager checkpoint before CC (r13, mirrors dedup_clusters): the CC
    # gate aggregate and the union-find pass are separate consumers —
    # un-materialized, each re-runs the whole pair-scoring pipeline,
    # and the union-find's coalesce(1) additionally PULLS that pipeline
    # into its single task (profiled: one 7 s task holding the BHJ +
    # Arrow scorer for every within-cell pair). The checkpointed
    # relation is the verified near-dup pairs only — two longs per row.
    pairs = pairs.transform(checkpoint_stage)
    nodes = celled.select("vec_id")
    comp = connected_components(pairs, nodes, id_col="vec_id")
    out = (
        celled.select("vec_id", "ivf_cell")
        .join(comp, "vec_id")
        .select(
            "vec_id",
            "ivf_cell",
            F.col("comp").alias("dup_group"),
            (F.col("vec_id") == F.col("comp")).alias("keep"),
        )
    )
    return out


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH
    Spark's ``div`` and DuckDB's ``//`` use (Python's ``//`` floors,
    which differs on negatives: -7//2 = -4 but -7 div 2 = -3)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


#: Power-iteration rounds of the top-eigenvector fit (the SQL twins
#: unroll the same count).
POWER_ITERS = 192


def top_eigenvector_power(
    spark,
    embeddings: DataFrame,
) -> DataFrame:
    """Top principal direction of the embedding covariance by power
    iteration (round 10) — the spectral health check run before
    quantizer/index builds: a single dominant direction means one
    feature (length, language, boilerplate) eats the geometry and
    should be projected out; a flat spectrum means the quantizer gets
    its bits' worth. Returns one row per dimension: the unit-free
    eigenvector component on the micro grid, the explained-variance
    share (ppm), and the mean per-dimension variance (micro²).

    Architecture (the MLlib computePrincipalComponents shape, made
    exactly cross-engine-reproducible):

    1. ONE Arrow ``mapInPandas`` pass computes per-batch INTEGER
       partials of the raw second-moment matrix M = Σ x·xᵀ and the
       component sums s on the micro grid (e6 = round(x·10⁶), the
       engine's one rounding rule) — d² int64 matmul per batch in C,
       d²+d partial rows per batch out, ONE map-side-combined
       aggregate to d² final rows. The corpus never shuffles.
    2. The d×d matrix is BOUNDED DRIVER MODEL STATE (d=64 → 4096
       DECIMAL sums; the collect is the model, exactly like kmeans
       centroids). Centering is algebraic — C' = n·M − s·sᵀ — so no
       fractional mean ever exists: every quantity stays an exact
       integer (Python bigint on the driver, HUGEINT in the DuckDB
       twin).
    3. Power iteration runs driver-side on the 64×64 integer matrix:
       w = C'·v; v ← trunc(w·10⁶ / max(|w|, 1)) — renormalization to
       the micro grid uses the SAME truncate-toward-zero division as
       DuckDB's ``//`` (:func:`_tdiv`), so after any number of rounds
       both engines hold bit-identical integer vectors. Zero data
       passes per iteration.
    4. Rayleigh quotient on the grid: λ = trunc(vᵀC'v / vᵀv);
       explained share = trunc(λ·10⁶ / trace C').

    Iteration count is FIXED (determinism over adaptivity): power
    iteration converges as (λ₂/λ₁)^t, and the fixtures' random-ish
    embeddings have a thin spectral gap (λ₂/λ₁ ≈ 0.93–0.99 —
    Marchenko-Pastur territory), so the default is 192 rounds
    (measured alignment vs numpy eigh: 1.000 at sf0.001, 0.999 at
    sf0.01; 8 rounds sat at 0.36). Rounds are driver-side 64×64
    bigint matvecs — microseconds — so the count is free; a
    production variant on a wide spectrum would stop on residual or
    use Lanczos, at the price of a data-dependent round count.

    Magnitude envelope (stated, not hoped): |e6| ≤ ~2·10⁶ ⇒ M entries
    ≤ n·4·10¹² (DECIMAL(38) sums; int64 batch partials safe to ~10⁶
    rows/batch), C' ≤ n²·4·10¹², iteration products ≤ 64·C'·10⁶ —
    inside HUGEINT to n ≈ 10⁶ corpus rows per the twin; the Spark
    side is unbounded (Python ints). All OUTPUT columns are bounded
    (ppm ≤ 10⁶, |eig_e6| ≤ 10⁶, var ≤ 4·10¹²) regardless of n."""
    model = power_model(embeddings)
    if model is None:
        return spark.createDataFrame(
            [],
            "dim_idx long, eig_e6 long, explained_ppm long,"
            " var_mean_e12 long",
        )
    dim = model["dim"]
    explained_ppm = _tdiv(model["lam"] * 10 ** 6, max(model["trace"], 1))
    var_mean_e12 = _tdiv(
        model["trace"], model["n"] * model["n"] * dim
    )
    return spark.createDataFrame(
        [
            (j, model["v"][j], explained_ppm, var_mean_e12)
            for j in range(dim)
        ],
        "dim_idx long, eig_e6 long, explained_ppm long,"
        " var_mean_e12 long",
    )


def power_model(
    embeddings: DataFrame,
) -> dict | None:
    """The Gram pass + power iteration behind
    :func:`top_eigenvector_power`, exposed as reusable MODEL STATE so
    downstream scorers (spectral outliers) compose with it the way
    IVF composes with kmeans centroids. Returns ``None`` on an empty
    corpus, else {dim, n, s (micro component sums), v (eigenvector,
    micro grid), lam, trace, den} — all exact Python ints."""
    import numpy as np
    import pandas as pd

    head = embeddings.select("embedding").first()
    if head is None or head[0] is None:
        # empty corpus: first() returns None — honor the documented
        # "None on an empty corpus" contract instead of TypeError
        return None
    dim = len(head[0])

    def gram_partials(batches):
        M = np.zeros((dim, dim), dtype=np.int64)
        S = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.rint(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 1_000_000.0
            ).astype(np.int64)
            M += X.T @ X
            S += X.sum(axis=0)
            cnt += len(pdf)
        if cnt:
            jj, kk = np.meshgrid(
                np.arange(dim), np.arange(dim), indexing="ij"
            )
            diag = jj.ravel() == kk.ravel()
            yield pd.DataFrame(
                {
                    "j": jj.ravel().astype(np.int32),
                    "k": kk.ravel().astype(np.int32),
                    "m": M.ravel(),
                    "s": np.where(diag, S[jj.ravel()], 0),
                    "c": np.where(
                        (jj.ravel() == 0) & (kk.ravel() == 0), cnt, 0
                    ),
                }
            )

    partials = ensure_parallelism(embeddings).select("embedding").mapInPandas(
        gram_partials, "j int, k int, m long, s long, c long"
    )
    rows = (
        partials.groupBy("j", "k")
        .agg(
            F.sum(F.col("m").cast("decimal(38,0)")).alias("m"),
            F.sum("s").alias("s"),
            F.sum("c").alias("c"),
        )
        .collect()
    )  # bounded: exactly d² = 4096 rows of model state
    M = [[0] * dim for _ in range(dim)]
    s = [0] * dim
    n = 0
    for r in rows:
        M[r["j"]][r["k"]] = int(r["m"])
        if r["j"] == r["k"]:
            s[r["j"]] = int(r["s"])
        n += int(r["c"])
    if n == 0:
        return None
    C = [
        [n * M[j][k] - s[j] * s[k] for k in range(dim)]
        for j in range(dim)
    ]
    v = [10 ** 6] * dim
    for _ in range(POWER_ITERS):
        w = [sum(C[j][k] * v[k] for k in range(dim)) for j in range(dim)]
        mx = max(max(abs(x) for x in w), 1)
        v = [_tdiv(x * 10 ** 6, mx) for x in w]
    w = [sum(C[j][k] * v[k] for k in range(dim)) for j in range(dim)]
    num = sum(v[j] * w[j] for j in range(dim))
    den = sum(x * x for x in v)
    trace = sum(C[j][j] for j in range(dim))
    return {
        "dim": dim,
        "n": n,
        "s": s,
        "v": v,
        "lam": _tdiv(num, den),
        "trace": trace,
        "den": den,
    }


def spectral_residual_rows(
    embeddings: DataFrame,
    model: dict,
) -> DataFrame:
    """Per-vector spectral decomposition against a :func:`power_model`
    — the scorer half of spectral outlier detection: rows of
    (id, sq_norm, proj_dot) where c = e6 − trunc-mean(e6) is the
    centered micro-grid vector, sq_norm = Σc² (micro²), proj_dot =
    Σc·v (micro·micro against the model eigenvector). One Arrow scan
    pass, no shuffle; every value is an exact int64 (|c| ≤ 2·10⁶,
    |proj_dot| ≤ d·2·10⁶·10⁶ ≈ 1.3·10¹⁴ — the residual combination
    cc·Σv² − pr², which would overflow int64, is left to the caller's
    DECIMAL expressions)."""
    import numpy as np
    import pandas as pd

    dim = model["dim"]
    mu = np.array(
        [_tdiv(model["s"][j], model["n"]) for j in range(dim)],
        dtype=np.int64,
    )
    v = np.array(model["v"], dtype=np.int64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.rint(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 1_000_000.0
            ).astype(np.int64)
            c = E - mu[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "sq_norm": (c * c).sum(axis=1),
                    "proj_dot": (c * v[None, :]).sum(axis=1),
                }
            )

    return ensure_parallelism(embeddings).select(
        "vec_id", "embedding"
    ).mapInPandas(fn, "vec_id long, sq_norm long, proj_dot long")


def assign_rows_with_d2(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Per-ROW nearest-centroid assignment: (id, cluster, d2_e6) — the
    row-level sibling of :func:`lloyd_round_partials` (same IEEE
    sequence: left-fold dots, d² = (ee − 2·dot) + cc, first-minimum
    argmin, HALF_UP 1e-6 snap), for consumers that need each vector's
    assignment rather than per-cell partials (medoid selection,
    per-vector audit). One Arrow scan pass, no shuffle, no join."""
    import numpy as np
    import pandas as pd

    ids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    cc = np.array(
        [_seq_dot(v, v) for _, v in centroids], dtype=np.float64
    )
    nearest = _nearest_d2_e6_kernel()

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cl, snapped = nearest(X, C, cc)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": ids[cl],
                    "d2_e6": snapped,
                }
            )

    return ensure_parallelism(embeddings).select(
        "vec_id", "embedding"
    ).mapInPandas(fn, "vec_id long, cluster long, d2_e6 long")
