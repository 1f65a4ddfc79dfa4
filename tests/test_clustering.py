"""Distributed k-means + SemDeDup semantic dedup: parity against a
sequential numpy reference, planted-duplicate collapse."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.operators.clustering import (
    assign_cells,
    kmeans_fit,
    semantic_dedup,
)
from amazonmsk_emr_tem_data_spark.sources.files import load_table

K, ITERS = 6, 4


def numpy_reference_fit(ids, vecs, k=K, iters=ITERS):
    order = np.argsort(ids)
    x = np.asarray(vecs, dtype=np.float64)[order]
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent = x[:k].copy()
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)  # first-max, like the scan
        new = []
        for c in range(k):
            m = x[assign == c]
            if len(m) == 0:
                new.append(cent[c])
                continue
            s = m.sum(axis=0)
            new.append(s / max(np.linalg.norm(s), 1e-12))
        cent = np.array(new)
    return cent


def test_kmeans_fit_matches_numpy_reference(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    exp = numpy_reference_fit(
        pdf["vec_id"].to_numpy(), [list(v) for v in pdf["embedding"]]
    )
    got = np.array(kmeans_fit(emb, k=K, iters=ITERS))
    assert got.shape == exp.shape
    assert np.allclose(got, exp, atol=1e-9), np.abs(got - exp).max()


def test_assignment_is_exhaustive_and_stable(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=K, iters=ITERS)
    celled = assign_cells(emb, cent)
    assert celled.count() == emb.count()
    cells = {r["ivf_cell"] for r in celled.select("ivf_cell").distinct().collect()}
    assert cells <= set(range(K))
    # deterministic: a second run assigns identically
    again = assign_cells(emb, cent)
    d = (
        celled.select("vec_id", "ivf_cell")
        .exceptAll(again.select("vec_id", "ivf_cell"))
        .count()
    )
    assert d == 0


def test_semantic_dedup_collapses_planted_duplicates(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # plant: copies of three existing vectors under fresh ids
    dup_src = emb.orderBy("vec_id").limit(3)
    dups = dup_src.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(dups)
    out = semantic_dedup(corpus, n_cells=K, threshold=0.999).cache()
    assert out.count() == n + 3
    by_id = {r["vec_id"]: r for r in out.collect()}
    for base in [r["vec_id"] for r in dup_src.collect()]:
        planted = base + 1_000_000
        assert by_id[planted]["dup_group"] == by_id[base]["dup_group"]
        assert by_id[base]["keep"] and not by_id[planted]["keep"]
    # survivors: exactly one keep per dup_group
    per_group = (
        out.groupBy("dup_group")
        .agg(F.sum(F.col("keep").cast("int")).alias("n_keep"))
        .collect()
    )
    assert all(r["n_keep"] == 1 for r in per_group)


# ---------------------------------------------------------------------------
# k-core peeling (operators/graph.kcore)
# ---------------------------------------------------------------------------


def _py_kcore(edges, k):
    """Full-convergence reference peel: surviving nodes + induced
    degree."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    nodes = set(adj)
    while True:
        drop = {
            n for n in nodes if sum(1 for m in adj[n] if m in nodes) < k
        }
        if not drop:
            break
        nodes -= drop
    return {
        n: sum(1 for m in adj[n] if m in nodes)
        for n in nodes
        if sum(1 for m in adj[n] if m in nodes) > 0
    }


def test_kcore_matches_python_reference(spark):
    """Bounded-round peel with rounds >= |nodes| == full-convergence
    reference, across shapes that exercise the cascade: a chain (peels
    entirely), a cycle (survives intact), a clique with pendant leaves
    (leaves peel, triggering no cascade into the clique), and a
    lollipop (chain peels INTO the cycle boundary node, which still
    survives)."""
    from amazonmsk_emr_tem_data_spark.operators.graph import kcore

    cases = [
        [(1, 2), (2, 3), (3, 4)],                       # chain: empty 2-core
        [(1, 2), (2, 3), (1, 3)],                       # triangle: survives
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],       # lollipop
        [(1, 2), (2, 3), (1, 3), (1, 4), (2, 5), (3, 6)],  # clique+leaves
        [(1, 2)],                                       # single edge
        [(1, 2), (3, 4), (4, 5), (3, 5)],               # two components
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["n"]: r["core_degree"]
            for r in kcore(df, k=2, rounds=12).collect()
        }
        assert got == _py_kcore(edges, 2), edges


def test_part_kcore_fixture_converges_within_rounds(spark, sf_dir):
    """The registry query's fixed 8 rounds must reach the fixpoint on
    the fixture (measured full-peel depth <= 5 at every SF): running
    4 extra rounds changes nothing. If fixture regeneration ever
    produces a deeper cascade, this fails before a half-peeled result
    ships as green."""
    from amazonmsk_emr_tem_data_spark.operators.graph import kcore
    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        _knn_sparsify_edges,
        _repeat_copurchase_edges_w,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # the registry query's actual peel input (r9: kNN-sparsified)
    ue = _knn_sparsify_edges(
        _repeat_copurchase_edges_w(li), knn=50
    ).cache()
    r8 = {
        (x["n"], x["core_degree"]) for x in kcore(ue, 2, rounds=8).collect()
    }
    r12 = {
        (x["n"], x["core_degree"]) for x in kcore(ue, 2, rounds=12).collect()
    }
    assert r8 == r12
    assert len(r8) > 0


# ---------------------------------------------------------------------------
# multi-source BFS (operators/graph.bfs_hops)
# ---------------------------------------------------------------------------


def _py_bfs(edges, seeds, rounds):
    """Reference multi-source BFS: min hop distance within `rounds`."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for i in range(1, rounds + 1):
        nxt = {
            m for n in frontier for m in adj[n] if m not in dist
        }
        for m in nxt:
            dist[m] = i
        frontier = nxt
    return dist


def test_bfs_hops_matches_python_reference(spark):
    """Frontier BFS vs the reference across the shapes that break
    naive implementations: a chain longer than the round budget
    (truncation IS the semantics), a cycle reached from two seeds
    (min-hop must win, not last-writer), a diamond (two equal-length
    paths to one node — single label), disconnected components (the
    unseeded one stays unlabelled), and an EMPTY seed set (all rounds
    no-op, zero rows, no crash)."""
    from amazonmsk_emr_tem_data_spark.operators.graph import bfs_hops

    cases = [
        ([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)], [1], 4),
        ([(1, 2), (2, 3), (3, 4), (4, 1)], [1, 3], 4),
        ([(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], [1], 4),
        ([(1, 2), (3, 4)], [1], 4),
        ([(1, 2), (2, 3)], [], 4),
        ([(1, 2), (2, 3), (3, 1), (3, 4)], [4], 1),
    ]
    for edges, seeds, rounds in cases:
        df = spark.createDataFrame(edges, "a long, b long")
        sdf = spark.createDataFrame(
            [(s,) for s in seeds], "n long"
        ) if seeds else spark.createDataFrame([], "n long")
        got = {
            r["n"]: r["dist"]
            for r in bfs_hops(df, sdf, rounds=rounds).collect()
        }
        assert got == _py_bfs(edges, seeds, rounds), (edges, seeds)


# ---------------------------------------------------------------------------
# label propagation (operators/graph.label_propagation)
# ---------------------------------------------------------------------------


def _py_lpa(edges, rounds):
    """Reference synchronous LPA: most-frequent neighbor label, ties
    to the smallest label."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n in adj:
            votes = Counter(lab[m] for m in adj[n])
            top = max(votes.values())
            nxt[n] = min(l for l, c in votes.items() if c == top)
        lab = nxt
    return lab


def test_label_propagation_matches_python_reference(spark):
    """Sync LPA vs the reference across shapes that break naive
    implementations: a single edge (labels OSCILLATE every round —
    fixed-round unrolls must agree, not converge), a triangle with a
    pendant, two cliques joined by a bridge (communities stabilize),
    a star (leaves adopt the hub, hub adopts the min leaf), and a
     4-cycle (bipartite oscillation)."""
    from amazonmsk_emr_tem_data_spark.operators.graph import (
        label_propagation,
    )

    cases = [
        [(1, 2)],
        [(1, 2), (2, 3), (1, 3), (3, 4)],
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        [(10, 1), (10, 2), (10, 3)],
        [(1, 2), (2, 3), (3, 4), (4, 1)],
    ]
    for edges in cases:
        for rounds in (1, 3, 4):
            df = spark.createDataFrame(edges, "a long, b long")
            got = {
                r["n"]: r["lab"]
                for r in label_propagation(df, rounds=rounds).collect()
            }
            assert got == _py_lpa(edges, rounds), (edges, rounds)


def test_kmeans_inertia_monotone_nonincreasing(spark, sf_dir):
    """Lloyd's invariant: each assignment+update round can only lower
    total inertia (both steps are coordinate-wise minimizations).
    The 1e-9 centroid grid perturbs each step by ~1e-9 per component,
    so allow that much slack — a real regression (wrong argmin, wrong
    centroid denominator, swapped rounds) moves inertia by orders of
    magnitude more."""
    from amazonmsk_emr_tem_data_spark.queries._analytics import (
        kmeans_lloyd_clusters,
    )

    def inertia(rounds):
        rows = kmeans_lloyd_clusters(spark, sf_dir, rounds=rounds).collect()
        return sum(r["inertia"] for r in rows)

    i1, i2, i3 = inertia(1), inertia(2), inertia(3)
    assert i2 <= i1 + 1e-6, (i1, i2)
    assert i3 <= i2 + 1e-6, (i2, i3)
    assert i3 < i1, "three rounds should genuinely improve on one"


# ---------------------------------------------------------------------------
# personalized PageRank (operators/graph.personalized_pagerank)
# ---------------------------------------------------------------------------


def test_ppr_with_all_seeds_equals_global_pagerank(spark):
    """PPR's defining equation collapses to global PageRank when the
    seed set IS the node set (teleport to seeds uniformly == teleport
    to all nodes uniformly): integer-exact EQUALITY, not approximate —
    both implementations share the mass grid and division order, so
    any drift is a real divergence in the teleport/dangling terms."""
    from amazonmsk_emr_tem_data_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    edges = [(1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 4, 1), (5, 1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long, w_edge long")
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6]], "page long"
    )  # node 6 isolated+dangling, node 4 dangling
    seeds = nodes.select(F.col("page").alias("n"))
    pr = {
        r["page"]: r["rank_micro"]
        for r in pagerank(e, nodes, id_col="page").collect()
    }
    ppr = {
        r["page"]: r["rank_micro"]
        for r in personalized_pagerank(
            e, nodes, seeds, id_col="page"
        ).collect()
    }
    assert pr == ppr


def test_ppr_empty_seed_set_is_all_zero(spark):
    """No seeds -> no teleport mass anywhere: every rank must be
    exactly 0 (and the operator must not divide by zero)."""
    from amazonmsk_emr_tem_data_spark.operators.graph import (
        personalized_pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "src long, dst long, w_edge long"
    )
    nodes = spark.createDataFrame([(1,), (2,)], "page long")
    seeds = spark.createDataFrame([], "n long")
    got = personalized_pagerank(e, nodes, seeds, id_col="page").collect()
    assert {r["rank_micro"] for r in got} == {0}


def test_ppr_mass_concentrates_near_seeds(spark):
    """On a 6-chain seeded at one end, the seed HALF must hold the
    bulk of the walk mass. (Per-node ranks are NOT monotone in hop
    distance at finite iterations — mass ping-pongs along the chain,
    so even-hop nodes can outrank their odd-hop neighbors; the
    aggregate proximity property is what PPR guarantees and what
    distinguishes it from global PageRank, which centers mass on the
    chain's middle.)"""
    from amazonmsk_emr_tem_data_spark.operators.graph import (
        personalized_pagerank,
    )

    chain = [(i, i + 1, 1) for i in range(1, 6)]
    chain += [(b, a, w) for a, b, w in chain]
    e = spark.createDataFrame(chain, "src long, dst long, w_edge long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "page long")
    seeds = spark.createDataFrame([(1,)], "n long")
    ranks = {
        r["page"]: r["rank_micro"]
        for r in personalized_pagerank(
            e, nodes, seeds, id_col="page"
        ).collect()
    }
    near = ranks[1] + ranks[2] + ranks[3]
    far = ranks[4] + ranks[5] + ranks[6]
    assert near > 2 * far, ranks
    # and the far END stays strictly below every seed-adjacent node
    assert max(ranks[5], ranks[6]) < min(ranks[1], ranks[2]), ranks
