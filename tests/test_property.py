"""Property-based tests: custom operators vs brute-force reference
implementations on randomized small inputs.

The oracle-parity suite pins each operator to ONE fixture distribution;
hypothesis explores the edges that distribution misses (empty sides,
all-equal timestamps, single-key data, interval boundaries). Brute
force is plain Python over collected rows — authoritative by
construction. Examples are kept small (Spark per-example overhead) but
each run samples fresh shapes.
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.operators.joins import asof_join, range_join
from amazonmsk_emr_tem_data_spark.operators.order_stats import (
    lower_quantiles,
    running_sum,
)
from amazonmsk_emr_tem_data_spark.operators.skew import salted_agg, salted_join

BASE = datetime(2024, 1, 1)

# (key, ts_offset_minutes, payload)
left_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(0, 120),
        st.integers(-100, 100),
    ),
    min_size=0,
    max_size=12,
)
right_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(0, 120),
        st.integers(0, 50),
    ),
    min_size=0,
    max_size=12,
)

prop = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@prop
@given(lrows=left_rows, rrows=right_rows)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    left = spark.createDataFrame(
        [
            (i, k, BASE + timedelta(minutes=m), p)
            for i, (k, m, p) in enumerate(lrows)
        ],
        "lid long, k long, ts timestamp, lp long",
    )
    right = spark.createDataFrame(
        [(k, BASE + timedelta(minutes=m), v) for (k, m, v) in rrows],
        "k long, rts timestamp, rv long",
    )
    out = {
        r["lid"]: r["rv"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            right_cols=["rv"],
        ).collect()
    }
    assert len(out) == len(lrows)  # exactly one row per left row
    for i, (k, m, _) in enumerate(lrows):
        lt = BASE + timedelta(minutes=m)
        cands = [
            (BASE + timedelta(minutes=rm), rv)
            for (rk, rm, rv) in rrows
            if rk == k and BASE + timedelta(minutes=rm) <= lt
        ]
        # operator tie-break: latest ts, then greatest tie_break col (rv)
        expect = max(cands)[1] if cands else None
        assert out[i] == expect, (i, lrows, rrows)


@prop
@given(lrows=left_rows, rrows=right_rows, dur=st.integers(1, 90))
def test_range_join_matches_bruteforce(spark, lrows, rrows, dur):
    left = spark.createDataFrame(
        [
            (i, k, BASE + timedelta(minutes=m))
            for i, (k, m, _) in enumerate(lrows)
        ],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (j, k, BASE + timedelta(minutes=m))
            for j, (k, m, _) in enumerate(rrows)
        ],
        "rid long, k long, start timestamp",
    )
    got = {
        (r["lid"], r["rid"])
        for r in range_join(
            left, right, on="k", left_ts="ts",
            right_start=F.col("start"),
            right_end=F.col("start") + F.expr(f"INTERVAL {dur} MINUTES"),
            bucket="1 hour",
        ).collect()
    }
    expect = set()
    for i, (lk, lm, _) in enumerate(lrows):
        for j, (rk, rm, _) in enumerate(rrows):
            if lk == rk and rm <= lm < rm + dur:
                expect.add((i, j))
    assert got == expect, (lrows, rrows, dur)


@prop
@given(rows=st.lists(st.tuples(st.integers(0, 2), st.integers(-50, 50)),
                     min_size=0, max_size=20),
       n_salts=st.integers(1, 5))
def test_salted_agg_matches_plain(spark, rows, n_salts):
    df = spark.createDataFrame(rows or [(0, 0)], "k long, v long")
    if not rows:
        df = df.limit(0)
    out = {
        r["k"]: (r["s"], r["n"])
        for r in salted_agg(
            df, ["k"],
            {"s": F.sum("v"), "n": F.count(F.lit(1))},
            n_salts=n_salts,
        ).collect()
    }
    expect = {}
    for k, v in rows:
        s, n = expect.get(k, (0, 0))
        expect[k] = (s + v, n + 1)
    assert out == expect


@prop
@given(rows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 9)),
                     min_size=0, max_size=15),
       dim=st.lists(st.integers(0, 2), min_size=0, max_size=3, unique=True),
       n_salts=st.integers(1, 4))
def test_salted_join_matches_plain(spark, rows, dim, n_salts):
    fact = spark.createDataFrame(rows or [(0, 0)], "k long, v long")
    if not rows:
        fact = fact.limit(0)
    d = spark.createDataFrame([(k, k * 10) for k in dim] or [(0, 0)],
                              "k long, w long")
    if not dim:
        d = d.limit(0)
    got = sorted(
        (r["k"], r["v"], r["w"])
        for r in salted_join(fact, d, on=["k"], n_salts=n_salts).collect()
    )
    expect = sorted(
        (k, v, k * 10) for (k, v) in rows if k in set(dim)
    )
    assert got == expect


def _py_greedy_merge(symbols, a, b):
    """Reference greedy left-to-right non-overlapping BPE merge."""
    out, jm = [], False
    for x in symbols:
        if not jm and out and out[-1] == a and x == b:
            out[-1] = a + b
            jm = True
        else:
            out.append(x)
            jm = False
    return out


_sym = st.sampled_from(["a", "b", "ab", "aa", "</w>", "x"])


@prop
@given(
    symbols=st.lists(_sym, min_size=1, max_size=8),
    a=_sym,
    b=_sym,
)
def test_bpe_merge_fold_three_way_agreement(spark, symbols, a, b):
    """The Spark array fold (_merge_pair), the DuckDB VARCHAR-packed
    fold (the oracle's workaround for list_reduce's broken struct
    accumulators), and a plain-python reference must agree on arbitrary
    symbol runs — including adjacent self-merges (aa), merged tokens
    colliding with raw ones (ab vs a+b), and marker symbols."""
    import duckdb

    from amazonmsk_emr_tem_data_spark.operators.bpe import _merge_pair

    want = _py_greedy_merge(symbols, a, b)

    df = spark.createDataFrame([(symbols,)], "symbols array<string>")
    got_spark = df.select(
        _merge_pair(F.col("symbols"), a, b).alias("m")
    ).first()["m"]
    assert got_spark == want, f"spark fold: {got_spark} != {want}"

    con = duckdb.connect()
    syms_sql = "[" + ", ".join("'" + s + "'" for s in symbols) + "]"
    fold = f"""SELECT string_split(substr(list_reduce({syms_sql},
      (st, e) -> CASE WHEN strpos(st, chr(31)) = 0 THEN
          CASE WHEN st = '{a}' AND e = '{b}'
               THEN '1' || chr(31) || '{a}' || '{b}'
               ELSE '0' || chr(31) || st || chr(31) || e END
        ELSE CASE WHEN substr(st, 1, 1) = '0'
                   AND right(st, 1 + length('{a}')) = chr(31) || '{a}'
                   AND e = '{b}'
               THEN '1' || substr(st, 2, length(st) - 1 - length('{a}'))
                    || '{a}' || '{b}'
               ELSE '0' || substr(st, 2) || chr(31) || e END END
    ), 3), chr(31))"""
    got_duck = con.execute(fold).fetchone()[0]
    # single-symbol lists never enter the lambda: list_reduce returns
    # the raw element, which substr/split mangle — normalize that case
    if len(symbols) == 1:
        got_duck = symbols
    assert got_duck == want, f"duckdb fold: {got_duck} != {want}"


@prop
@given(
    xs=st.lists(
        st.one_of(
            st.floats(-1.0, 1.0, allow_nan=False),
            # exact grid-edge shapes: (k + 0.5) / G lands x*G + 0.5 on
            # an integer boundary, the one place rounding modes diverge
            st.integers(-10**9, 10**9).map(lambda k: (k + 0.5) / 1e9),
            st.integers(-10**9, 10**9).map(lambda k: k / 1e9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_floor_grid_three_engine_agreement(spark, xs):
    """The engine's one rounding convention — floor(x*G + 0.5) — must
    produce the identical long in numpy, Spark, and DuckDB for any
    double, INCLUDING exact .5 grid points (where np.round's
    half-to-even, F.round's HALF_UP, and duckdb round's
    half-away-from-zero all disagree; that three-way divergence is why
    the k-means fits standardized on floor). All three receive the
    same IEEE double, so product/add/floor must agree bit-for-bit."""
    import duckdb
    import numpy as np

    want = [int(v) for v in np.floor(np.array(xs, dtype=np.float64) * 1e9 + 0.5)]

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    rows = df.select(
        "i", F.floor(F.col("x") * 1e9 + F.lit(0.5)).cast("long").alias("g")
    ).collect()
    got_spark = [r["g"] for r in sorted(rows, key=lambda r: r["i"])]
    assert got_spark == want, f"spark floor grid: {got_spark} != {want}"

    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT CAST(floor(? * 1e9 + 0.5) AS BIGINT)", [x]
        ).fetchone()[0]
        for x in xs
    ]
    assert got_duck == want, f"duckdb floor grid: {got_duck} != {want}"


# (src, dst, w) edges over a small node universe; extra isolated nodes
pr_edges = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(1, 3)),
    min_size=0,
    max_size=10,
)


@prop
@given(erows=pr_edges, extra=st.sets(st.integers(6, 8), max_size=2))
def test_pagerank_matches_integer_reference(spark, erows, extra):
    """operators/graph.pagerank is integer-exact by construction, so a
    plain-Python mirror of its spec (same floor-divisions, same
    per-edge-row contribution semantics) must reproduce it EXACTLY —
    no tolerance. Explores shapes the events fixture never makes:
    self-loops, multi-edges, all-dangling graphs, isolated nodes."""
    from amazonmsk_emr_tem_data_spark.operators.graph import SCALE, pagerank

    node_set = sorted(
        {s for s, _, _ in erows} | {d for _, d, _ in erows} | extra
    )
    edges = spark.createDataFrame(
        [(s, d, w) for s, d, w in erows] or [(0, 0, 1)],
        "src long, dst long, w_edge long",
    )
    if not erows:
        edges = edges.filter("src < 0")  # empty frame, kept schema
    nodes = spark.createDataFrame(
        [(n,) for n in node_set] or [(0,)], "page long"
    )
    if not node_set:
        nodes = nodes.filter("page < 0")
    got = {
        r["page"]: r["rank_micro"]
        for r in pagerank(edges, nodes, id_col="page").collect()
    }

    n = len(node_set)
    if n == 0:
        assert got == {}
        return
    wout: dict[int, int] = {}
    for s, _, w in erows:
        wout[s] = wout.get(s, 0) + w
    rank = {p: SCALE // n for p in node_set}
    base = 15 * SCALE // (100 * n)
    for _ in range(5):
        inc = {p: 0 for p in node_set}
        for s, d, w in erows:
            if s in rank and d in inc:
                inc[d] += rank[s] * w // wout[s]
        dang = sum(r for p, r in rank.items() if p not in wout)
        rank = {
            p: base + 85 * inc[p] // 100 + 85 * dang // (100 * n)
            for p in node_set
        }
    assert got == rank


quality_micro_rows = st.lists(
    st.tuples(st.integers(0, 1000), st.integers(0, 6)),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@prop
@given(rows=quality_micro_rows)
def test_sort_shard_map_matches_integer_reference(spark, rows):
    """The value-histogram shard map is pure long arithmetic, so a
    Python mirror must agree EXACTLY: shard(v) = floor(count_of_rows_
    strictly_better_than_v * S / n), and concatenating shards in
    (value desc, id) order is the global order. Explores heavy ties
    and skewed value distributions the fixture's quality formula never
    produces (e.g. one value carrying most of the corpus)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    S = 4
    data = [
        (100 * doc + i, qm)
        for doc, (qm, copies) in enumerate(rows)
        for i in range(copies + 1)
    ]
    df = spark.createDataFrame(data, "doc_id long, quality_micro long")
    vals = df.groupBy("quality_micro").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy(
        F.pmod(F.col("quality_micro"), F.lit(1))
    ).orderBy(F.col("quality_micro").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    n_total = df.agg(F.count(F.lit(1)).alias("n"))
    shard_map = (
        vals.withColumn(
            "before", F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long")
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "quality_micro", F.expr(f"before * {S} div n").alias("sort_shard")
        )
    )
    got = {
        r["quality_micro"]: r["sort_shard"] for r in shard_map.collect()
    }

    n = len(data)
    by_val_desc = sorted({qm for _, qm in data}, reverse=True)
    counts = {}
    for _, qm in data:
        counts[qm] = counts.get(qm, 0) + 1
    before = 0
    want = {}
    for qm in by_val_desc:
        want[qm] = before * S // n
        before += counts[qm]
    assert got == want
    # shards must be monotone non-decreasing as quality descends
    shards_in_desc_order = [want[qm] for qm in by_val_desc]
    assert shards_in_desc_order == sorted(shards_in_desc_order)


# documents as word lists over a 4-word vocab: tiny vocab forces heavy
# shingle sharing, duplicate docs (identity-group fan-out), and
# boundary Jaccards right at the 7/10 threshold
_pf_docs = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
             min_size=0, max_size=8),
    min_size=2,
    max_size=9,
)


@prop
@given(docs=_pf_docs)
def test_prefix_filter_jaccard_matches_bruteforce(spark, docs):
    """prefix_filter_jaccard_pairs must equal all-pairs brute force on
    arbitrary corpora — the prefix bound (share a df-rarest shingle on
    both sides), the integer length filter, and the identity-group
    fan-out all have to lose zero pairs and invent none."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(
            df, threshold_num=7, threshold_den=10
        ).collect()
    }

    def sh(text):
        toks = text.split(" ")  # "" -> [""], matching F.split semantics
        if len(toks) >= 3:
            return {" ".join(toks[i: i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = [sh(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            c = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - c
            if 10 * c >= 7 * union:
                want[(a, b)] = (c, c / union)
    assert out == want


@prop
@given(docs=_pf_docs)
def test_cross_corpus_near_dup_matches_bruteforce(spark, docs):
    """cross_corpus_near_dup must equal the brute-force best-match on
    arbitrary corpora split into new/corpus halves: the two-sided
    exact collapse, the fingerprint 1.0 fast path, the banded
    candidates, and the min-corpus-id tie-break through group fan-out
    all have to pick exactly the argmax the all-pairs scan picks."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        cross_corpus_near_dup,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    corpus = df.filter("doc_id % 2 = 0")
    new = df.filter("doc_id % 2 = 1")
    out = {
        r["doc_id"]: (r["corpus_doc_id"], r["n_common"], r["jaccard"])
        for r in cross_corpus_near_dup(new, corpus, threshold=0.6).collect()
    }

    def sh(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            return {" ".join(toks[i: i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = [sh(t) for t in texts]
    want = {}
    for n_id in range(1, len(texts), 2):
        best = None
        for c_id in range(0, len(texts), 2):
            c = len(sets[n_id] & sets[c_id])
            union = len(sets[n_id]) + len(sets[c_id]) - c
            j = c / union
            if j >= 0.6 and (best is None or j > best[2] or
                             (j == best[2] and c_id < best[0])):
                best = (c_id, c, j)
        if best is not None:
            want[n_id] = best
    assert out == want


@prop
@given(docs=_pf_docs)
def test_containment_pairs_match_bruteforce(spark, docs):
    """containment_prefix_pairs must equal the all-pairs DIRECTED
    brute force on arbitrary corpora — the asymmetric prefix bound
    (A's df-rarest shingles must hit every container), the |B| ≥
    ⌈t·n_a⌉ prune, and the direction-preserving identity-group
    fan-out all have to lose zero ordered pairs and invent none."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        containment_prefix_pairs,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from collections import Counter

    rows = containment_prefix_pairs(
        df, threshold_num=4, threshold_den=5
    ).collect()
    # Counter, not dict: the exactly-once claim includes MULTIPLICITY —
    # a regression double-emitting pairs must fail, not be masked
    out_counts = Counter((r["doc_a"], r["doc_b"]) for r in rows)
    dupes = {k: v for k, v in out_counts.items() if v > 1}
    assert not dupes, f"pairs emitted more than once: {dupes}"
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_a"], r["containment"])
        for r in rows
    }

    def sh(text):
        toks = text.split(" ")  # "" -> [""], matching F.split semantics
        if len(toks) >= 3:
            return {" ".join(toks[i: i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = [sh(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(len(texts)):
            if a == b:
                continue
            c = len(sets[a] & sets[b])
            if 5 * c >= 4 * len(sets[a]):
                want[(a, b)] = (c, len(sets[a]), c / len(sets[a]))
    assert out == want


_iv = st.tuples(
    st.integers(min_value=0, max_value=9),          # key
    st.integers(min_value=0, max_value=500_000),    # start offset sec
    st.integers(min_value=0, max_value=300_000),    # duration sec
)


@prop
@given(
    lefts=st.lists(_iv, min_size=1, max_size=8),
    rights=st.lists(_iv, min_size=1, max_size=8),
)
def test_interval_overlap_join_matches_bruteforce(spark, lefts, rights):
    """interval_overlap_join must equal the all-pairs overlap scan on
    arbitrary interval sets — the day-bucket expansion plus the
    canonical-bucket predicate (keep the match only in the bucket of
    the later start) must emit every overlapping pair EXACTLY once,
    including intervals spanning many buckets, zero-length intervals,
    and pairs touching at a boundary (half-open: no overlap)."""
    import datetime

    from amazonmsk_emr_tem_data_spark.operators.joins import (
        interval_overlap_join,
    )

    base = datetime.datetime(2024, 1, 1)

    def mk(rows, sname, ename, idname):
        data = [
            (
                k,
                i,
                base + datetime.timedelta(seconds=s),
                base + datetime.timedelta(seconds=s + d),
            )
            for i, (k, s, d) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data, f"k long, {idname} long, {sname} timestamp, {ename} timestamp"
        )

    ldf = mk(lefts, "ls", "le", "lid")
    rdf = mk(rights, "rs", "re", "rid")
    from collections import Counter

    rows = interval_overlap_join(
        ldf, rdf, "k", "ls", "le", "rs", "re", bucket="1 day"
    ).collect()
    # Counter first: the canonical-bucket predicate's whole claim is
    # EXACTLY-once emission — a duplicate must fail, not be masked
    out_counts = Counter((r["lid"], r["rid"]) for r in rows)
    dupes = {k: v for k, v in out_counts.items() if v > 1}
    assert not dupes, f"pairs emitted more than once: {dupes}"
    out = {(r["lid"], r["rid"]): r["overlap_seconds"] for r in rows}
    want = {}
    for i, (lk, lsec, ld) in enumerate(lefts):
        for j, (rk, rsec, rd) in enumerate(rights):
            if lk != rk:
                continue
            if lsec < rsec + rd and rsec < lsec + ld:
                want[(i, j)] = max(
                    0, min(lsec + ld, rsec + rd) - max(lsec, rsec)
                )
    assert out == want


def test_interval_overlap_join_self_join_names_are_unambiguous(spark):
    """The docstring advertises span×span self-joins — the projection
    must rename colliding right-side columns (r_<name>) so every
    output column is addressable by name (a duplicate-name output
    fails on any downstream select/write)."""
    import datetime

    from amazonmsk_emr_tem_data_spark.operators.joins import (
        interval_overlap_join,
    )

    base = datetime.datetime(2024, 1, 1)
    spans = spark.createDataFrame(
        [
            (0, 1, base, base + datetime.timedelta(hours=3)),
            (0, 2, base + datetime.timedelta(hours=1),
             base + datetime.timedelta(hours=4)),
        ],
        "k long, sid long, s timestamp, e timestamp",
    )
    out = interval_overlap_join(spans, spans, "k", "s", "e", "s", "e")
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert {"sid", "r_sid", "s", "r_s", "e", "r_e"} <= set(out.columns)
    rows = out.select("sid", "r_sid", "overlap_seconds").collect()
    got = {(r["sid"], r["r_sid"]): r["overlap_seconds"] for r in rows}
    # all 4 ordered combinations overlap (incl. self-overlap)
    assert got == {
        (1, 1): 3 * 3600, (2, 2): 3 * 3600,
        (1, 2): 2 * 3600, (2, 1): 2 * 3600,
    }


def _lev(a: str, b: str) -> int:
    """Plain-DP Levenshtein (reference)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@prop
@given(docs=_pf_docs, max_dist=st.integers(0, 4))
def test_fuzzy_edit_verify_matches_bruteforce(spark, docs, max_dist):
    """fuzzy_edit_verify_pairs must equal the all-pairs reference on
    arbitrary corpora: identical block prefix AND bounded-prefix
    Levenshtein ≤ max_dist — the exact-dup collapse, the capped
    buckets, the thresholded levenshtein() early-exit, and the
    identity-group fan-out must lose zero pairs and invent none.
    Small prefix_tokens/verify_chars make the blocking and the
    verify-window truncation both bite on 8-token docs."""
    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        fuzzy_edit_verify_pairs,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = fuzzy_edit_verify_pairs(
        df, max_dist=max_dist, prefix_tokens=2, verify_chars=12
    ).collect()
    out = {}
    for r in rows:
        key = (r["doc_a"], r["doc_b"])
        assert key not in out, f"pair {key} emitted twice"
        out[key] = r["edit_dist"]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            # texts are pre-normalized (single spaces); "" splits to [""]
            pa = " ".join(texts[a].split(" ")[:2])
            pb = " ".join(texts[b].split(" ")[:2])
            if pa != pb:
                continue
            d = _lev(texts[a][:12], texts[b][:12])
            if d <= max_dist:
                want[(a, b)] = d
    assert out == want


# (type_id ∈ {0,1}, hour_offset, events_in_that_hour)
_rate_cells = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 10), st.integers(1, 3)),
    min_size=1,
    max_size=12,
)


def _dense_reference(cells):
    """Python reference for _dense_hourly_counts: dense per-type hourly
    series over the GLOBAL [min, max] hour span."""
    hours = [h for (_, h, _) in cells]
    lo, hi = min(hours), max(hours)
    types = sorted({t for (t, _, _) in cells})
    counts = {}
    for t, h, n in cells:
        counts[(t, h)] = counts.get((t, h), 0) + n
    return {
        t: [counts.get((t, h), 0) for h in range(lo, hi + 1)] for t in types
    }


def _write_events(cells, d):
    """Write a pandas-style single-file events.parquet (ns timestamps,
    like the driver fixtures) from (type, hour, n) cells."""
    import pandas as pd

    rows = []
    eid = 0
    for t, h, n in cells:
        for k in range(n):
            rows.append(
                (eid, BASE + timedelta(hours=h, minutes=k), 1,
                 f"type{t}", 1.0, "{}")
            )
            eid += 1
    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value",
                 "props"],
    ).to_parquet(f"{d}/events.parquet", index=False)


@prop
@given(cells=_rate_cells)
def test_hourly_autocorr_matches_reference(spark, cells, tmp_path_factory):
    """event_hourly_autocorr must equal the exact-integer Python
    reference on arbitrary sparse series: the dense zero-fill, the
    single-window lag stack, and the six-sum Pearson formula (incl.
    the zero-variance → NULL guard) under any type/hour layout."""
    import math

    from amazonmsk_emr_tem_data_spark.queries._northstar import (
        event_hourly_autocorr,
    )

    d = str(tmp_path_factory.mktemp("autocorr"))
    _write_events(cells, d)
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["corr_ppm"])
        for r in event_hourly_autocorr(spark, d).collect()
    }
    want = {}
    for t, series in _dense_reference(cells).items():
        for lag in (1, 2, 3):
            pairs = [
                (series[i], series[i - lag])
                for i in range(lag, len(series))
            ]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            sx2 = sum(x * x for x, _ in pairs)
            sy2 = sum(y * y for _, y in pairs)
            d1, d2 = n * sx2 - sx * sx, n * sy2 - sy * sy
            ppm = (
                None
                if d1 <= 0 or d2 <= 0
                else round(  # noqa: B909 — banker's vs half-up can't
                    # differ here: num/sqrt is irrational off-boundary
                    1000000.0 * (n * sxy - sx * sy)
                    / math.sqrt(float(d1) * float(d2))
                )
            )
            # Python round() is half-even, Spark's is half-away; only
            # exact .5 boundaries differ — tolerate by recomputing
            if ppm is not None:
                raw = (1000000.0 * (n * sxy - sx * sy)
                       / math.sqrt(float(d1) * float(d2)))
                if abs(raw - int(raw) - 0.5) < 1e-12 or \
                   abs(raw - int(raw) + 0.5) < 1e-12:
                    ppm = int(math.floor(raw + 0.5)) if raw >= 0 else \
                        int(math.ceil(raw - 0.5))
            want[(f"type{t}", lag)] = (n, ppm)
    assert got == want


@prop
@given(cells=_rate_cells)
def test_rate_spikes_match_reference(spark, cells, tmp_path_factory):
    """event_rate_spikes must equal the integer Python reference:
    trailing-24-row baselines over the dense grid (partial baselines
    in the first day), the truncated-ppm ratio, and the 2.5× flag."""
    from amazonmsk_emr_tem_data_spark.queries._northstar import (
        event_rate_spikes,
    )

    d = str(tmp_path_factory.mktemp("spikes"))
    _write_events(cells, d)
    got = {
        (r["event_type"], r["h"]): (
            r["cnt"], r["baseline_n"], r["baseline_total"],
            r["ratio_ppm"], r["is_spike"],
        )
        for r in event_rate_spikes(spark, d).collect()
    }
    lo = min(h for (_, h, _) in cells)
    want = {}
    for t, series in _dense_reference(cells).items():
        for i, cnt in enumerate(series):
            window = series[max(0, i - 24): i]
            bn, bt = len(window), sum(window)
            ratio = (cnt * bn * 1000000) // bt if bt > 0 else None
            spike = bn == 24 and 2 * cnt * bn > 5 * bt
            want[(f"type{t}", BASE + timedelta(hours=lo + i))] = (
                cnt, bn, bt, ratio, spike,
            )
    assert got == want


@prop
@given(
    toks=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1,
        max_size=40,
    )
)
def test_zipf_profile_matches_reference(spark, toks, tmp_path_factory):
    """token_zipf_profile must equal the Python reference: md5-hash
    tie-broken ranks, bit-length buckets, exact per-bucket sums."""
    from hashlib import md5

    from amazonmsk_emr_tem_data_spark.queries._northstar import (
        token_zipf_profile,
    )

    d = str(tmp_path_factory.mktemp("zipf"))
    spark.createDataFrame(
        [(0, " ".join(toks), "en", "s", len(" ".join(toks)))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["rank_bucket"]: (
            r["n_ranks"], r["total_freq"], r["max_freq"], r["min_freq"]
        )
        for r in token_zipf_profile(spark, d).collect()
    }
    freqs = {}
    for t in toks:
        freqs[t] = freqs.get(t, 0) + 1
    hashed = {
        t: int(md5(t.encode()).hexdigest()[:15], 16) for t in freqs
    }
    ranked = sorted(freqs, key=lambda t: (-freqs[t], hashed[t]))[:4096]
    want = {}
    for rank, t in enumerate(ranked, 1):
        b = rank.bit_length() - 1
        n, tot, mx, mn = want.get(b, (0, 0, 0, None))
        want[b] = (
            n + 1, tot + freqs[t], max(mx, freqs[t]),
            freqs[t] if mn is None else min(mn, freqs[t]),
        )
    assert got == want


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction (operators/bloom.py)
# ---------------------------------------------------------------------------


@prop
@given(
    keys=st.lists(st.integers(-(10**6), 10**6), min_size=0, max_size=30),
    probes=st.lists(st.integers(-(10**6), 10**6), min_size=0, max_size=30),
)
def test_bloom_never_false_negative(spark, keys, probes):
    """The Bloom contract that makes the prune a pure physical
    optimization: every inserted key MUST pass membership (false
    positives are allowed — the exact join removes them; a false
    negative would silently drop matching fact rows)."""
    from amazonmsk_emr_tem_data_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom_words,
    )

    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    words = build_bloom_words(kdf, "k", m_bits=1 << 10, k=3)
    assert len(words) == (1 << 10) // 64
    universe = sorted(set(keys) | set(probes))
    if not universe:
        return
    pdf = spark.createDataFrame([(p,) for p in universe], "p long")
    got = {
        r["p"]
        for r in pdf.filter(
            bloom_might_contain(words, F.col("p"), k=3)
        ).collect()
    }
    assert set(keys) <= got  # zero false negatives, always


def test_bloom_rejects_bad_sizes(spark):
    from amazonmsk_emr_tem_data_spark.operators.bloom import (
        build_bloom_words,
    )

    kdf = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        build_bloom_words(kdf, "k", m_bits=100)
    with pytest.raises(ValueError):
        build_bloom_words(kdf, "k", m_bits=0)


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (operators/frontier.py)
# ---------------------------------------------------------------------------


@prop
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 20)),
        min_size=0,
        max_size=40,
    ),
    band_width=st.sampled_from([1, 7, 1000, 10**6]),
)
def test_pareto_frontier_matches_bruteforce(spark, rows, band_width):
    """Banded two-phase skyline == quadratic dominance scan, for band
    widths from degenerate (every cost its own band) through one-band
    (the whole axis). Duplicate points must BOTH survive (no strict
    coordinate), which the brute force checks by identity-exclusion on
    row id, not value equality."""
    from amazonmsk_emr_tem_data_spark.operators.frontier import (
        pareto_frontier_2d,
    )

    df = spark.createDataFrame(
        [(i, c, g) for i, (c, g) in enumerate(rows)],
        "rid long, cost long, gain long",
    )
    got = {
        r["rid"]
        for r in pareto_frontier_2d(
            df, "cost", "gain", band_width=band_width
        ).collect()
    }
    want = {
        i
        for i, (c, g) in enumerate(rows)
        if not any(
            j != i
            and bc <= c
            and bg >= g
            and (bc < c or bg > g)
            for j, (bc, bg) in enumerate(rows)
        )
    }
    assert got == want


# ---------------------------------------------------------------------------
# FM/HLL register sketch (functions/sketch.py)
# ---------------------------------------------------------------------------


@prop
@given(keys=st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=25))
def test_fm_register_matches_python_reference(spark, keys):
    """Spark's codegen'd register expression == a pure-Python md5
    reference (the same reference the DuckDB oracle mirrors): j from
    the low 6 bits, rho = 1-based lowest-set-bit position of the high
    54 bits, 55 when they are all zero. Also pins mergeability: the
    max-register state of the union equals the elementwise max of each
    half's state."""
    from hashlib import md5

    from amazonmsk_emr_tem_data_spark.functions.sketch import fm_register

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        (r["c"]["j"], r["k"]): r["c"]["rho"]
        for r in df.select("k", fm_register(F.col("k")).alias("c")).collect()
    }
    for k in keys:
        h = int(md5(f"dsk1|{k}".encode()).hexdigest()[:15], 16)
        j, w = h % 64, h >> 6
        rho = 55 if w == 0 else (w & -w).bit_length()
        assert got[(j, k)] == rho

    # merge identity: max over union == max of per-half maxima
    half = len(keys) // 2
    def regs(sub):
        state = {}
        for k in sub:
            h = int(md5(f"dsk1|{k}".encode()).hexdigest()[:15], 16)
            j, w = h % 64, h >> 6
            rho = 55 if w == 0 else (w & -w).bit_length()
            state[j] = max(state.get(j, 0), rho)
        return state
    merged = regs(keys[:half])
    for j, r in regs(keys[half:]).items():
        merged[j] = max(merged.get(j, 0), r)
    assert merged == regs(keys)


@prop
@given(
    vals=st.lists(
        st.floats(
            min_value=-900.0,
            max_value=900.0,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_quantile_histogram_bound_holds(spark, vals, tmp_path_factory):
    """The binned sketch's contract: for each q, the reported upper
    bound ub satisfies  true_quantile ∈ [ub - width, ub)  (bins are
    half-open floor-division intervals) where the true q-quantile is
    the value at 1-based rank ceil(q·n/100) of the sorted values —
    bin-width-bounded error by construction, including negative values
    (floor-division bins, not truncation)."""
    import math

    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        value_quantile_histogram,
    )

    d = str(tmp_path_factory.mktemp("qhist"))
    spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1, 0, 0, i % 60), 1, "t", float(v), "{}")
            for i, v in enumerate(vals)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    row = value_quantile_histogram(spark, d).collect()[0]
    cents = sorted(round(v * 100) for v in vals)
    n = len(cents)
    assert row["n_values"] == n
    for q in (50, 90, 99):
        ub = row[f"p{q}_ub_cents"]
        true_q = cents[math.ceil(q * n / 100) - 1]
        assert ub - 500 <= true_q < ub, (q, ub, true_q, cents)


# ---------------------------------------------------------------------------
# CUSUM change-point + session association rules
# ---------------------------------------------------------------------------


@prop
@given(
    cells=st.lists(
        st.tuples(st.integers(0, 48), st.integers(1, 4)),
        min_size=1,
        max_size=10,
    )
)
def test_cusum_changepoint_matches_reference(spark, cells, tmp_path_factory):
    """argmax-|CUSUM| localization == exact-integer Python reference on
    arbitrary sparse hourly layouts: dense zero-filled span, earliest
    hour on tied |cusum|, HALF-UP level rounding, NULL post level when
    the argmax is the final hour (n == i)."""
    import math

    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        event_cusum_changepoint,
    )

    d = str(tmp_path_factory.mktemp("cusum"))
    rows, eid = [], 0
    for h, c in cells:
        for _ in range(c):
            rows.append(
                (eid, BASE + timedelta(hours=h, minutes=eid % 60), 1, "t",
                 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = event_cusum_changepoint(spark, d).collect()
    assert len(got) == 1
    r = got[0]

    counts = {}
    for h, c in cells:
        counts[h] = counts.get(h, 0) + c
    h_lo, h_hi = min(counts), max(counts)
    series = [counts.get(h, 0) for h in range(h_lo, h_hi + 1)]
    n, total = len(series), sum(series)
    cum, best = 0, None
    for i, c in enumerate(series, start=1):
        cum += c
        cs = abs(n * cum - i * total)
        if best is None or cs > best[0]:
            best = (cs, i, cum)
    cs, i, cum_at = best
    assert r["n_hours"] == n
    assert r["total"] == total
    assert r["max_abs_cusum_scaled"] == cs
    assert r["change_hour"] == BASE + timedelta(hours=h_lo + i - 1)
    assert r["pre_level_milli"] == math.floor(1000 * cum_at / i + 0.5)
    if n > i:
        want_post = math.floor(1000 * (total - cum_at) / (n - i) + 0.5)
        assert r["post_level_milli"] == want_post
    else:
        assert r["post_level_milli"] is None


@prop
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 200),        # minute offset
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_association_rules_match_bruteforce(spark, rows, tmp_path_factory):
    """Support/confidence/lift == brute-force session-set mining:
    Python sessionizes with the same strictly-greater-than 30-min gap,
    builds per-session type sets, and checks every ordered pair's
    truncated-ppm metrics."""
    from amazonmsk_emr_tem_data_spark.queries._graph_ann import (
        session_association_rules,
    )

    d = str(tmp_path_factory.mktemp("assoc"))
    spark.createDataFrame(
        [
            (i, BASE + timedelta(minutes=m), u, t, 1.0, "{}")
            for i, (u, m, t) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_ab"], r["support_ppm"], r["confidence_ppm"], r["lift_ppm"]
        )
        for r in session_association_rules(spark, d).collect()
    }

    sessions = []
    by_user = {}
    for i, (u, m, t) in enumerate(rows):
        by_user.setdefault(u, []).append((m, i, t))
    for u, evs in by_user.items():
        evs.sort()
        cur = None
        for m, _i, t in evs:
            if cur is None or m - cur[0] > 30:
                sessions.append({t})
                cur = (m, len(sessions) - 1)
            else:
                sessions[cur[1]].add(t)
            cur = (m, cur[1] if cur else len(sessions) - 1)
    n_sessions = len(sessions)
    n_t = {}
    for s in sessions:
        for t in s:
            n_t[t] = n_t.get(t, 0) + 1
    want = {}
    for a in "abc":
        for b in "abc":
            if a == b:
                continue
            n_ab = sum(1 for s in sessions if a in s and b in s)
            if n_ab == 0:
                continue
            want[(a, b)] = (
                n_ab,
                1000000 * n_ab // n_sessions,
                1000000 * n_ab // n_t[a],
                (1000000 * n_ab * n_sessions) // (n_t[a] * n_t[b]),
            )
    assert got == want, (rows, sessions)


@prop
@given(
    deltas=st.lists(st.integers(-20, 20), min_size=1, max_size=25),
)
def test_clamped_balance_identity_matches_sequential_fold(spark, deltas):
    """The two-window clamp identity b_t = S_t - least(0, min_{k<=t}
    S_k) (part_stock_balance) must equal the sequential fold
    b_t = max(0, b_{t-1} + x_t) on ANY delta sequence — including
    all-negative runs (pinned at 0), recoveries after a stockout, and
    zero deltas. The identity is the whole trick: it turns a
    non-associative reset into two ordinary distributed windows."""
    from pyspark.sql.window import Window as W

    rows = [(i, d) for i, d in enumerate(deltas)]
    df = spark.createDataFrame(rows, "i long, dx long")
    cum = (
        W.partitionBy(F.lit(0))
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sums = df.select("i", "dx", F.sum("dx").over(cum).alias("s"))
    out = {
        r["i"]: r["bal"]
        for r in sums.select(
            "i",
            (
                F.col("s")
                - F.least(F.lit(0).cast("long"), F.min("s").over(cum))
            ).alias("bal"),
        ).collect()
    }
    b, expect = 0, {}
    for i, d in enumerate(deltas):
        b = max(0, b + d)
        expect[i] = b
    assert out == expect, deltas


def test_neyman_waterfill_meets_budget_under_saturation(spark, tmp_path):
    """A high-variance stratum smaller than its Neyman share saturates
    at nh; the capped surplus must flow to unsaturated strata so the
    emitted sample still totals `budget` (r7 ADVICE: the cap used to
    shrink the sample silently). Stratum "a" (3 docs, huge σ) takes
    nearly the whole weight but caps at 3; "b" (300 docs, σ=0) must
    absorb the other 197."""
    import pandas as pd

    from amazonmsk_emr_tem_data_spark.queries._analytics import (
        neyman_allocation_sample,
    )

    rows = [(0, "a", 0), (1, "a", 10**6), (2, "a", 2 * 10**6)]
    rows += [(10 + i, "b", 100) for i in range(300)]
    pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"]).to_parquet(
        f"{tmp_path}/documents.parquet", index=False
    )
    got = neyman_allocation_sample(spark, str(tmp_path), budget=200)
    alloc = {
        r["source"]: r["n"]
        for r in got.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert alloc == {"a": 3, "b": 197}


def test_textrank_vocab_cap_identity_and_bound(spark, sf_dir):
    """vocab_cap >= |vocabulary| must be EXACTLY the uncapped result
    (the registry/oracle contract is the default None path); a small
    cap must rank only top-frequency words (r7 VERDICT ask #7 — the
    cap bounds the 100x vocab-graph iteration cost)."""
    from amazonmsk_emr_tem_data_spark.queries._analytics import (
        textrank_keywords,
    )

    from amazonmsk_emr_tem_data_spark.functions.text import tokens
    from amazonmsk_emr_tem_data_spark.sources.files import load_table

    vocab_n = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .select("w")
        .distinct()
        .count()
    )
    base = [tuple(r) for r in textrank_keywords(spark, sf_dir).collect()]
    same = [
        tuple(r)
        for r in textrank_keywords(
            spark, sf_dir, vocab_cap=vocab_n + 7
        ).collect()
    ]
    assert base == same

    capped = textrank_keywords(spark, sf_dir, vocab_cap=50).collect()
    assert 0 < len(capped) <= 30
    words = {r["word"] for r in capped}
    # every surviving word must be inside the deterministic top-50
    # frequency vocabulary
    top50 = {
        r["w"]
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(50)
        .collect()
    }
    assert words <= top50


# ---------------------------------------------------------------------------
# Two-phase order statistics (operators/order_stats.py)
# ---------------------------------------------------------------------------

# (group, value, weight); the row index is the id that breaks value ties
_os_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(-30, 30), st.integers(0, 5)),
    max_size=14,
)
# width 1000 puts every value in one bucket; "v div w" truncates, so
# bucket 0 spans both signs
_os_width = st.sampled_from([3, 7, 1000])
_os_weight = st.sampled_from([None, "w"])
_OS_CUTS = {"p5": (1, 20), "p50": (1, 2), "p95": (19, 20), "p99": (99, 100)}
# (by, bucket, order, reference group key, reference sort key)
_OS_SHAPES = [
    ([], ["bkt"], ["v", "id"], lambda g: (), lambda i, g, v: (v, i)),
    (["g"], ["bkt"], ["v", "id"], lambda g: (g,), lambda i, g, v: (v, i)),
    (
        [],
        ["g", "bkt"],
        ["g", "v", "id"],
        lambda g: (),
        lambda i, g, v: (g, v, i),
    ),
]
_OS_TIES = [
    (0, 3, 1), (0, 3, 2), (1, -6, 1), (1, 6, 4), (2, -20, 5), (1, 0, 0)
]
# each example runs one multi-stage Spark query
os_prop = settings(prop, max_examples=8)


def _os_frame(spark, rows, width):
    return spark.createDataFrame(
        [(i, g, v, w) for i, (g, v, w) in enumerate(rows)],
        "id long, g long, v long, w long",
    ).withColumn("bkt", F.expr(f"v div {width}"))


def _os_groups(rows, group_key, sort_key):
    """Sorted-list reference: each group's (id, value, weight) rows in
    the full order."""
    groups: dict[tuple, list[tuple[int, int, int]]] = {}
    for i, (g, v, w) in sorted(
        enumerate(rows), key=lambda t: sort_key(t[0], t[1][0], t[1][1])
    ):
        groups.setdefault(group_key(g), []).append((i, v, w))
    return groups


@os_prop
@given(
    rows=_os_rows,
    width=_os_width,
    shape=st.sampled_from(range(len(_OS_SHAPES))),
    weight=_os_weight,
)
@example(rows=[], width=7, shape=0, weight=None)
@example(rows=[(1, -4, 3)], width=7, shape=1, weight="w")
@example(rows=_OS_TIES, width=7, shape=2, weight=None)
@example(rows=_OS_TIES, width=7, shape=1, weight="w")
def test_running_sum_matches_sorted_reference(
    spark, rows, width, shape, weight
):
    by, bucket, order, group_key, sort_key = _OS_SHAPES[shape]
    df = _os_frame(spark, rows, width)
    out = running_sum(
        df, by=by, bucket=bucket, order=order, name="run", weight=weight
    )
    assert out.columns == [*df.columns, "run"]
    want = {}
    for members in _os_groups(rows, group_key, sort_key).values():
        run = 0
        for i, _, w in members:
            run += 1 if weight is None else w
            want[i] = run
    assert {r["id"]: r["run"] for r in out.collect()} == want


@os_prop
@given(
    rows=_os_rows,
    width=_os_width,
    shape=st.sampled_from([0, 1]),
    weight=_os_weight,
)
@example(rows=[], width=7, shape=0, weight="w")
@example(rows=[(1, -4, 3)], width=7, shape=1, weight=None)
@example(rows=[(0, 5, 0), (0, -5, 0)], width=1000, shape=0, weight="w")
@example(rows=_OS_TIES, width=7, shape=1, weight="w")
@example(rows=_OS_TIES, width=3, shape=0, weight=None)
def test_lower_quantiles_match_sorted_reference(
    spark, rows, width, shape, weight
):
    """The value must lead the order, so only the value-bucketed shapes
    apply."""
    by, bucket, order, group_key, sort_key = _OS_SHAPES[shape]
    got = {
        tuple(r[c] for c in by): r.asDict()
        for r in lower_quantiles(
            _os_frame(spark, rows, width),
            by=by,
            bucket=bucket,
            order=order,
            value="v",
            cuts=_OS_CUTS,
            weight=weight,
        ).collect()
    }
    groups = _os_groups(rows, group_key, sort_key)
    if not by and not rows:
        groups = {(): []}  # a global aggregate still has one row
    want = {}
    for key, members in groups.items():
        ws = [1 if weight is None else w for _, _, w in members]
        total = sum(ws)
        row = {**dict(zip(by, key)), "total": total}
        for tag, (num, den) in _OS_CUTS.items():
            run, row[tag] = 0, None
            for (_, v, _), w in zip(members, ws):
                run += w
                if den * run >= num * total:
                    row[tag] = v
                    break
        want[key] = row
    assert got == want
