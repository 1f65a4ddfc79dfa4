"""Tests of the benchmark's own math and of its output checks (no Spark session).

Run: python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# -- tail rule -----------------------------------------------------------------


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 90) == 90
    assert stats.percentile(v, 99.9) == 100
    assert stats.percentile([7.0], 50) == 7.0


@pytest.mark.parametrize("n,q", [(5, 50.0), (20, 50.0), (32, 60.0), (48, 75.0),
                                 (100, 90.0), (1000, 99.0), (12000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, q):
    got_q, value, count = stats.tail([float(i) for i in range(n)])
    assert (got_q, count) == (q, n)
    beyond = sum(1 for i in range(n) if i > value)
    assert beyond >= stats.TAIL_BEYOND or q == stats.TAIL_LADDER[0]
    higher = [x for x in stats.TAIL_LADDER if x > q]
    if higher:
        assert sum(1 for i in range(n) if i > stats.percentile(list(range(n)), higher[0])) \
            < stats.TAIL_BEYOND


# -- backlog growth and the sustained rate ----------------------------------------


def _landings(rate, t0, t1, per):
    t, out = t0, []
    while t < t1:
        out.append((t, per))
        t += per / rate
    return out


def test_backlog_flat_when_pipeline_keeps_up():
    landed = _landings(100.0, 0.0, 10.0, 10)
    committed = [(t + 0.5, 10) for t, _ in landed]
    series = stats.backlog_series(landed, committed)
    grows, slope = stats.backlog_grows(series, 0.0, 10.0, 100.0)
    assert not grows and abs(slope) < 5


def test_backlog_grows_past_capacity():
    landed = _landings(100.0, 0.0, 10.0, 10)
    committed = [(0.5 + i * 0.2, 10) for i in range(50)]  # drains 50 rows/s
    series = stats.backlog_series(landed, committed)
    grows, slope = stats.backlog_grows(series, 0.0, 10.0, 100.0)
    assert grows and 40 < slope < 60


def test_sustained_rate_takes_drain_of_saturated_rung():
    rungs = [{"offered": 100.0, "grows": False, "drain": None},
             {"offered": 5000.0, "grows": True, "drain": 2400.0}]
    assert stats.sustained_rate(rungs) == 2400.0


def test_sustained_rate_without_saturation_is_highest_offered():
    rungs = [{"offered": 100.0, "grows": False, "drain": None},
             {"offered": 300.0, "grows": False, "drain": None},
             {"offered": 900.0, "grows": True, "drain": 250.0}]
    assert stats.sustained_rate(rungs) == 300.0


def test_sustained_rate_needs_a_rung():
    with pytest.raises(ValueError):
        stats.sustained_rate([{"offered": 10.0, "grows": True, "drain": None}])


def test_drain_rate_over_saturated_intervals():
    assert stats.drain_rate([(0.0, 1.0, 100), (1.0, 3.0, 100), (3.0, 3.4, 100)]) == 300 / 3.4
    with pytest.raises(ValueError):
        stats.drain_rate([])


# -- self time -------------------------------------------------------------------


def test_self_time_subtracts_union_of_clipped_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]
    assert stats.self_time(parent, kids) == pytest.approx(10 - 3 - 1)
    assert stats.self_time(parent, []) == 10.0


def test_tracer_self_times_by_name():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    by = {s["name"]: s for s in tr.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    st = tr.self_times()
    outer = by["outer"]["end"] - by["outer"]["start"]
    inner = by["inner"]["end"] - by["inner"]["start"]
    assert st["outer"] == pytest.approx(outer - inner)
    off = Tracer("t", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -- inputs ------------------------------------------------------------------------


def test_tem_expected_is_python_mean():
    p = inputs.traffic()["tem_stream"]
    rows = inputs.tem_rows(7, p, 5000)
    exp = inputs.tem_expected(rows)
    good = [r for r in rows.to_pylist() if not r["malformed"]]
    want = [None if any(r[c] is None for c in inputs.T_COLS)
            else sum(r[c] for c in inputs.T_COLS) / 10 for r in good]
    assert exp["Tem(Avg)"].to_pylist() == want
    assert exp.num_rows == len(good) < rows.num_rows
    assert len(set(exp["dateTime"].to_pylist())) == exp.num_rows


def test_tem_ids_follow_the_reference_duplicate_pattern():
    p = inputs.traffic()["tem_stream"]
    ids = inputs.tem_rows(11, p, 4000)["id"].to_pylist()
    counts = Counter(ids)
    assert max(counts.values()) == 2
    assert len(ids) - len(counts) == round(len(ids) * p["duplicate_id_share"])
    assert min(ids) >= p["id_base"]
    assert ids != sorted(ids)


# -- output checks catch corrupted outputs -------------------------------------------


@pytest.fixture()
def tem_case(tmp_path):
    p = dict(inputs.traffic()["tem_stream"], malformed_share=0.01)
    rows = inputs.tem_rows(5, p, 400)
    exp = inputs.tem_expected(rows)
    expected = str(tmp_path / "expected.parquet")
    pq.write_table(exp, expected)
    n_bad = sum(rows["malformed"].to_pylist())
    nulls = pa.table({c: pa.nulls(n_bad, exp.schema.field(c).type) for c in exp.column_names})
    return tmp_path, expected, exp, nulls, n_bad


def _write_sink(tmp_path, name, table, fmt):
    d = tmp_path / name
    d.mkdir()
    if fmt == "parquet":
        pq.write_table(table, str(d / "part-0.parquet"))
    else:
        cols = {c: table[c] for c in table.column_names}
        cols["dateTime"] = pa.array([None if t is None else t.strftime("%Y-%m-%dT%H:%M:%S.000Z")
                                     for t in table["dateTime"].to_pylist()])
        pacsv.write_csv(pa.table(cols), str(d / "part-0.csv"),
                        pacsv.WriteOptions(delimiter="|", quoting_style="none"))
    return str(d)


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_tem_check_passes_correct_sink(tem_case, fmt):
    tmp_path, expected, exp, nulls, n_bad = tem_case
    sink = _write_sink(tmp_path, "ok", pa.concat_tables([exp, nulls]), fmt)
    assert checks.tem_sink_check(expected, sink, fmt, n_bad) == ([], n_bad)


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_tem_check_catches_corrupted_row(tem_case, fmt):
    tmp_path, expected, exp, nulls, n_bad = tem_case
    t5 = exp["T5"].to_pylist()
    t5[17] = (t5[17] or 0.0) + 0.01
    bad = exp.set_column(exp.schema.get_field_index("T5"), "T5", pa.array(t5))
    sink = _write_sink(tmp_path, "bad", pa.concat_tables([bad, nulls]), fmt)
    assert any("wrong values" in m for m in checks.tem_sink_check(expected, sink, fmt, n_bad)[0])


def test_tem_check_catches_lost_duplicate_and_malformed_rows(tem_case):
    tmp_path, expected, exp, nulls, n_bad = tem_case
    sink = _write_sink(tmp_path, "dup", pa.concat_tables([exp.slice(1), exp.slice(5, 1)]),
                       "parquet")
    fails, malformed = checks.tem_sink_check(expected, sink, "parquet", n_bad)
    msgs = " ".join(fails)
    assert malformed == 0
    assert "missing" in msgs and "more than once" in msgs and "malformed" in msgs


def test_tem_check_catches_wrong_tem_avg(tem_case):
    tmp_path, expected, exp, nulls, n_bad = tem_case
    avg = exp["Tem(Avg)"].to_pylist()
    avg[3] = None
    bad = exp.set_column(exp.schema.get_field_index("Tem(Avg)"), "Tem(Avg)",
                         pa.array(avg, pa.float64()))
    sink = _write_sink(tmp_path, "avg", pa.concat_tables([bad, nulls]), "parquet")
    assert checks.tem_sink_check(expected, sink, "parquet", n_bad)[0]


def test_query_check_catches_wrong_result():
    vd = checks.load_verify()
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, CAST(range AS DOUBLE) * 1.5 AS v "
                "FROM range(20)")
    want = vd.duck_counter(con, "SELECT k, sum(v) AS s FROM t GROUP BY k")
    assert checks.query_check("q", want, want) == []
    cols, types, cnt = want
    wrong = Counter(cnt)
    row = next(iter(wrong))
    wrong[row] -= 1
    wrong[(row[0], vd.norm(99.0))] += 1
    assert checks.query_check("q", want, (cols, types, wrong))
    assert checks.query_check("q", want, (cols, ["int", "decimal"], cnt))
    assert checks.query_check("q", want, (["k", "x"], types, cnt))


def test_query_check_catches_wrongly_dropped_doc():
    """dedup_clusters against its oracle over a small documents table with
    planted copies: a doc missing from the result, or a planted copy left
    alone in its own cluster, fails the check."""
    import numpy as np
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    vd = checks.load_verify()
    docs = inputs.documents(np.random.default_rng(5), 120, inputs.traffic()["query_mix"])
    con = duckdb.connect()
    con.register("documents", docs)
    want = vd.duck_counter(con, REGISTRY["dedup_clusters"][1])
    cols, types, cnt = want
    rows = [dict(zip(cols, r)) for r in cnt.elements()]
    copy = next(r for r in rows if not r["is_canonical"])
    dropped = Counter(cnt)
    dropped[tuple(copy[c] for c in cols)] -= 1
    assert checks.query_check("dedup_clusters", want, (cols, types, +dropped))
    alone = dict(copy, cluster_id=copy["doc_id"], cluster_size=1, is_canonical=True)
    split = +dropped
    split[tuple(alone[c] for c in cols)] += 1
    assert checks.query_check("dedup_clusters", want, (cols, types, split))


def test_missing_owned_layer_metric_is_reported():
    _, missing = run.per_layer_metrics({"session.get_spark_s": 1.0}, "query_mix")
    assert "queries.dedup_clusters.exec_s" in missing and "spark.gc_s" in missing
    assert "session.get_spark_s" not in missing
    assert not any(m.startswith(("codec.", "sinks.", "streaming.")) for m in missing)
