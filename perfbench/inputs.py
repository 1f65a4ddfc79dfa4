"""Seeded inputs for the two workloads.

Everything here is a pure function of the seed and ``traffic.json``. It
imports neither Spark nor the program under test: the load generator runs
it in its own process, and the checks read what it writes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

#: Wire order of the 25-column tem row (the consumer-side schema).
TEM_MEASURES = (
    ["Tamb", "TtopTestTankHPCir", "TbottomTestTankHpCir", "TtopSourceTank",
     "TloadTankMix", "TTopTestTankLoadCir", "TloadMix", "TbottomSourceTank",
     "TbottomTestTankLoadCir"]
    + [f"T{i}" for i in range(10)]
    + ["flowHP", "flowLoad", "Load_kW", "Heat_Capacity_kW"]
)
T_COLS = [f"T{i}" for i in range(10)]
TEM_BASE_EPOCH_S = 1611741600  # 2021-01-27 10:00:00 UTC, the reference's csv day

#: The word list of the sf0.1 documents corpus (its BM25 queries look up
#: 'spark', 'table' and 'fast').
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def landing_dir(root: str) -> str:
    """Where the generator lands the tem_stream files."""
    return os.path.join(root, "landing")


def traffic() -> dict:
    """``traffic.json`` as {workload: {param: value}} (reasons dropped)."""
    with open(os.path.join(HERE, "traffic.json")) as f:
        raw = json.load(f)
    return {w: {k: v["value"] for k, v in ps.items()} for w, ps in raw.items()}


# ---------------------------------------------------------------------------
# tem_stream
# ---------------------------------------------------------------------------


def tem_schedule(p: dict, seconds: float) -> list[dict]:
    """Files in landing order: name, due offset from the go signal (s),
    row count and phase. The set-up cycles warm up on the ``setup`` file,
    which never lands; the ``prestart`` file is in the landing dir before
    the stream starts (both due None)."""
    files = [{"name": "setup.parquet", "due": None, "rows": p["setup_rows"], "phase": "setup"},
             {"name": "f00000.parquet", "due": None, "rows": p["nominal_rows_per_file"],
              "phase": "prestart"}]
    period = p["nominal_rows_per_file"] / p["nominal_rows_per_s"]
    n_warm = int(round(p["warmup_seconds"] / period))
    n_nom = int(round(seconds / period))
    t = 0.0
    for i in range(n_warm + n_nom):
        files.append({"name": f"f{len(files):05d}.parquet", "due": t,
                      "rows": p["nominal_rows_per_file"],
                      "phase": "warmup" if i < n_warm else "nominal"})
        t += period
    per = p["overload_rows_per_file"]
    burst_period = per / p["overload_rows_per_s"]
    for _ in range(p["overload_rows"] // per):
        files.append({"name": f"f{len(files):05d}.parquet", "due": t, "rows": per,
                      "phase": "overload"})
        t += burst_period
    return files


def tem_rows(seed: int, p: dict, n: int) -> pa.Table:
    """``n`` telemetry rows in landing order, with the planted traffic
    properties: ids in the reference's duplicate pattern (a share of the
    rows repeats the id of another row, every id at most twice, in no
    order), dateTime swapped out of order for a share of rows, NULL
    sensor channels and malformed envelopes. ``seq`` is the landing
    position; dateTime is unique per row, so it keys the output check."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(round(n * p["duplicate_id_share"]))
    domain = int((n - n_dup) * p["id_span_per_distinct"])
    distinct = p["id_base"] + rng.choice(domain, n - n_dup, replace=False)
    ids = rng.permutation(np.concatenate([distinct, rng.choice(distinct, n_dup, replace=False)]))
    ts = TEM_BASE_EPOCH_S + 2 * np.arange(n, dtype=np.int64)
    swap = np.flatnonzero(rng.random(n) < p["out_of_order_share"])
    for i in swap:
        j = max(0, i - int(rng.integers(1, 31)))
        ts[i], ts[j] = ts[j], ts[i]
    cols = {"seq": np.arange(n, dtype=np.int64), "id": ids.astype(np.int64),
            "ts_s": ts}
    centre = rng.uniform(10.0, 60.0, len(TEM_MEASURES))
    for c, mu in zip(TEM_MEASURES, centre):
        cols[c] = np.round(rng.normal(mu, 8.0, n), 2)
    table = pa.table(cols)
    null_rows = np.flatnonzero(rng.random(n) < p["null_sensor_share"])
    null_col = rng.integers(0, 10, len(null_rows))
    for k in range(10):
        rows = null_rows[null_col == k]
        if len(rows):
            mask = np.zeros(n, dtype=bool)
            mask[rows] = True
            name = f"T{k}"
            idx = table.schema.get_field_index(name)
            arr = pa.array(table[name].to_numpy(), mask=mask)
            table = table.set_column(idx, name, arr)
    malformed = rng.random(n) < p["malformed_share"]
    return table.append_column("malformed", pa.array(malformed))


def render_tem_files(table: pa.Table, files: list[dict], out_dir: str) -> None:
    """Write each file of the schedule as a parquet Kafka envelope
    (string ``key``, string ``value`` = the row as JSON). DuckDB on one
    thread renders the JSON; malformed rows carry a truncated value."""
    import duckdb

    bounds = np.cumsum([0] + [f["rows"] for f in files])
    file_no = np.searchsorted(bounds, np.arange(table.num_rows), side="right") - 1
    t = table.append_column("file_no", pa.array(file_no.astype(np.int32)))
    fields = ", ".join(f"'{c}': \"{c}\"" for c in TEM_MEASURES)
    part_dir = os.path.join(out_dir, "_parts")
    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        con.register("g", t)
        con.execute(f"""
            COPY (
              SELECT file_no, key, CASE WHEN malformed THEN substr(CAST(v AS VARCHAR), 1, 40)
                                ELSE CAST(v AS VARCHAR) END AS value
              FROM (
                SELECT file_no, seq, malformed, CAST(id AS VARCHAR) AS key,
                       to_json({{'id': id,
                                 'dateTime': strftime(to_timestamp(ts_s), '%Y-%m-%dT%H:%M:%S.%fZ'),
                                 {fields}}}) AS v
                FROM g)
              ORDER BY seq
            ) TO '{part_dir}' (FORMAT PARQUET, PARTITION_BY (file_no))""")
    finally:
        con.close()
    for i, f in enumerate(files):
        part = os.path.join(part_dir, f"file_no={i}")
        (src,) = os.listdir(part)
        os.rename(os.path.join(part, src), os.path.join(out_dir, f["name"]))
        os.rmdir(part)
    os.rmdir(part_dir)


def tem_expected(table: pa.Table) -> pa.Table:
    """The well-formed rows as the sinks must hold them, with `Tem(Avg)`
    as a plain-Python left-to-right mean of the generator's own values
    (None when a channel is NULL)."""
    good = table.filter(pa.compute.invert(table["malformed"]))
    # Left-to-right adds from T0, the order Python's sum() takes.
    total = good["T0"].to_numpy(zero_copy_only=False)
    for c in T_COLS[1:]:
        total = total + good[c].to_numpy(zero_copy_only=False)
    has_null = np.zeros(good.num_rows, dtype=bool)
    for c in T_COLS:
        has_null |= good[c].is_null().to_numpy(zero_copy_only=False)
    avg = pa.array(total / 10, mask=has_null)
    ts = pa.array(good["ts_s"].to_numpy() * 1_000_000, pa.timestamp("us", tz="UTC"))
    cols = {"id": good["id"], "dateTime": ts}
    for c in TEM_MEASURES:
        cols[c] = good[c]
    cols["Tem(Avg)"] = avg
    return pa.table(cols)


# ---------------------------------------------------------------------------
# query_mix: seeded synthetic tables with the sf0.1 schemas
# ---------------------------------------------------------------------------


def _near_copy(rng, text: str) -> str:
    """``text`` with one word in every 40 (at least one) replaced by
    another vocabulary word."""
    words = text.split(" ")
    for pos in rng.choice(len(words), max(1, len(words) // 40), replace=False):
        words[pos] = VOCAB[(VOCAB.index(words[pos]) + int(rng.integers(1, len(VOCAB))))
                           % len(VOCAB)]
    return " ".join(words)


def _us(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int, p: dict) -> pa.Table:
    """The documents table: random vocabulary texts of 10 to 100 words,
    with planted exact and near copies of earlier documents."""
    texts: list[str] = []
    for m in rng.integers(10, 101, n):
        u = rng.random()
        if texts and u < p["doc_exact_copy_share"] + p["doc_near_copy_share"]:
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src if u < p["doc_exact_copy_share"] else _near_copy(rng, src))
        else:
            texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), m)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def sf_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the ten fixture tables (``{name}.parquet``) at ``scale`` and
    return their row counts. Schemas, key ranges and categorical domains
    are those of the sf0.1 fixtures; every value is drawn from the seed
    (see ``traffic.json`` for how the distributions differ)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_ev, n_doc, n_emb = int(1500000 * scale), int(1000000 * scale), \
        int(50000 * scale), int(20000 * scale)
    us_day = 86_400_000_000
    ts_us = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "steel"]
    noun = ["ring", "bolt", "gear", "pipe", "valve", "plate"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), n_part), rng.integers(0, len(noun), n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0, d1 = _us(datetime(1995, 1, 1)) // us_day, _us(datetime(2001, 8, 1)) // us_day
    odate = rng.integers(d0, d1 + 1, n_ord) * us_day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": _money(rng, 900, 500000, n_ord),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ok)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
                                  + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * us_day,
                               ts_us)})
    ev_t0 = _us(datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(ev_t0, ev_t0 + 30 * us_day, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.integers(0, int(15000 * scale), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(["signup", "click", "error", "view", "purchase"], n_ev)),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = documents(rng, n_doc, traffic()["query_mix"])
    emb = rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}
