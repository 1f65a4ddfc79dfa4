"""Output checks, run after the timed region. Each returns its failure
messages (none when the output is right) and needs no Spark, so the
tests can feed them corrupted outputs."""

from __future__ import annotations

import importlib.util
import os

import duckdb

from inputs import TEM_MEASURES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_KEY_COLS = ["id"] + TEM_MEASURES
_ALL_NULL = " AND ".join(f'"{c}" IS NULL' for c in ["id", "dateTime"] + TEM_MEASURES)
_TOL = "1e-9 * greatest(1.0, abs(e.\"Tem(Avg)\"))"


def _csv_relation(path: str) -> str:
    cols = {"id": "BIGINT", "dateTime": "VARCHAR", **{c: "DOUBLE" for c in TEM_MEASURES},
            "Tem(Avg)": "DOUBLE"}
    spec = ", ".join(f"'{k}': '{v}'" for k, v in cols.items())
    return (f"(SELECT * REPLACE (CAST(\"dateTime\" AS TIMESTAMPTZ) AS \"dateTime\") "
            f"FROM read_csv('{path}/*.csv', delim='|', header=true, auto_detect=false, "
            f"columns={{{spec}}}))")


def tem_sink_check(expected: str, sink: str, fmt: str,
                   planted_malformed: int) -> tuple[list[str], int]:
    """Every well-formed landed row appears exactly once in the sink with
    its values; `Tem(Avg)` matches the generator's mean; the all-NULL
    rows (malformed envelopes) number exactly the planted count. Returns
    the failures and the all-NULL row count."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE TABLE e AS SELECT * FROM read_parquet('{expected}')")
        rel = (f"read_parquet('{sink}/*.parquet')" if fmt == "parquet"
               else _csv_relation(sink))
        con.execute(f"CREATE TABLE s AS SELECT * FROM {rel}")
        fails = []
        (nulls,) = con.execute(f"SELECT count(*) FROM s WHERE {_ALL_NULL}").fetchone()
        if nulls != planted_malformed:
            fails.append(f"{fmt}: {nulls} malformed (all-NULL) rows, planted {planted_malformed}")
        (dups,) = con.execute(
            "SELECT count(*) FROM (SELECT \"dateTime\" FROM s WHERE \"dateTime\" IS NOT NULL "
            "GROUP BY 1 HAVING count(*) > 1)").fetchone()
        if dups:
            fails.append(f"{fmt}: {dups} rows written more than once")
        (missing,) = con.execute(
            "SELECT count(*) FROM e ANTI JOIN s USING (\"dateTime\")").fetchone()
        if missing:
            fails.append(f"{fmt}: {missing} landed rows missing")
        (extra,) = con.execute(
            "SELECT count(*) FROM s ANTI JOIN e USING (\"dateTime\") "
            "WHERE s.\"dateTime\" IS NOT NULL").fetchone()
        if extra:
            fails.append(f"{fmt}: {extra} rows that were never landed")
        differs = " OR ".join(f'e."{c}" IS DISTINCT FROM s."{c}"' for c in _KEY_COLS)
        (bad,) = con.execute(
            f"SELECT count(*) FROM e JOIN s USING (\"dateTime\") WHERE {differs} "
            f"OR (e.\"Tem(Avg)\" IS NULL) <> (s.\"Tem(Avg)\" IS NULL) "
            f"OR abs(e.\"Tem(Avg)\" - s.\"Tem(Avg)\") > {_TOL}").fetchone()
        if bad:
            fails.append(f"{fmt}: {bad} rows with wrong values or Tem(Avg)")
        return fails, nulls
    finally:
        con.close()


def query_check(name: str, got: tuple, want: tuple) -> list[str]:
    """Compare (sorted columns, type categories, Counter of normalised
    rows) as ``scripts/verify_driver.py`` builds them."""
    (gc, gt, gn), (wc, wt, wn) = got, want
    if gc != wc:
        return [f"{name}: columns {gc} != oracle {wc}"]
    if gt != wt:
        return [f"{name}: types {gt} != oracle {wt}"]
    if gn != wn:
        diff = list((gn - wn).items())[:2] or list((wn - gn).items())[:2]
        return [f"{name}: {sum(gn.values())} rows vs oracle {sum(wn.values())}, e.g. {diff}"]
    return []


def load_verify():
    """``scripts/verify_driver.py``: its type-strict normalisation is the
    comparison the query checks use."""
    spec = importlib.util.spec_from_file_location(
        "verify_driver", os.path.join(REPO, "scripts", "verify_driver.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
