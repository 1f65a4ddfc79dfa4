"""Build a key-offset-replicated copy of an sf fixture dir (default 10×)
so the scale suite (tests/test_scale.py) can measure scaling behavior —
the SCALING.md methodology, in reproducible form.

Facts replicate with shifted primary/foreign keys so per-copy join
integrity holds (lineitem.l_orderkey shifts with orders.o_orderkey);
dimensions (region/nation/customer/supplier/part) stay fixed, as in a
TPC-H scale-up. documents/embeddings replicate with shifted ids and
UNCHANGED content — every document lands in an identity group of
`factor` exact copies, the web-corpus dedup worst case the pair
operators must collapse. Multi-row-group parquet so scans split.

Usage:
    python scripts/make_scaled_fixtures.py [src_sf_dir] [dst_dir] [factor]
"""

from __future__ import annotations

import os
import sys

import duckdb

DIM_TABLES = ["region", "nation", "customer", "supplier", "part"]
#: table -> columns to offset per copy (key-space shift)
FACT_OFFSETS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build_scaled(src: str, dst: str, factor: int = 10) -> None:
    """Materialize the key-offset-replicated copy (importable so the
    pytest -m scale suite reuses the exact SCALING.md methodology)."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    for t in DIM_TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )

    for t, keys in FACT_OFFSETS.items():
        base = con.execute(
            f"SELECT {', '.join(f'MAX({k})' for k in keys)} "
            f"FROM read_parquet('{src}/{t}.parquet')"
        ).fetchone()
        shifted = ", ".join(
            f"({k} + copy * {m + 1}) AS {k}" for k, m in zip(keys, base)
        )
        others_cols = [
            d[0]
            for d in con.execute(
                f"SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0"
            ).description
            if d[0] not in keys
        ]
        cols = ", ".join([shifted] + others_cols)
        con.execute(
            f"COPY (SELECT {cols} "
            f"      FROM read_parquet('{src}/{t}.parquet') "
            f"      CROSS JOIN (SELECT unnest(range({factor})) AS copy)) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 200000)"
        )

    for t in [*DIM_TABLES, *FACT_OFFSETS]:
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{dst}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_scaled"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    build_scaled(src, dst, factor)


if __name__ == "__main__":
    main()
