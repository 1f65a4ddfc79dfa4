"""Query registry: every operator exposed through the driver contract.

Each entry pairs an idiomatic-PySpark builder ``(spark, sf_dir) ->
DataFrame`` with (where SQL-expressible) a DuckDB oracle SQL string over
the same parquet tables. This is the engine's operator coverage for
SURVEY.md §2 plus the north-star extensions (§7.1 M4). Each domain
module declares its queries once, in its ``QUERIES`` table;
``_registry.REGISTRY`` merges the tables.

Cross-engine determinism rules (applied uniformly):

- **Decimal-cast sums.** ``SUM(double)`` is accumulation-order-dependent
  in both engines; at 32 shuffle partitions Spark's order differs from
  DuckDB's. Every SUM here casts its argument to DECIMAL(18,4) first —
  exact, order-independent, bit-identical — then casts the total back to
  DOUBLE. Averages are decimal-sum / count. Scale-4 ties are not
  representable in binary doubles, so both engines round identically.
- **Explicit aliases** on every computed column (driver hashes by
  column-name-sorted values).
- **Total tie-break orderings** wherever row identity matters (top-k,
  running windows, dedup): append the primary key to the ORDER BY.
- **UTC session timezone** (set in session.py) so timestamps compare
  bit-identically.

Cache ownership: builders that persist()/cache() an intermediate (the
BM25 per-doc tf relation, co-occurrence's capped token set, tf-idf's
(doc, term) rollup) deliberately do NOT unpersist it — the returned
DataFrame is lazy, so dropping the cache before the caller's action
would silently recompute the lineage and lose the benefit. Every such
plan is deterministic, so Spark's CacheManager dedupes repeat
invocations onto ONE entry per query shape (verified: re-persisting an
identical plan logs "already cached"), and MEMORY_AND_DISK storage
bounds pressure to spill, not OOM. Callers that need the memory back
own `spark.catalog.clearCache()`.
"""

from ._core import QueryFn
from ._registry import BENCH_HEADLINE, REGISTRY, oracle_sql, queries

__all__ = ["BENCH_HEADLINE", "QueryFn", "REGISTRY", "oracle_sql", "queries"]
