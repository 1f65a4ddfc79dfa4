"""Broadcast Bloom-filter semi-join reduction.

The 100 TB problem this solves: a fact table joins a dimension whose
qualifying-key set is too large to broadcast as ROWS (tens of millions
of keys × full row width) but whose MEMBERSHIP fits in a few kilobytes
of bitset. Shuffling the whole fact table to discover that 95% of its
rows match nothing is the single most expensive mistake a 1000-executor
join can make; Spark's own runtime-filter rule
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects exactly
this prune when statistics allow. This module is the explicit,
deterministic form: build the bitset distributed (one tiny shuffle of
(word, bits) pairs), collect the bounded bitset to the driver (model
state — `m_bits/8` bytes, 8 KiB at the default 2^16 bits), and filter
the fact side with pure codegen'd integer expressions BEFORE its
shuffle. False positives are removed by the exact join that follows, so
the result is bit-identical to the un-pruned join — the Bloom stage is
a physical optimization, never a semantics change.

Reference parity: the reference engine has no joins at all (SURVEY.md
§2.5); this is part of the engine's scale tier alongside
`operators/skew.py` and the as-of/range joins.

Determinism: probes use Spark-native ``xxhash64`` (fixed seed —
bit-reproducible across runs and partitionings WITHIN Spark, which is
the only place the bitset lives; the DuckDB oracle checks the exact
join's result, where the Bloom stage is invisible by construction).
Word index / bit mask stay on non-negative integer math (`pmod`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Size the bitset to the key count: ~10 bits/key keeps the false-
#: positive rate near 1% at k=4 (the default 2^16 suits <= ~6k keys;
#: FP rate degrades gracefully — the prune just passes more rows to
#: the exact join, never returns wrong results).
DEFAULT_M_BITS = 1 << 16
DEFAULT_K = 4

# 1 << (0..63) as SIGNED 64-bit patterns (bit 63 is the sign bit). A
# literal lookup table because PySpark's `shiftleft` wrapper only takes
# a Python-int shift amount, not a Column.
_BIT_MASKS = [
    (1 << i) - (1 << 64) if i == 63 else (1 << i) for i in range(64)
]


def _mask_for(bit: Column) -> Column:
    """`1 << (bit & 63)` via the literal mask table."""
    return F.element_at(F.lit(_BIT_MASKS), (F.pmod(bit, F.lit(64)) + 1).cast("int"))


def _probe_bits(key: Column, m_bits: int, k: int) -> list[Column]:
    """The ``k`` bit positions a key hashes to, via Kirsch–Mitzenmacher
    double hashing (ONE hash per key, not k): bit_i = (h1 + i·h2) mod m
    with h1 = low bits, h2 = high bits forced odd (odd step ⇔ coprime
    to the power-of-two m, so the k probes never collapse onto one
    cell). Same false-positive asymptotics as k independent hashes
    (Kirsch & Mitzenmacher 2006).

    Returned as a PLAIN Python list of expressions, never a
    `transform(sequence(...), ...)` array: higher-order-function
    lambdas are interpreted (no codegen) and re-evaluate the hash
    subtree per element — the lambda-staging lesson from the winnowing
    fix (SCALING.md), measured here as 4× on the probe pass. Unrolled
    expressions stay inside whole-stage codegen.

    The hash is Spark-native ``xxhash64`` (codegen'd, no string
    round-trip), NOT the repo's cross-engine md5 fold: the bitset
    never leaves Spark — correctness is enforced by the exact join
    downstream, and the oracle checks the JOIN's result, so
    within-Spark determinism (which xxhash64 with a fixed seed gives)
    is all the probe needs. Measured: md5 probes cost ~3× the whole
    plain-count scan; xxhash64 probes are scan-cost noise."""
    h = F.xxhash64(key)
    h1 = F.pmod(h, F.lit(m_bits))
    h2 = F.pmod(F.shiftright(h, 30), F.lit(m_bits)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> list[int]:
    """Distributed Bloom build: explode each key into its ``k`` bit
    positions, OR the masks per 64-bit word map-side (`bit_or` is
    algebraic — mergeable across any partitioning), and collect the
    bounded result. Driver traffic is <= ``m_bits/64`` (word, bits)
    rows — 1024 longs at the default size — independent of key count,
    the same bounded-model-state contract as the PQ codebooks."""
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64: {m_bits}")
    bit = F.explode(
        F.array(*_probe_bits(F.col(key_col), m_bits, k))
    ).alias("bit")
    words = (
        keys.select(bit)
        .select(
            F.shiftright(F.col("bit"), 6).alias("w"),
            _mask_for(F.col("bit")).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // 64)
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def bloom_might_contain(
    words: list[int],
    key: Column,
    k: int = DEFAULT_K,
) -> Column:
    """Membership predicate over a driver-held bitset: AND over the
    ``k`` probes of `array_literal[bit>>6] & (1<<(bit&63)) != 0`. Pure
    integer expressions inside whole-stage codegen — the bitset rides
    the serialized plan to every executor (8 KiB at 2^16 bits), no
    broadcast join, no shuffle, and the filter sits UNDER the fact
    side's exchange. No false negatives ever; false-positive rate at
    the defaults is (1-e^{-kn/m})^k ~ 0.24% for n=1000 keys."""
    m_bits = len(words) * 64
    arr = F.lit(words)
    cond = F.lit(True)
    for bit in _probe_bits(key, m_bits, k):
        word = F.element_at(arr, (F.shiftright(bit, 6) + 1).cast("int"))
        cond = cond & (word.bitwiseAND(_mask_for(bit)) != 0)
    return cond
