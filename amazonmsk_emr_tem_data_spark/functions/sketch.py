"""Mergeable cardinality-sketch primitives (Flajolet–Martin / HLL
family), shared by the batch distinct-sketch query and its streaming
twin.

Why a register sketch at 100 TB: COUNT(DISTINCT user) over a petabyte
stream either shuffles every distinct key (exact) or keeps kilobytes of
registers (sketch). The registers merge by MAX — algebraic, so they
combine map-side, across shards, across micro-batches, and across
days of history, all yielding the identical state. That merge-identity
is what the streaming twin proves against the batch oracle.

Determinism (the repo's cross-engine rule): everything derives from the
60-bit md5 fold (`md5_hash64`), and rho comes from the LOW bits'
lowest-set-bit position — `log2(w & -w)` is exact in IEEE doubles for
any power of two below 2^53, so both engines compute bit-identical
registers. No libm transcendental ever feeds a hash-checked value: the
estimator divides exact integers and rounds once.

DuckDB twin of `fm_register(x)`:

    j   = h % 64,  w = h // 64           (h = 60-bit md5 fold)
    rho = CASE WHEN w = 0 THEN 55
          ELSE CAST(log2(w & -w) AS BIGINT) + 1 END
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import md5_hash64

#: number of registers (m). 64 keeps the relative error ~1.04/sqrt(64)
#: = 13% — a monitoring-grade sketch whose whole state is 64 bytes.
M_REGISTERS = 64

#: rho cap: w has 60-6 = 54 bits, so the true maximum lsb position is
#: 54; w == 0 (probability 2^-54) reports 55, one past it.
RHO_MAX = 55

#: estimator terms are 2^(40 - min(rho, 40)): 64 terms <= 2^40 sum
#: exactly in a BIGINT (and in the doubles both engines fold them to).
RHO_SUM_CAP = 40

#: alpha_64 — the HLL bias constant for m = 64 (Flajolet et al. 2007:
#: alpha_m = 0.7213/(1 + 1.079/m) ~ 0.709 at m=64; the canonical
#: two-decimal constant is what both engines fold identically).
ALPHA_M2_POW = 0.709 * 4096.0 * 1099511627776.0  # alpha * m^2 * 2^40


def fm_register(key: Column) -> Column:
    """struct(j, rho) for one key: register index ``j`` from the low 6
    hash bits, ``rho`` = 1-based position of the lowest set bit of the
    remaining 54 bits (the geometric observable every FM-family sketch
    maxes over). Pure codegen'd integer ops + one exact log2."""
    h = md5_hash64(F.concat_ws("|", F.lit("dsk1"), key.cast("string")))
    w = F.shiftright(h, 6)
    rho = F.when(w == 0, F.lit(RHO_MAX)).otherwise(
        F.log2(w.bitwiseAND(-w).cast("double")).cast("long") + 1
    )
    return F.struct(
        F.pmod(h, F.lit(M_REGISTERS)).alias("j"), rho.alias("rho")
    )


def register_estimate(sum_terms: Column) -> Column:
    """Raw HLL estimate from the exact integer S = sum over all m
    registers of 2^(RHO_SUM_CAP - min(rho_j, RHO_SUM_CAP)) (empty
    registers contribute rho = 0, i.e. the full 2^40): est =
    alpha * m^2 * 2^40 / S, rounded to a BIGINT."""
    return F.round(F.lit(ALPHA_M2_POW) / sum_terms.cast("double")).cast(
        "long"
    )


def register_term(rho: Column) -> Column:
    """2^(RHO_SUM_CAP - min(rho, RHO_SUM_CAP)) as an exact BIGINT
    (pow(2, k) is IEEE-exact for k <= 40, cast truncates nothing)."""
    return F.pow(
        F.lit(2.0), F.lit(RHO_SUM_CAP) - F.least(rho, F.lit(RHO_SUM_CAP))
    ).cast("long")
