"""Portable, oracle-checkable sketches (SURVEY.md sketch class; the
q157 template generalized).

Engine-native approx aggregates (``approx_count_distinct``,
``approx_percentile``, ``hll_sketch_agg``) are correct and fast but
their estimates are engine-private — no cross-engine twin can hash-match
them. These from-scratch sketches keep the same *shapes* that matter at
100 TB (constant-size mergeable register maps, map-side partials,
domain-bounded histograms) while every number is deterministic integer /
IEEE-double arithmetic that DuckDB reproduces bit-for-bit:

- 62-bit hash: two independent 31-bit LCG lanes over Mersenne-31
  (``similarity._hash_params``), packed ``hi * 2^31 + lo``.
- HyperLogLog registers: ``reg = hv & (m-1)``, ``rank = (63 - p) -
  bitlength(hv >> p)`` via ``bin()``-string length (identical builtin in
  Spark and DuckDB), per-group MAX — the mergeable shape.
- Estimate: raw harmonic fold from a shared literal table of exact
  ``2^-i`` doubles, plus the standard small-range linear-counting
  correction ``m * ln(m / V)`` made portable by reading ``ln(V)`` from a
  literal table indexed by the INTEGER empty-register count ``V`` in
  1..m — no runtime ``ln()``, so no libm divergence (the reason q157
  shipped raw-only).

The estimate is within ~1.04/sqrt(m) of exact for n >> 2.5m and far
tighter in the linear-counting regime; unit tests bound it against
exact distinct counts, parity hash-checks every register and digit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from kp_data_pipelines_spark.operators.similarity import (
    _MERSENNE,
    _hash_params,
)

#: max bit-length of the 62-bit packed hash
_HASH_BITS = 62


def _p_bits(m: int) -> int:
    p = m.bit_length() - 1
    if 1 << p != m:
        raise ValueError(f"register count m={m} must be a power of two")
    return p


def alpha_m2(m: int) -> float:
    """Flajolet's alpha_m * m^2 (the m>=128 closed form, matching q157's
    constant for m=64 — adequate because the unit tests, not the
    constant, carry the accuracy claim)."""
    return (0.7213 / (1 + 1.079 / m)) * float(m * m)


def ln_table(m: int) -> list[float]:
    """ln(1)..ln(m) as driver-side literals — both engines read the same
    doubles, so the linear-counting branch is cross-engine exact."""
    return [math.log(v) for v in range(1, m + 1)]


def pow2_table() -> list[float]:
    """Exact 2^-i doubles for the harmonic fold, i < _HASH_BITS + 2."""
    return [2.0**-i for i in range(_HASH_BITS + 2)]


def hll_hash62(x1: Column, x2: Column | None = None, seed: int = 23) -> Column:
    """62-bit portable hash: two LCG lanes over Mersenne-31 packed as
    ``hi * 2^31 + lo``. ``x1``/``x2`` are integer columns already in
    [0, 2^31-1) or arbitrary 64-bit ids (they fold through pmod first —
    sign-safe). Pass two independent inputs (e.g. two char-fold bases
    over the same text) to keep full 62-bit entropy; with one input the
    entropy is 31 bits, fine below ~10^8 distincts (q157's shape)."""
    (a1, b1), (a2, b2) = _hash_params(2, seed)
    if x2 is None:
        x2 = x1
    m1 = F.pmod(x1.cast("long"), F.lit(_MERSENNE))
    m2 = F.pmod(x2.cast("long"), F.lit(_MERSENNE))
    lane1 = (F.lit(a1) * m1 + F.lit(b1)) % _MERSENNE
    lane2 = (F.lit(a2) * m2 + F.lit(b2)) % _MERSENNE
    return lane1 * F.lit(1 << 31) + lane2


def hll_reg(hv: Column, m: int) -> Column:
    """Register index: low log2(m) bits."""
    _p_bits(m)
    return hv.bitwiseAND(F.lit(m - 1))


def hll_rank(hv: Column, m: int) -> Column:
    """Rank of the remaining 62-p bits: leading-zeros+1, computed as
    (63-p) - bitlength via bin()-string length (bin() drops leading
    zeros identically in Spark and DuckDB); all-zero rest saturates at
    63-p."""
    p = _p_bits(m)
    rest = F.shiftrightunsigned(hv, p)
    sat = _HASH_BITS - p + 1
    return F.when(rest > 0, F.lit(sat) - F.length(F.bin(rest))).otherwise(
        F.lit(sat)
    )


def hll_fold_registers(m: int) -> list[Column]:
    """Aggregate exprs over (reg, mr) register rows grouped per sketch
    key: ``n_regs`` (occupied registers) and ``s`` (harmonic sum folded
    in register order from the exact 2^-i literal table — the fixed fold
    order that makes the double bit-identical cross-engine)."""
    pow_tbl = F.array(*[F.lit(v) for v in pow2_table()])
    return [
        F.count(F.lit(1)).alias("n_regs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("reg", "mr"))),
            F.lit(0.0),
            lambda acc, s: acc + F.element_at(pow_tbl, s["mr"] + 1),
        ).alias("s"),
    ]


def hll_estimate(m: int, n_regs: Column, s: Column) -> Column:
    """Estimate from folded registers: raw harmonic estimate, switched
    to linear counting ``m * ln(m/V)`` when raw <= 2.5m and some
    registers are empty — the standard HLL small-range correction, made
    portable via the literal ln table (V is an integer in 1..m)."""
    ln_tbl = F.array(*[F.lit(v) for v in ln_table(m)])
    v_empty = (F.lit(m) - n_regs).cast("long")
    raw = F.lit(alpha_m2(m)) / (s + v_empty.cast("double"))
    linear = F.lit(float(m)) * (
        F.lit(math.log(m)) - F.element_at(ln_tbl, v_empty.cast("int"))
    )
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v_empty > 0), linear
    ).otherwise(raw)
