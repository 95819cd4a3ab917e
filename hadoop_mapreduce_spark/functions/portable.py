"""Engine-portable kernels: each convention in its Spark form and its
DuckDB SQL twin, side by side.

Every hash-derived query is replayed by a DuckDB oracle and compared
bit for bit, so both engines must compute the same integers. These are
the shared conventions, defined once per engine:

  * ``h60`` — the first 15 hex digits of md5, read as an integer. 60
    bits are always non-negative and fit a signed 64-bit long on both
    engines. A bucket is ``h60(x) % n``; a seeded hash family keys the
    value as ``"<seed>:" || x``. Engine-native hashes (xxhash64, murmur)
    are never used where an oracle must agree.
  * the portable HyperLogLog over m = 2^12 registers. Register build:
    bucket = h60 mod m; rho = 49 - bitlength(h60 div m), or 49 when
    that quotient is 0, via ``length(bin(...))`` on both engines;
    register = max rho. Estimator: sum(2^-r) is taken as the exact
    BIGINT sum(2^(49-r)) (at most m * 2^49 = 2^61), divided into
    alpha_m * m^2 * 2^49, precomputed once here and embedded as the same
    literal on both engines; linear counting m * ln(m / V) applies
    when V empty buckets remain and the raw estimate is at most 2.5m;
    the result is rounded half up. The only float steps are one
    division, one ln and the rounding, identical in any IEEE-754
    engine.

The tokenizer pair lives in ``functions/text.py``. Hashes over other hex
widths (ring points, Bloom double hashing, synthetic word picks) are
different conventions and stay at their call sites.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_P = 12
HLL_M = 1 << HLL_P                    # 4096 buckets
HLL_POW49 = 1 << 49                   # 2^49, the register scale
HLL_ALPHA_SCALED = 6.810691763087074e+21  # 0.7213/(1+1.079/m) * m^2 * 2^49

_RHO = ("CASE WHEN hv {div} {m} = 0 THEN 49 "
        "ELSE 49 - length(bin(hv {div} {m})) END")
_S_PART = "shiftleft(CAST(1 AS BIGINT), CAST(49 - r AS INT))"


def h60(col: Column | str, seed: int | str | None = None) -> Column:
    """60-bit md5 hash of a string column; ``seed`` keys it as
    ``"<seed>:" || col`` for independent hash families."""
    keyed = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB twin of :func:`h60` over a VARCHAR expression."""
    return f"('0x' || substr(md5({expr}), 1, 15))::UBIGINT::BIGINT"


def hll_rho(df: DataFrame, keys: list, value: Column | str) -> DataFrame:
    """``(*keys, bucket, rho)`` for every row of ``df``, hashing the
    string ``value``; registers are ``max(rho)`` per ``(*keys, bucket)``."""
    return df.select(*keys, h60(value).alias("hv")).select(
        *keys,
        (F.col("hv") % HLL_M).alias("bucket"),
        F.expr(_RHO.format(div="div", m=HLL_M)).alias("rho"),
    )


def hll_rho_sql() -> str:
    """DuckDB twin of :func:`hll_rho`: the ``bucket, rho`` select list
    over an h60 column named ``hv``."""
    return (f"hv % {HLL_M} AS bucket,\n"
            f"    {_RHO.format(div='//', m=HLL_M)} AS rho")


def hll_partials(hit: Column | str = "r") -> list:
    """Aggregates ``n_hit`` (count of ``hit``: buckets with a register)
    and ``s_part`` (exact sum of 2^(49-r)) over register rows."""
    return [F.count(hit).alias("n_hit"),
            F.sum(F.expr(_S_PART)).alias("s_part")]


def hll_partials_sql(hit: str = "r") -> str:
    """DuckDB twin of :func:`hll_partials`."""
    return (f"count({hit}) AS n_hit,\n"
            f"    sum(1::BIGINT << (49 - r)) AS s_part")


def hll_estimate_col() -> Column:
    """The rounded estimate from the ``n_hit`` and ``s_part`` columns."""
    s_scaled = (F.col("s_part")
                + (F.lit(HLL_M) - F.col("n_hit")) * F.lit(HLL_POW49))
    raw = F.lit(HLL_ALPHA_SCALED) / s_scaled.cast("double")
    v_empty = F.lit(HLL_M) - F.col("n_hit")
    lc = (F.lit(float(HLL_M))
          * F.log(F.lit(float(HLL_M)) / v_empty.cast("double")))
    est = F.when((v_empty > 0) & (raw <= F.lit(2.5 * HLL_M)), lc) \
        .otherwise(raw)
    return F.floor(est + F.lit(0.5)).cast("long")


def hll_estimate(regs: DataFrame, keys: list, alias: str = "est") -> DataFrame:
    """``(*keys, alias)``: the estimate of each key's registers ``r``."""
    est = regs.groupBy(*keys).agg(*hll_partials())
    return est.select(*keys, hll_estimate_col().alias(alias))


def hll_estimate_sql(rel: str | None = None) -> str:
    """DuckDB twin of :func:`hll_estimate_col` (a BIGINT expression) over
    the ``n_hit`` and ``s_part`` columns of ``rel``, or unqualified."""
    q = f"{rel}." if rel else ""
    v_empty = f"({HLL_M} - {q}n_hit)"
    raw = (f"{HLL_ALPHA_SCALED!r} / (({q}s_part + {v_empty} * {HLL_POW49})"
           f"::DOUBLE)")
    return (f"floor(CASE WHEN {v_empty} > 0 AND {raw} <= {2.5 * HLL_M}"
            f" THEN {float(HLL_M)} * ln({float(HLL_M)} / {v_empty})"
            f" ELSE {raw} END + 0.5)::BIGINT")
