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
    the result is rounded half up (``fixed``). The only float steps
    are one division, one ln and the rounding, identical in any
    IEEE-754 engine.

  * the portable Bloom filter. A key's ``BLOOM_K`` probes come from
    one md5 digest by Kirsch–Mitzenmacher double hashing: h1 and h2 are
    the first and the next 15 hex digits (two disjoint 60-bit halves of
    the digest, so both fit a non-negative long), each mod m_bits, and
    probe i is (h1 + i * h2) mod m_bits. One md5 per key replaces k
    independent hashes at the same asymptotic false-positive rate. The
    bitmap stores probe h in word h div 63 at bit h mod 63, and a
    word's bits are the bit_or of its probes. Words hold 63 bits, not
    64, because DuckDB raises Out of Range on ``1 << 63``, so the sign
    bit is never used (1.6% of the bitmap). A key hits when all its
    probes are set; a word that no probe set is a miss.

  * the curation splits of a document id. The benchmark carve
    ``is_bench`` holds out 1 id in 20 (``id % 20 == 0``); the
    train/val/test split ``doc_split`` buckets ``h60`` of the id's
    decimal string mod 100 into val (< 10), test (< 20) and train.
    Bloom decontamination probes the benchmark's ``BENCH_BLOOM_N``-grams
    (4) in a ``BENCH_BLOOM_BITS``-bit filter (2^16).

  * the sample keep rule ``in_sample``: a row is kept when
    ``h60(key, seed) % 100 < pct``, so membership is a function of the
    key alone: the same at any cluster size or file layout, and stable
    as the table grows. The domain-mixture rate ``mixture_rate`` is the
    pct of a source by the index in its name: 100 below 5, 50 below 10,
    25 below 15, else 10 (also when the name has no digits).

  * fixed-point rounding. ``fixed(x, d)`` is x in BIGINT units of
    10^-d, ``floor(x * 10^d + 0.5)``, and ``half_up(x, d)`` is that
    count over 10^d, a double; the ``_sql`` twins are spelled so the
    same string parses in Spark SQL and in DuckDB. ``round(x, d)`` is
    not portable: Spark rounds the double's shortest decimal string
    HALF_UP and DuckDB rounds the scaled double, so a value near a
    decimal half can round apart. ``events_anomaly_mad``'s score
    0.6745 * 137.87 / 24.14 (3.8522499999999997, at sf0.1) rounds to
    3.8522 in Spark and 3.8523 in DuckDB at d = 4; an EWMA chain over
    micro-units lands on dyadic 6-dp halves where the two engines'
    half modes disagree (the differential fuzz found one on offsets
    [0, 0, 1465, 0, 0, 0]). The floor form is one IEEE multiply, add
    and floor, the same in any engine. Micro-unit totals use ``fixed``
    too; it differs from ``round(x * 10^d)`` only on negative exact
    halves and where adding 0.5 carries (0.49999999999999994 -> 1).

The tokenizer pair lives in ``functions/text.py``; the quality gate's
pair in ``functions/quality.py``. Hashes over other hex
widths (ring points, synthetic word picks) are different conventions and
stay at their call sites.
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


def fixed(x: Column, d: int) -> Column:
    """``x`` in BIGINT units of 10^-d, rounded half up."""
    scaled = x if d == 0 else x * F.lit(float(10 ** d))
    return F.floor(scaled + F.lit(0.5)).cast("long")


def fixed_sql(expr: str, d: int) -> str:
    """Spark SQL and DuckDB twin of :func:`fixed`."""
    scaled = f"({expr})" if d == 0 else f"({expr}) * 1e{d}"
    return f"CAST(floor({scaled} + 0.5) AS BIGINT)"


def half_up(x: Column, d: int) -> Column:
    """``x`` rounded half up to ``d`` decimals, a double."""
    return fixed(x, d) / F.lit(float(10 ** d))


def half_up_sql(expr: str, d: int) -> str:
    """Spark SQL and DuckDB twin of :func:`half_up`."""
    return f"{fixed_sql(expr, d)} / 1e{d}"


def is_bench(col: str) -> Column:
    """Whether the id column ``col`` is in the benchmark carve."""
    return F.col(col) % 20 == 0


def is_bench_sql(col: str) -> str:
    """DuckDB twin of :func:`is_bench`, parenthesised for ``NOT``."""
    return f"({col} % 20 = 0)"


BENCH_BLOOM_N = 4                     # benchmark n-gram width
BENCH_BLOOM_BITS = 1 << 16            # filter size in bits


def in_sample(key: Column, pct: Column | int,
              seed: int | str | None) -> Column:
    """Whether the row with the string ``key`` is in the ``pct`` percent
    sample of hash family ``seed`` (see :func:`h60`)."""
    return h60(key, seed) % 100 < pct


def in_sample_sql(key: str, pct: str | int, seed: int | str | None) -> str:
    """DuckDB twin of :func:`in_sample` over a VARCHAR expression."""
    keyed = key if seed is None else f"'{seed}:' || {key}"
    return f"({h60_sql(keyed)} % 100 < {pct})"


def mixture_rate(col: str) -> Column:
    """The domain-mixture keep pct of the source-name column ``col``."""
    # no digits: '' try_casts to NULL and takes the 10% branch on both
    # engines, where a plain cast raises (Spark under ANSI, DuckDB)
    idx = F.regexp_extract(F.col(col), r"(\d+)", 1).try_cast("int")
    return (F.when(idx < 5, F.lit(100)).when(idx < 10, F.lit(50))
            .when(idx < 15, F.lit(25)).otherwise(F.lit(10)))


def mixture_rate_sql(col: str) -> str:
    """DuckDB twin of :func:`mixture_rate`."""
    idx = f"try_cast(regexp_extract({col}, '([0-9]+)', 1) AS INT)"
    return (f"CASE WHEN {idx} < 5 THEN 100 WHEN {idx} < 10 THEN 50 "
            f"WHEN {idx} < 15 THEN 25 ELSE 10 END")


def doc_split(col: str) -> Column:
    """The split ('val', 'test' or 'train') of the id column ``col``."""
    bucket = h60(F.col(col).cast("string")) % 100
    return (F.when(bucket < 10, F.lit("val"))
            .when(bucket < 20, F.lit("test"))
            .otherwise(F.lit("train")))


def doc_split_sql(col: str) -> str:
    """DuckDB twin of :func:`doc_split`."""
    bucket = f"{h60_sql(f'{col}::VARCHAR')} % 100"
    return (f"CASE WHEN {bucket} < 10 THEN 'val' "
            f"WHEN {bucket} < 20 THEN 'test' ELSE 'train' END")


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
    return fixed(est, 0)


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
    return fixed_sql(f"CASE WHEN {v_empty} > 0 AND {raw} <= {2.5 * HLL_M}"
                     f" THEN {float(HLL_M)} * ln({float(HLL_M)} / {v_empty})"
                     f" ELSE {raw} END", 0)


BLOOM_K = 3                           # probes per key


def _bloom_h12(fh: Column, m_bits: int) -> tuple[Column, Column]:
    """The KM base pair (h1, h2) from an md5 hex column."""
    h1 = F.conv(F.substring(fh, 1, 15), 16, 10).cast("long") % m_bits
    h2 = F.conv(F.substring(fh, 16, 15), 16, 10).cast("long") % m_bits
    return h1, h2


def _bloom_word_mask(h: Column) -> tuple[Column, Column]:
    """(word, mask) of one probe value in the 63-bit-word layout."""
    # F.shiftleft takes only a literal shift; call_function takes a column
    mask = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (h % 63).cast("int"))
    return (h / 63).cast("long"), mask


def _bloom_h12_struct(fh: Column, m_bits: int) -> Column:
    """struct<h1, h2> of one md5 hex column."""
    h1, h2 = _bloom_h12(fh, m_bits)
    return F.struct(h1.alias("h1"), h2.alias("h2"))


def _bloom_hit(h12: Column, bm: Column, m_bits: int) -> Column:
    """All probes of one struct<h1, h2> set in the map<word, bits>
    column ``bm``: arithmetic and map lookups only, so it is safe
    inside an interpreted higher-order lambda."""
    out = None
    for i in range(BLOOM_K):
        word, mask = _bloom_word_mask((h12["h1"] + i * h12["h2"]) % m_bits)
        # element_at is NULL for a word no probe set: a miss
        hit = F.coalesce(
            F.element_at(bm, word).bitwiseAND(mask) != 0, F.lit(False))
        out = hit if out is None else out & hit
    return out


def bloom_bitmap(df: DataFrame, key: Column | str, m_bits: int) -> DataFrame:
    """One row ``bm: map<bigint, bigint>``, word -> bits, of the Bloom
    filter over the string ``key`` of every row of ``df``.

    One md5 per key; its probes are exploded from an array and folded
    by one bit_or aggregate with at most m_bits / 63 output rows, which
    ``collect_list`` turns into the map a probe side broadcasts. An
    empty ``df`` gives an empty map, which every key misses."""
    h1, h2 = _bloom_h12(F.col("fh"), m_bits)
    word, mask = _bloom_word_mask(F.col("h"))
    return (
        df.select(F.md5(key).alias("fh"))
        .select(F.explode(F.array(
            *[(h1 + i * h2) % m_bits for i in range(BLOOM_K)])).alias("h"))
        .select(word.alias("word"), mask.alias("mask"))
        .groupBy("word").agg(F.bit_or("mask").alias("bits"))
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "bits")))
             .alias("bm"))
    )


def bloom_hit(key: Column, bm: Column, m_bits: int) -> Column:
    """Whether the string ``key`` hits the bitmap column ``bm``."""
    return _bloom_hit(_bloom_h12_struct(F.md5(key), m_bits), bm, m_bits)


def bloom_any(grams: Column, bm: Column, m_bits: int) -> Column:
    """Whether any string of the array ``grams`` hits ``bm``.

    Higher-order lambdas run interpreted, without common-subexpression
    elimination, so the md5 and the two conv's are pinned to once per
    gram by chaining transforms (gram -> md5 hex -> struct<h1, h2>)
    before ``exists`` runs the arithmetic-only probe test."""
    h12 = F.transform(F.transform(grams, F.md5),
                      lambda fh: _bloom_h12_struct(fh, m_bits))
    return F.exists(h12, lambda s: _bloom_hit(s, bm, m_bits))


def bloom_probes_sql(rel: str, key: str, m_bits: int, keep: str = "") -> str:
    """DuckDB twin of the probe rows: a query giving ``keep`` columns
    and ``h`` for every probe of the VARCHAR ``key`` of each row of
    ``rel``."""
    k = f"{keep}, " if keep else ""
    return f"""SELECT {k}(h1 + k * h2) % {m_bits} AS h
  FROM (SELECT {k}('0x' || substr(fh, 1, 15))::UBIGINT::BIGINT % {m_bits} AS h1,
          ('0x' || substr(fh, 16, 15))::UBIGINT::BIGINT % {m_bits} AS h2
        FROM (SELECT {k}md5({key}) AS fh FROM {rel})),
    LATERAL (SELECT unnest({list(range(BLOOM_K))}) AS k) kk"""


def bloom_bitmap_sql(rel: str, key: str, m_bits: int) -> str:
    """DuckDB twin of :func:`bloom_bitmap` as rows: a query giving
    ``(word, bits)``, the bitmap's set words."""
    return f"""SELECT h // 63 AS word, bit_or(1::BIGINT << (h % 63)::INT) AS bits
  FROM ({bloom_probes_sql(rel, key, m_bits)}) GROUP BY 1"""


def bloom_hit_sql(probes: str, bitmap: str, keys: str, alias: str) -> str:
    """DuckDB twin of :func:`bloom_hit`: a query giving ``keys`` and
    ``alias``, 1 when every probe row of ``probes`` with those keys is
    set in the ``(word, bits)`` relation ``bitmap``, else 0."""
    return f"""SELECT {keys},
    min(CASE WHEN b.bits IS NOT NULL
              AND (b.bits & (1::BIGINT << (p.h % 63)::INT)) <> 0
         THEN 1 ELSE 0 END) AS {alias}
  FROM {probes} p LEFT JOIN {bitmap} b ON p.h // 63 = b.word
  GROUP BY {keys}"""
