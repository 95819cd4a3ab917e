"""Twin parity for the engine-portable kernels (functions/portable.py and
the tokenizer and n-gram pairs in functions/text.py) and the curation
policies (the carve and split in functions/portable.py, the quality gate
in functions/quality.py), and the typed oracle contract.

Each kernel has a Spark form and a DuckDB SQL twin; the oracles only
agree with the operators if the twins agree bit for bit, so they are
compared here directly on hostile inputs rather than through a query.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    BLOOM_K,
    HLL_ALPHA_SCALED,
    HLL_M,
    HLL_POW49,
    bloom_any,
    bloom_bitmap,
    bloom_bitmap_sql,
    bloom_hit,
    bloom_hit_sql,
    bloom_probes_sql,
    doc_split,
    doc_split_sql,
    h60,
    h60_sql,
    hll_estimate,
    hll_estimate_col,
    hll_estimate_sql,
    hll_partials_sql,
    hll_rho,
    hll_rho_sql,
    in_sample,
    in_sample_sql,
    is_bench,
    is_bench_sql,
    mixture_rate,
    mixture_rate_sql,
)
from hadoop_mapreduce_spark.functions.quality import (
    avg_word_len,
    avg_word_len_sql,
    punct_count,
    punct_count_sql,
    punct_ratio,
    punct_ratio_sql,
    quality_pass,
    quality_pass_sql,
    quality_score,
    quality_score_sql,
)
from hadoop_mapreduce_spark.functions.text import (
    TOKS_SQL,
    ngrams_from_tokens,
    ngrams_sql,
    normalize_text,
    tokenize,
)

HOSTILE = [
    "", " ", "a", "A", "héllo wörld", "日本語 テキスト", "\x0b", "x\x0by",
    "  leading", "trailing  ", " \t\n\x0b\f\r mixed \x0b ws \r\n",
    "don't stop-me now!", "Agent 007 reporting 007", "\u00a0nbsp\u2003em",
    "tab\tsep\tvalues", "emoji 🙂 here", "a" * 300, "3:", "3:abc",
]


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def hostile(spark, duck):
    duck.execute("CREATE OR REPLACE TEMP TABLE hostile (i BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO hostile VALUES (?, ?)", list(enumerate(HOSTILE)))
    return spark.createDataFrame(list(enumerate(HOSTILE)), "i long, s string")


def test_h60_twins_agree(hostile, duck):
    got = {r.i: (r.h, r.h3) for r in hostile.select(
        "i", h60("s").alias("h"), h60(F.col("s"), seed=3).alias("h3")).collect()}
    seeded = h60_sql("'3:' || s")
    want = {i: (h, h3) for i, h, h3 in duck.execute(
        f"SELECT i, {h60_sql('s')}, {seeded} FROM hostile").fetchall()}
    assert got == want
    for i, s in enumerate(HOSTILE):
        assert got[i] == (_py_h60(s), _py_h60("3:" + s))
        assert 0 <= got[i][0] < 1 << 60


def test_hll_register_build_twins_agree(hostile, duck):
    got = sorted(tuple(r) for r in hll_rho(hostile, ["i"], "s").collect())
    want = sorted(duck.execute(
        f"SELECT i, {hll_rho_sql()} FROM "
        f"(SELECT i, {h60_sql('s')} AS hv FROM hostile)").fetchall())
    assert got == want
    for i, bucket, rho in got:
        hv = _py_h60(HOSTILE[i])
        q = hv // HLL_M
        assert (bucket, rho) == (hv % HLL_M, 49 if q == 0 else 49 - q.bit_length())


def test_tokenizer_twins_agree(hostile, duck):
    got = {r.i: list(r.t) for r in hostile.select(
        "i", tokenize(normalize_text("s")).alias("t")).collect()}
    want = dict(duck.execute(
        f"SELECT i, {TOKS_SQL} FROM (SELECT i, s AS text FROM hostile)").fetchall())
    assert got == want
    assert got[HOSTILE.index("x\x0by")] == ["x", "y"]
    assert got[HOSTILE.index("")] == []


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngram_window_twins_agree(hostile, duck, n):
    toks = tokenize(normalize_text("s"))
    got = {r.i: list(r.g) for r in hostile.select(
        "i", ngrams_from_tokens(toks, n).alias("g")).collect()}
    want = dict(duck.execute(
        f"SELECT i, {ngrams_sql('t', n)} FROM "
        f"(SELECT i, {TOKS_SQL} AS t FROM (SELECT i, s AS text FROM hostile))"
    ).fetchall())
    assert got == want
    for i, s in enumerate(HOSTILE):
        t = re.sub(r"[^a-zA-Z0-9\t\n\x0b\f\r ]+", "", s).lower().split()
        assert got[i] == [" ".join(t[j:j + n]) for j in range(len(t) - n + 1)]
    # shorter than n and empty documents emit nothing
    assert got[HOSTILE.index("")] == []
    assert got[HOSTILE.index("a")] == (["a"] if n == 1 else [])


def _py_estimate(n_hit: int, s_part: int) -> tuple[int, bool]:
    raw = HLL_ALPHA_SCALED / float(s_part + (HLL_M - n_hit) * HLL_POW49)
    v = HLL_M - n_hit
    if v > 0 and raw <= 2.5 * HLL_M:
        return math.floor(HLL_M * math.log(HLL_M / float(v)) + 0.5), True
    return math.floor(raw + 0.5), False


def test_hll_estimator_twins_agree_across_linear_counting_switch(spark, duck):
    # (n_hit, s_part) with every hit register at rank r: both sides of
    # the 2.5m switch with empty buckets left, and n_hit = m (no empties)
    cases = [(n, n * (1 << (49 - r)))
             for n in (1, 10, 1000, 2000, 3000, 4000, 4095, HLL_M)
             for r in (1, 2, 5, 12, 20)]
    ref = {c: _py_estimate(*c) for c in cases}
    assert {lc for _, lc in ref.values()} == {True, False}
    assert any(not lc and n < HLL_M for (n, _), (_, lc) in ref.items())
    df = spark.createDataFrame(cases, "n_hit long, s_part long")
    got = {(r.n_hit, r.s_part): r.est for r in df.select(
        "n_hit", "s_part", hll_estimate_col().alias("est")).collect()}
    vals = ", ".join(f"({n}, {s}::HUGEINT)" for n, s in cases)
    want = {(n, s): e for n, s, e in duck.execute(
        f"SELECT n_hit, s_part, {hll_estimate_sql()} FROM "
        f"(VALUES {vals}) v(n_hit, s_part)").fetchall()}
    assert got == want == {c: e for c, (e, _) in ref.items()}


def test_hll_estimate_twins_agree_on_registers(hostile, duck):
    regs = hll_rho(hostile, [], "s").groupBy("bucket").agg(F.max("rho").alias("r"))
    got = hll_estimate(regs.select("r"), [], "est").first().est
    want = duck.execute(
        f"WITH rb AS (SELECT {hll_rho_sql()} FROM "
        f"(SELECT {h60_sql('s')} AS hv FROM hostile)), "
        f"regs AS (SELECT bucket, max(rho) AS r FROM rb GROUP BY bucket), "
        f"est AS (SELECT {hll_partials_sql()} FROM regs) "
        f"SELECT {hll_estimate_sql()} FROM est").fetchone()[0]
    assert got == want == len(set(HOSTILE))


def _py_probes(key: str, m_bits: int) -> list[int]:
    """Reference KM probes from the two 15-hex md5 halves."""
    hx = hashlib.md5(key.encode()).hexdigest()
    h1, h2 = int(hx[:15], 16) % m_bits, int(hx[15:30], 16) % m_bits
    return [(h1 + i * h2) % m_bits for i in range(BLOOM_K)]


def _py_bloom(keys, m_bits: int, word_bits: int = 63) -> dict[int, int]:
    bm: dict[int, int] = {}
    for key in keys:
        for h in _py_probes(key, m_bits):
            bm[h // word_bits] = bm.get(h // word_bits, 0) | 1 << (h % word_bits)
    return bm


def _py_bloom_hit(key: str, bm: dict[int, int], m_bits: int) -> bool:
    return all(bm.get(h // 63, 0) >> (h % 63) & 1 for h in _py_probes(key, m_bits))


@pytest.mark.parametrize("m_bits", [1 << 14, 1 << 16])
def test_bloom_twins_agree(spark, hostile, duck, m_bits):
    got = bloom_bitmap(hostile, "s", m_bits).first().bm
    want = dict(duck.execute(bloom_bitmap_sql("hostile", "s", m_bits)).fetchall())
    ref = _py_bloom(HOSTILE, m_bits)
    assert got == want == ref
    # a 64-bit-word layout is a different bitmap: the comparison trips
    assert _py_bloom(HOSTILE, m_bits, word_bits=64) != got

    # hit verdicts on members and on keys that were never added
    probes = HOSTILE + [f"miss-{i}" for i in range(200)]
    pdf = spark.createDataFrame(list(enumerate(probes)), "i long, s string")
    bm = spark.createDataFrame([(got,)], "bm map<bigint, bigint>")
    rows = pdf.crossJoin(bm).select(
        "i", bloom_hit(F.col("s"), F.col("bm"), m_bits).alias("hit"),
        bloom_any(F.array("s"), F.col("bm"), m_bits).alias("any")).collect()
    hits = {r.i: r.hit for r in rows}
    assert hits == {r.i: r.any for r in rows}
    duck.execute("CREATE OR REPLACE TEMP TABLE bloom_probe (i BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO bloom_probe VALUES (?, ?)", list(enumerate(probes)))
    sql_hits = dict(duck.execute(
        f"WITH bitmap AS ({bloom_bitmap_sql('hostile', 's', m_bits)}), "
        f"p AS ({bloom_probes_sql('bloom_probe', 's', m_bits, 'i')}) "
        f"{bloom_hit_sql('p', 'bitmap', 'i', 'hit')}").fetchall())
    ref_hits = {i: _py_bloom_hit(s, ref, m_bits) for i, s in enumerate(probes)}
    assert hits == {i: bool(h) for i, h in sql_hits.items()} == ref_hits
    assert all(ref_hits[i] for i in range(len(HOSTILE)))  # no false negatives
    assert not all(ref_hits.values())


# --- curation policies -----------------------------------------------------

def _py_split(i: int) -> str:
    b = _py_h60(str(i)) % 100
    return "val" if b < 10 else "test" if b < 20 else "train"


def _ids_at_split_edges() -> list[int]:
    """0, ids on both sides of the carve's multiples of 20, and, for each
    split bucket edge (0|99, 9|10, 19|20), a positive and a negative id
    whose bucket sits on either side of it."""
    ids = [0, 1, -1, 19, 20, 21, -19, -20, -21, 39, 40, 41, 1 << 40,
           (1 << 40) + 1, -(1 << 40)]
    for b in (0, 9, 10, 19, 20, 99):
        for r in (range(1, 3000), range(-1, -3000, -1)):
            ids.append(next(i for i in r if _py_h60(str(i)) % 100 == b))
    return ids


def test_carve_and_split_twins_agree(spark, duck):
    ids = _ids_at_split_edges()
    df = spark.createDataFrame([(i,) for i in ids], "i long")
    got = {r.i: (r.b, r.s) for r in df.select(
        "i", is_bench("i").alias("b"), doc_split("i").alias("s")).collect()}
    vals = ", ".join(f"({i}::BIGINT)" for i in ids)
    want = {i: (b, s) for i, b, s in duck.execute(
        f"SELECT i, {is_bench_sql('i')}, {doc_split_sql('i')} "
        f"FROM (VALUES {vals}) v(i)").fetchall()}
    # NOT binds the parenthesised carve, not its left operand
    not_bench = dict(duck.execute(
        f"SELECT i, NOT {is_bench_sql('i')} FROM (VALUES {vals}) v(i)"
    ).fetchall())
    ref = {i: (i % 20 == 0, _py_split(i)) for i in ids}
    assert got == want == ref
    assert not_bench == {i: not b for i, (b, _) in ref.items()}
    assert {s for _, s in ref.values()} == {"val", "test", "train"}


SOURCES = ["src0", "src4", "src5", "src9", "src10", "src14", "src15",
           "src19", "web", "", "a7b20", None]


def test_sample_and_mixture_twins_agree(spark, hostile, duck):
    pct = F.col("i") * 5 % 101
    got = {r.i: (r.k, r.k3) for r in hostile.select(
        "i", in_sample(F.col("s"), pct, None).alias("k"),
        in_sample(F.col("s"), pct, 3).alias("k3")).collect()}
    sql_pct = "i * 5 % 101"
    want = {i: (k, k3) for i, k, k3 in duck.execute(
        f"SELECT i, {in_sample_sql('s', sql_pct, None)}, "
        f"{in_sample_sql('s', sql_pct, 3)} FROM hostile").fetchall()}
    ref = {i: (_py_h60(s) % 100 < i * 5 % 101,
               _py_h60("3:" + s) % 100 < i * 5 % 101)
           for i, s in enumerate(HOSTILE)}
    assert got == want == ref

    src = spark.createDataFrame([(s,) for s in SOURCES], "s string")
    got = [r.p for r in src.select(mixture_rate("s").alias("p")).collect()]
    vals = ", ".join("(NULL)" if s is None else f"('{s}')" for s in SOURCES)
    want = [p for (p,) in duck.execute(
        f"SELECT {mixture_rate_sql('s')} FROM (VALUES {vals}) v(s)").fetchall()]
    # no digits (or no name) keeps 10%; the first digit run is the index
    assert got == want == [100, 100, 50, 50, 25, 25, 10, 10, 10, 10, 50, 10]


def test_samples_and_sketches_ignore_file_layout(spark, tmp_path):
    """The same rows from the one-file fixture and from its tables split
    into 7 files each: sample membership and HLL registers are functions
    of the keys alone. A Bernoulli sample, seeded per partition, lacks
    this property."""
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    for table in ("orders", "events", "documents"):
        rows = pq.read_table(f"{SF_DIR}/{table}.parquet")
        out = tmp_path / f"{table}.parquet"
        out.mkdir()
        step = -(-rows.num_rows // 7)
        for i in range(7):
            pq.write_table(rows.slice(i * step, step), out / f"part-{i}.parquet")
    for name in ("hll_union_sources", "agg_approx_distinct",
                 "sample_seeded", "sample_stratified"):
        one = [tuple(r) for r in QUERIES[name](spark, SF_DIR).collect()]
        split = [tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect()]
        assert split == one, name


def _py_quality(s: str) -> tuple:
    """Reference signals: (punct, avg_word_len, punct_ratio, score)."""
    t = re.sub(r"[^a-zA-Z0-9\t\n\x0b\f\r ]+", "", s).lower().split()
    punct = sum(1 for c in s if not (c.isascii() and (c.isalnum() or c == "_"))
                and c not in "\t\n\x0b\f\r ")
    awl = sum(map(len, t)) / len(t) if t else 0.0
    pr = punct / len(s) if s else 0.0
    passes = (len(t) >= 5) + (3 <= awl <= 10) + (pr < 0.2)
    return punct, awl, pr, round(passes / 3.0, 4)


def test_quality_twins_agree(hostile, duck):
    toks = tokenize(normalize_text("s"))
    n_punct = punct_count("s")
    score = quality_score(toks, F.length("s"), n_punct)
    got = {r.i: tuple(r)[1:] for r in hostile.select(
        "i", n_punct, avg_word_len(toks), punct_ratio(n_punct, F.length("s")),
        score, quality_pass(score)).collect()}
    sc = quality_score_sql("t", "length(s)", punct_count_sql("s"))
    want = {r[0]: r[1:] for r in duck.execute(
        f"SELECT i, {punct_count_sql('s')}, {avg_word_len_sql('t')}, "
        f"{punct_ratio_sql(punct_count_sql('s'), 'length(s)')}, "
        f"{sc}, {quality_pass_sql(sc)} "
        f"FROM (SELECT i, s, {TOKS_SQL} AS t "
        f"FROM (SELECT i, s, s AS text FROM hostile))").fetchall()}
    ref = {i: (*q, q[3] >= 0.6) for i, q in
           ((i, _py_quality(s)) for i, s in enumerate(HOSTILE))}
    assert got == want == ref
    # \x0B is whitespace, not punctuation; empty input is defined
    assert got[HOSTILE.index("x\x0by")][0] == 0
    assert got[HOSTILE.index("")] == (0, 0.0, 0.0, 0.3333, False)


# The \x0B document passes the gate on its word lengths and its (zero)
# punctuation; the empty one exercises the empty-input guards. Document
# 4's source has no index, so the mixture keeps it at 10%.
POLICY_CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "alpha beta gamma" + "\x0b" * 10,
    "",
    "the quick brown fox jumps over the lazy dog",
    "spark joins scale well across many worker nodes today",
    "joins scale well across many worker nodes today again",
]


def test_quality_gate_queries_match_oracle_on_hostile_corpus(spark, tmp_path):
    import duckdb

    from hadoop_mapreduce_spark.registry import ORACLE, QUERIES
    from tools.oracle_check import canon

    recs = [(i, t, "en", "web" if i == 4 else f"src{i % 3}", len(t))
            for i, t in enumerate(POLICY_CORPUS)]
    sf = str(tmp_path)
    spark.createDataFrame(
        recs, "doc_id long, text string, lang string, source string,"
              " n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet/*.parquet')")
    try:
        quality = {r.doc_id: r.quality for r in
                   QUERIES["text_quality"](spark, sf).collect()}
        assert quality[1] == 0.6667 and quality[2] == 0.3333
        for name in ("text_quality", "pipeline_curation", "pipeline_pretrain",
                     "domain_mixture_sample"):
            sdf = QUERIES[name](spark, sf)
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            assert sorted(sdf.columns) == sorted(ocols), name
            assert canon(srows, sdf.columns) == canon(cur.fetchall(), ocols), name
    finally:
        con.close()


# --- typed oracle contract -------------------------------------------------

def _wide_columns(duck, sql: str) -> list[str]:
    """Columns whose Arrow type is DECIMAL (DuckDB HUGEINT arrives as
    decimal128(38, 0)); cursor.description reports both as NUMBER."""
    return [f"{f.name}:{f.type}" for f in duck.execute(sql).arrow().schema
            if pa.types.is_decimal(f.type)]


def test_typed_check_trips_on_uncast_sum(duck):
    assert _wide_columns(duck, "SELECT sum(x) AS s FROM (SELECT 1::BIGINT AS x)")
    assert not _wide_columns(
        duck, "SELECT sum(x)::BIGINT AS s FROM (SELECT 1::BIGINT AS x)")


def test_no_oracle_emits_decimal_or_hugeint(duck):
    from hadoop_mapreduce_spark.registry import ORACLE

    wide = {name: cols for name, sql in ORACLE.items()
            if (cols := _wide_columns(duck, sql))}
    assert wide == {}
