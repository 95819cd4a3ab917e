"""Property-based tests (hypothesis) — SURVEY.md §5 item 3.

Invariants that must hold for arbitrary inputs, not just fixtures:
n-gram count conservation, tokenizer delete-semantics, dedup
idempotence, salted-aggregation equivalence.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.ngram import ngram_count
from hadoop_mapreduce_spark.operators.skew import salted_aggregate
from tests.conftest import union_find_components

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

lines = st.lists(
    st.text(alphabet=st.characters(codec="ascii"), min_size=0, max_size=80),
    min_size=1, max_size=8,
)


@given(docs=lines, n=st.integers(1, 4))
@settings(**_SETTINGS)
def test_ngram_count_conservation(spark, docs, n):
    """Sum of all n-gram counts == sum over docs of max(0, tokens - n + 1)
    (the reference's per-line arithmetic, report.md: 10 tokens -> 8 trigrams)."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["doc_id", "text"])
    got = ngram_count(df, "text", n=n, sort=False).agg(F.sum("cnt")).collect()[0][0] or 0
    # reference model with JAVA \s semantics ([ \t\n\x0b\f\r] only —
    # python's \s also matches \x1c-\x1f etc., which Java deletes)
    java_ws = " \t\n\x0b\f\r"
    want = 0
    for d in docs:
        cleaned = re.sub(rf"[^a-zA-Z0-9{java_ws}]+", "", d).lower()
        toks = [t for t in re.split(rf"[{java_ws}]+", cleaned) if t]
        want += max(0, len(toks) - n + 1)
    assert got == want


@given(docs=lines)
@settings(**_SETTINGS)
def test_ngram_keys_only_contain_normalized_chars(spark, docs):
    """Every emitted n-gram is lowercase [a-z0-9] words joined by single
    spaces — the delete-normalisation semantics (WordCount.java:76)."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["doc_id", "text"])
    keys = [r.ngram for r in ngram_count(df, "text", n=2, sort=False).collect()]
    assert all(re.fullmatch(r"[a-z0-9]+ [a-z0-9]+", k) for k in keys)


@given(docs=st.lists(st.sampled_from(["aa bb", "cc dd", "ee ff"]), min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_exact_dedup_idempotent_under_duplication(spark, docs):
    """Exact dedup of docs ∪ docs == exact dedup of docs (same survivor
    hashes), and every hash group keeps its minimum id."""
    base = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["doc_id", "text"])
    doubled = base.unionByName(base.withColumn("doc_id", F.col("doc_id") + 100))
    def survivors(df):
        return {
            r.content_hash: r.keep_id
            for r in df.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
            .groupBy("content_hash").agg(F.min("doc_id").alias("keep_id")).collect()
        }
    assert survivors(base) == survivors(doubled)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=1, max_size=30,
    ),
    n_salts=st.integers(2, 8),
)
@settings(**_SETTINGS)
def test_salted_aggregate_equals_plain_for_any_data(spark, rows, n_salts):
    df = spark.createDataFrame([(k, v) for k, v in rows], ["k", "v"])
    plain = {
        (r.k): (r.n, round(r.total, 6), r.lo, r.hi)
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi")).collect()
    }
    salted = {
        (r.k): (r.n, round(r.total, 6), r.lo, r.hi)
        for r in salted_aggregate(
            df, ["k"], {"n": "count(*)", "total": "sum(v)", "lo": "min(v)", "hi": "max(v)"},
            n_salts=n_salts).collect()
    }
    assert plain == salted


@given(
    n=st.integers(2, 10),
    edges=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                   min_size=0, max_size=12),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_cc_both_algorithms_match_union_find_model(spark, n, edges):
    """Alternating-star CC must equal a driver-side union-find model for
    arbitrary small graphs (self-loops, duplicate and reversed edges,
    out-of-range endpoints clipped)."""
    from hadoop_mapreduce_spark.operators.dedup import connected_components_star

    edges = [(a % n, b % n) for a, b in edges]
    want = union_find_components(range(n), edges)

    nodes_df = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    if edges:
        edges_df = spark.createDataFrame(edges, ["id1", "id2"])
    else:
        edges_df = spark.createDataFrame([], "id1 long, id2 long")
    got_star = {r.doc_id: r.comp
                for r in connected_components_star(nodes_df, edges_df).collect()}
    assert got_star == want


@given(
    changes=st.lists(
        st.tuples(
            st.integers(0, 4),                        # key
            st.floats(-100, 100, allow_nan=False),    # payload value
            st.sampled_from(["I", "U", "D"]),         # op
            st.one_of(st.none(), st.integers(0, 9)),  # seq (None = no LSN)
        ),
        min_size=1, max_size=12,
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_merge_apply_matches_dict_model(spark, changes):
    """merge_apply == a sequential dict model for arbitrary change
    batches: per key the winning change is max by (seq NULLS LOW, op,
    payload), then D deletes / I-U upsert."""
    from hadoop_mapreduce_spark.operators.cdc import merge_apply

    target = {0: 10.0, 1: 11.0, 2: 12.0}
    # model compaction: same ordering the operator's max_by struct uses
    win: dict[int, tuple] = {}
    for k, v, op, seq in changes:
        key = ((seq is not None, seq if seq is not None else 0), op, v)
        if k not in win or key > win[k][0]:
            win[k] = (key, v, op)
    want = dict(target)
    for k, (_, v, op) in win.items():
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    # round to dodge float printing differences (values pass through)
    want = {k: round(v, 6) for k, v in want.items()}

    tdf = spark.createDataFrame(list(target.items()), ["k", "val"])
    cdf = spark.createDataFrame(
        [(k, v, op, seq) for k, v, op, seq in changes],
        "k long, val double, op string, seq long",
    )
    got = {r.k: round(r.val, 6)
           for r in merge_apply(tdf, cdf, "k", seq_col="seq").collect()}
    assert got == want


@given(
    vec=st.lists(st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False,
                           width=32),
                 min_size=1, max_size=16),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_int8_quantization_error_bound_any_vector(spark, vec):
    """Symmetric int8 quantization: per-element reconstruction error
    <= scale/2 for arbitrary vectors (incl. all-zero: scale floors at
    1e-30 and the error is exactly 0)."""
    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-30)) / 127.0
    deq = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)) * scale)
    max_err = F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b)))
    row = df.select(max_err.alias("e"), scale.alias("s")).collect()[0]
    assert row.e <= row.s / 2 + 1e-12


@given(pairs=st.lists(
    st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
    min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_morton_interleave_bijective_and_monotone_prefix(spark, pairs):
    """The Morton code must be a bijection on 16-bit pairs (decodable by
    de-interleaving bits) — the property that makes z-prefix file cuts
    contiguous curve ranges."""
    from hadoop_mapreduce_spark.operators.layout import morton_interleave16

    df = spark.createDataFrame(pairs, "x: long, y: long").select(
        "x", "y", morton_interleave16(F.col("x"), F.col("y")).alias("z"))
    for r in df.collect():
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (x, y) == (r.x, r.y)


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=60), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_span_chunk_dedup_conserves_and_reconstructs(spark, texts):
    """For any corpus: kept <= total chunks, total kept == number of
    DISTINCT chunk contents (first-occurrence-wins covers each distinct
    chunk exactly once), and a doc losing nothing fingerprints to its
    own normalized text."""
    import hashlib

    from hadoop_mapreduce_spark.operators import dedup as dd
    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
    import hadoop_mapreduce_spark.operators.dedup as dedup_mod
    from unittest.mock import patch

    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long")
    with patch.object(dedup_mod, "load_table", lambda s, d, n: df):
        out = dd.dedup_span_chunks(spark, "ignored", chunk_tokens=2).collect()
    # model: chunks of 2 tokens, stride 2, python-side
    def chunks_of(t):
        toks = [w for w in re.split(r"\s+", re.sub(r"[^a-zA-Z0-9\s]+", "", t).lower()) if w]
        return [" ".join(toks[i:i + 2]) for i in range(0, len(toks), 2)]

    all_chunks = []
    per_doc = {}
    for i, t in enumerate(texts):
        cs = chunks_of(t)
        if cs:
            per_doc[i] = cs
            all_chunks.extend(cs)
    assert len(out) == len(per_doc)
    got_kept = sum(r.n_kept for r in out)
    assert got_kept == len(set(all_chunks))
    seen = set()
    for r in sorted(out, key=lambda r: r.doc_id):
        cs = per_doc[r.doc_id]
        assert r.n_chunks == len(cs)
        # first occurrence within the doc also dedupes in-doc repeats
        kept_model = []
        for c in cs:
            if c not in seen:
                seen.add(c)
                kept_model.append(c)
        assert r.n_kept == len(kept_model)
        want_fp = hashlib.md5(" ".join(kept_model).encode()).hexdigest()
        assert r.dedup_fp == want_fp


@given(
    data=st.data(),
    universe=st.integers(min_value=6, max_value=40),
    t_pct=st.sampled_from([50, 60, 70, 80, 90]),
)
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_prefix_filter_theorem_never_misses(data, universe, t_pct):
    """Property behind dedup_jaccard_prefix (PPJoin prefix filtering),
    checked against the EXACT formula the operator ships, including
    its FP-epsilon ceil: for any two sets with J(A,B) >= t under any
    global total order, the length-(n - ceil(t*n - 1e-9) + 1) prefixes
    must intersect. A miss here means the operator would silently drop
    a qualifying pair — the one failure mode the exact verify can't
    repair."""
    import math

    t = t_pct / 100.0
    a = data.draw(st.sets(st.integers(0, universe - 1), min_size=1,
                          max_size=universe))
    b = data.draw(st.sets(st.integers(0, universe - 1), min_size=1,
                          max_size=universe))
    inter = len(a & b)
    jac = inter / len(a | b)
    if jac < t:
        return  # theorem only constrains qualifying pairs
    # adversarial global order: drawn at random, applied consistently
    perm = data.draw(st.permutations(range(universe)))
    order = {tok: r for r, tok in enumerate(perm)}

    def prefix(s):
        p = len(s) - math.ceil(t * len(s) - 1e-9) + 1
        return set(sorted(s, key=order.__getitem__)[:p])

    assert prefix(a) & prefix(b), (
        f"prefix filter missed a qualifying pair: J={jac:.3f} >= t={t}")


@given(
    data=st.data(),
    universe=st.integers(min_value=6, max_value=40),
    t_pct=st.sampled_from([50, 60, 70, 80, 90]),
)
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_ppjoin_length_positional_filters_never_miss(data, universe, t_pct):
    """Property behind dedup_jaccard_prefix's r7 candidate predicate —
    the FULL PPJoin prune (prefix intersection AND length filter AND
    positional filter), with the exact FP-epsilon formulas the operator
    ships: for any qualifying pair under any global order, at least one
    shared prefix token must SURVIVE all three conditions. Each filter
    is individually sound, but the operator applies them conjointly on
    the same matched row, so the property must too."""
    import math

    t = t_pct / 100.0
    a = data.draw(st.sets(st.integers(0, universe - 1), min_size=1,
                          max_size=universe))
    b = data.draw(st.sets(st.integers(0, universe - 1), min_size=1,
                          max_size=universe))
    inter = len(a & b)
    jac = inter / len(a | b)
    if jac < t:
        return
    perm = data.draw(st.permutations(range(universe)))
    order = {tok: r for r, tok in enumerate(perm)}
    na, nb = len(a), len(b)

    # length filter exactly as shipped (least >= t*greatest - 1e-9)
    assert min(na, nb) >= t * max(na, nb) - 1e-9, (
        f"length filter dropped a qualifying pair: J={jac:.3f} >= t={t}")

    def ranked_prefix(s):
        p = len(s) - math.ceil(t * len(s) - 1e-9) + 1
        return {tok: rn + 1 for rn, tok in
                enumerate(sorted(s, key=order.__getitem__)[:p])}

    pa, pb = ranked_prefix(a), ranked_prefix(b)
    overlap_min = math.ceil(t / (1.0 + t) * (na + nb) - 1e-9)
    survivors = [
        tok for tok in (pa.keys() & pb.keys())
        if 1 + min(na - pa[tok], nb - pb[tok]) >= overlap_min
    ]
    assert survivors, (
        f"positional filter dropped every prefix match of a qualifying "
        f"pair: J={jac:.3f} >= t={t}, |A|={na}, |B|={nb}")


@given(texts=st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x10FFF,
                               blacklist_categories=("Cs",)),
        min_size=0, max_size=40),
    min_size=1, max_size=8))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_karp_rabin_expr_matches_python_reference(spark, texts):
    """The _kr_expr SQL Horner fold (winnowing's hash) must equal a
    direct Python implementation of the same recurrence at every
    k-gram start position, for arbitrary Unicode text — pinning the
    ascii()/element_at/coalesce semantics the portability argument
    rests on."""
    from hadoop_mapreduce_spark.operators.textstats import (
        KR_BASE, KR_MOD, _kr_expr,
    )

    def py_kr(codes, i):
        h = codes[i] if i < len(codes) else 0
        for j in range(1, 8):
            c = codes[i + j] if i + j < len(codes) else 0
            h = (h * KR_BASE + c) % KR_MOD
        return h

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, t string")
    out = df.selectExpr(
        "id",
        "transform(split(t, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS cs",
    ).selectExpr(
        "id",
        "transform(sequence(1, greatest(size(cs) - 7, 1)),"
        f" i -> {_kr_expr('cs', 'i', 8)}) AS hs",
    ).collect()
    for r in out:
        codes = [ord(c) for c in texts[r.id]]
        n = max(len(codes) - 7, 1)
        expect = [py_kr(codes, i) for i in range(n)]
        assert r.hs == expect, (texts[r.id], r.hs, expect)


@given(tokens=st.lists(
    st.text(alphabet="abcdefgh0123", min_size=1, max_size=6),
    min_size=1, max_size=60))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hll_registers_match_python_md5_reference(spark, tokens):
    """The portable-HLL register construction (bucket = h mod 2^12,
    rho = 49 - bitlength of h div 2^12) must match a direct Python md5
    reference for arbitrary token multisets — duplicates must not
    change any register."""
    import hashlib

    from hadoop_mapreduce_spark.functions.portable import HLL_M, hll_rho

    df = spark.createDataFrame([(t,) for t in tokens], "tk string")
    got = {
        (r.bucket, r.r)
        for r in hll_rho(df, [], "tk").groupBy("bucket")
        .agg(F.max("rho").alias("r")).collect()
    }
    regs: dict = {}
    for t in set(tokens):
        hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        b, v = hv % HLL_M, hv // HLL_M
        rho = 49 if v == 0 else 49 - v.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    assert got == set(regs.items())
