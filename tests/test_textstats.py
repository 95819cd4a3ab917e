"""Semantic invariants for text-analysis operators (operators/
textstats.py) that the oracle comparison can't express. Oracle parity
for the SQL-expressible ones runs in tests/test_oracle_parity_all.py."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_unigram_logprob_quality_bounds(spark):
    """Scores are negative log-probs (strictly < 0), the flag count is
    bounded by docs, and the adaptive cut flags a strict, non-empty
    subset (the threshold sits 0.05 below the mean, so it can't flag
    everything and the fixture's planted repetition flags something)."""
    from hadoop_mapreduce_spark.operators.textstats import (
        unigram_logprob_quality,
    )

    rows = unigram_logprob_quality(spark, SF_DIR).collect()
    assert len(rows) == 20
    n = sum(r.n_docs for r in rows)
    flagged = sum(r.n_low_quality for r in rows)
    assert all(r.avg_logprob < 0 for r in rows)
    assert all(0 <= r.n_low_quality <= r.n_docs for r in rows)
    assert 0 < flagged < n


def test_hll_union_within_5pct_of_exact(spark):
    """Sketch invariant: every per-source estimate and the unioned
    __all__ estimate land within 5% of the exact distinct count (HLL
    registers are order-independent, so this is deterministic)."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.textstats import (
        _tokens,
        hll_union_sources,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select("source", F.explode(_tokens("text")).alias("tk"))
    exact = {r.source: r.n for r in tok.groupBy("source")
             .agg(F.countDistinct("tk").alias("n")).collect()}
    exact["__all__"] = tok.select("tk").distinct().count()
    for r in hll_union_sources(spark, SF_DIR).collect():
        want = exact[r.source]
        assert abs(r.est_distinct - want) <= max(1, 0.05 * want), \
            (r.source, r.est_distinct, want)


def test_bigram_lm_quality_matches_python_model(spark, tmp_path):
    """Exact-model check on a crafted corpus: the per-doc score must
    equal the pure-Python interpolated bigram LM to 6 dp, and the
    repetitive doc must out-score the doc full of one-off transitions."""
    import math
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import bigram_lm_quality

    texts = [
        "the cat sat on the mat and the cat sat on the mat",
        "the cat sat on the mat and the cat sat on the rug",
        "quantum flux capacitor resonates beneath crimson obelisks nightly",
        "the dog sat on the mat while the cat sat on the dog",
    ]
    tbl = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["crafted"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    toks = [t.split() for t in texts]
    uni: Counter = Counter(w for t in toks for w in t)
    n_uni = sum(uni.values())
    big: Counter = Counter((t[i], t[i + 1]) for t in toks
                           for i in range(len(t) - 1))
    ctx: Counter = Counter()
    for (w1, _), c in big.items():
        ctx[w1] += c

    def score(t):
        lps = [math.log(0.7 * big[(a, b)] / ctx[a] + 0.3 * uni[b] / n_uni)
               for a, b in zip(t, t[1:])]
        return sum(lps) / len(lps)

    want = {i + 1: round(score(t), 6) for i, t in enumerate(toks)}
    got = {r.doc_id: r.bigram_lp
           for r in bigram_lm_quality(spark, str(tmp_path)).collect()}
    assert got == want
    # doc 4 pairs common contexts with one-off continuations — under an
    # interpolated bigram LM that is the most surprising shape (note the
    # all-hapax doc 3 is NOT: a context seen once predicts its single
    # continuation with p = lam, so self-trained hapax runs score high)
    assert min(got, key=got.get) == 4
    # repetitive doc 1 scores above its one-edit sibling doc 2
    assert got[1] > got[2]


def _docs_table(tmp_path, texts, langs=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs or ["en"] * len(texts), pa.string()),
        "source": pa.array(["crafted"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_bm25_matches_python_reference(spark, tmp_path):
    """Score equality to 6 dp against a from-scratch Okapi BM25 with
    Lucene +1 idf, and the ranking sanity: the short doc dense in a
    rare term outranks the long doc with the same tf."""
    import math
    from collections import Counter

    from hadoop_mapreduce_spark.operators.textstats import bm25_search

    texts = [
        "spark join window spark",
        "spark " + "filler " * 40 + "join",
        "window join window join window",
        "nothing relevant here at all",
    ]
    sf = _docs_table(tmp_path, texts)
    toks = [t.split() for t in texts]
    n_docs, avgdl = len(toks), sum(map(len, toks)) / len(toks)
    terms = ("spark", "window", "join")
    df = Counter(t for tk in toks for t in set(tk) if t in terms)

    def score(tk):
        tf = Counter(t for t in tk if t in terms)
        s = 0.0
        for t, f in tf.items():
            idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * len(tk) / avgdl))
        return round(s, 6), len(tf)

    want = {i + 1: score(tk) for i, tk in enumerate(toks) if score(tk)[1]}
    got = {r.doc_id: (r.bm25, r.n_terms)
           for r in bm25_search(spark, sf).collect()}
    assert got == want
    assert 4 not in got  # no query term -> unscored (disjunctive, not scan)
    # doc 1 (dense, short) beats doc 2 (same spark tf=1? no: tf 2 vs 1)
    assert got[1][0] > got[2][0]


def test_token_entropy_extremes(spark, tmp_path):
    """Single-token doc: H=0, evenness defined 0; uniform doc:
    H=ln(d), evenness 1; repetitive doc sorts below diverse doc."""
    import math

    from hadoop_mapreduce_spark.operators.textstats import (
        token_entropy_quality,
    )

    texts = [
        "same same same same same same",        # d=1 -> H=0, evenness 0
        "alpha beta gamma delta epsilon zeta",  # uniform -> evenness 1
        "dup dup dup dup dup dup dup one",      # skewed
    ]
    sf = _docs_table(tmp_path, texts)
    rows = {r.doc_id: r for r in
            token_entropy_quality(spark, sf, k=10).collect()}
    assert rows[1].token_entropy == 0.0 and rows[1].evenness == 0.0
    assert rows[2].token_entropy == round(math.log(6), 6)
    assert rows[2].evenness == 1.0
    h3 = -(7 / 8 * math.log(7 / 8) + 1 / 8 * math.log(1 / 8))
    assert rows[3].token_entropy == round(h3, 6)
    ordered = [r.doc_id for r in sorted(rows.values(),
                                        key=lambda r: (r.token_entropy,
                                                       r.doc_id))]
    assert ordered == [1, 3, 2]


def test_jsd_identical_and_disjoint_langs(spark, tmp_path):
    """Identical unigram distributions -> JSD 0; disjoint vocab ->
    JSD = ln 2; an intermediate mix sits strictly between."""
    import math

    from hadoop_mapreduce_spark.operators.datamix import jsd_lang_divergence

    texts = ["tok alpha beta", "tok alpha beta",   # en, es: identical
             "uno dos tres",                        # fr: disjoint from en
             "tok alpha uno"]                       # de: overlaps both
    sf = _docs_table(tmp_path, texts, langs=["en", "es", "fr", "de"])
    rows = {(r.lang_a, r.lang_b): r.jsd
            for r in jsd_lang_divergence(
                spark, sf, langs=("de", "en", "es", "fr")).collect()}
    assert len(rows) == 6
    assert rows[("en", "es")] == 0.0
    assert rows[("en", "fr")] == round(math.log(2), 6)
    assert 0.0 < rows[("de", "en")] < round(math.log(2), 6)


def test_bpe_merge_step_invariants(spark):
    """Pair format is two single chars, counts descend with a total
    tie-break, and the top pair's weight is bounded by the corpus's
    total adjacent-pair mass (it can't exceed the count of its most
    frequent participating word times max word length)."""
    import re

    from hadoop_mapreduce_spark.operators.textstats import bpe_merge_step

    rows = bpe_merge_step(spark, SF_DIR).collect()
    assert len(rows) == 50
    assert all(re.fullmatch(r"\S \S", r.pair) for r in rows)
    keys = [(-r.cnt, r.pair) for r in rows]
    assert keys == sorted(keys)
    assert rows[0].cnt > 0


def test_inverted_index_postings_wellformed(spark):
    """Postings strings parse as doc:tf entries, hold at most 20
    entries in tf-desc order, cover df when df <= 20, and
    their tf mass never exceeds the term's total."""
    from hadoop_mapreduce_spark.operators.textstats import (
        inverted_index_topk,
    )

    rows = inverted_index_topk(spark, SF_DIR, k_terms=50).collect()
    assert rows
    for r in rows:
        entries = [tuple(map(int, e.split(":"))) for e in r.postings.split(",")]
        assert len(entries) == min(r.df, 20)
        tfs = [tf for _, tf in entries]
        assert tfs == sorted(tfs, reverse=True)
        assert sum(tfs) <= r.tf_total
        assert len({d for d, _ in entries}) == len(entries)  # distinct docs


def test_tokenizer_fertility_bounds(spark):
    """Fertility >= 1 (the BPE-ish regex never merges across
    whitespace, so it can only split words further) and doc counts
    cover the corpus."""
    from hadoop_mapreduce_spark.operators.textstats import (
        tokenizer_fertility,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = tokenizer_fertility(spark, SF_DIR).collect()
    assert rows
    assert sum(r.n_docs for r in rows) == load_table(
        spark, SF_DIR, "documents").count()
    for r in rows:
        assert r.fertility >= 1.0
        assert abs(r.fertility - r.bpe_tokens / r.ws_tokens) < 1e-12


def test_hll_portable_within_5pct_and_union_consistent(spark):
    """The portable-register HLL lands within 5% of exact distinct per
    source AND for the unioned __all__ row; the union estimate is also
    >= the max per-source estimate (register max can only grow)."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.textstats import (
        _tokens,
        hll_portable_union,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select("source", F.explode(_tokens("text")).alias("tk"))
    exact = {
        r.source: r.d
        for r in tok.groupBy("source")
        .agg(F.countDistinct("tk").alias("d")).collect()
    }
    exact["__all__"] = tok.select("tk").distinct().count()
    rows = hll_portable_union(spark, SF_DIR).collect()
    assert {r.source for r in rows} == set(exact)
    est = {r.source: r.est_distinct for r in rows}
    for src, e in est.items():
        assert abs(e - exact[src]) / exact[src] < 0.05, (src, e, exact[src])
    assert est["__all__"] >= max(v for k, v in est.items() if k != "__all__")


def test_winnowing_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al.): every doc yields at
    least one fingerprint, n_fp <= valid window starts, and — the
    algorithm's point — two docs sharing a long substring share a
    fingerprint hash (checked on planted near-dup pairs: identical
    normalised text => identical fingerprint sets => equal fp_xor)."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.text import normalize_text
    from hadoop_mapreduce_spark.operators.textstats import (
        winnowing_fingerprint,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    out = winnowing_fingerprint(spark, SF_DIR)
    rows = out.collect()
    docs_n = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == docs_n
    for r in rows:
        assert r.n_fp >= 1
        assert r.n_fp <= max(r.n_kgrams - 7, 1)
        assert r.fp_min_hash >= 0

    # identical compact text -> identical fingerprint digest. The sf
    # fixtures plant NEAR-dups but no byte-exact dups, so the check
    # runs on a planted pair (an empty dup_groups loop would be
    # vacuous — it originally was).
    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (2, "alpha  beta\tgamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    from hadoop_mapreduce_spark.operators.textstats import _winnow_selected
    sigs = {
        (r.doc_id, r.n, r.mn, r.x)
        for r in _winnow_selected(two).groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.expr("sel div 16777216")).alias("mn"),
            F.expr("bit_xor(sel div 16777216)").alias("x")).collect()
    }
    assert len({t[1:] for t in sigs}) == 1, sigs


def test_ccnet_buckets_partition_the_corpus(spark):
    """Per language: bucket doc counts differ by at most 1 (ntile),
    every doc lands in exactly one bucket, and head's mean logprob >=
    middle's >= tail's (the ordering the ranking is supposed to
    produce)."""
    from hadoop_mapreduce_spark.operators.textstats import (
        ccnet_perplexity_buckets,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = ccnet_perplexity_buckets(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    by_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, bs in by_lang.items():
        counts = [b.n_docs for b in bs.values()]
        assert max(counts) - min(counts) <= 1, (lang, counts)
        if {"head", "middle", "tail"} <= set(bs):
            assert bs["head"].avg_logprob >= bs["middle"].avg_logprob
            assert bs["middle"].avg_logprob >= bs["tail"].avg_logprob


def test_vocab_coverage_curve_monotone_and_exact(spark):
    """Coverage is monotone in k, bounded by 1, and the totals equal
    the exploded token stream's exact counts."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.textstats import (
        _tokens,
        vocab_coverage_curve,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = sorted(vocab_coverage_curve(spark, SF_DIR).collect(),
                  key=lambda r: r.vocab_k)
    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select(F.explode(_tokens("text")).alias("tk"))
    total = tok.count()
    n_types = tok.distinct().count()
    assert [r.vocab_k for r in rows] == [1000, 8000, 32000]
    for r in rows:
        assert r.total_occ == total
        assert r.n_types_kept == min(r.vocab_k, n_types)
        assert 0 < r.covered_occ <= r.total_occ
        assert 0 < r.coverage <= 1
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    # if the whole vocabulary fits under k, coverage must be exactly 1
    for r in rows:
        if r.vocab_k >= n_types:
            assert r.coverage == 1.0


def test_char_trigram_langid_covers_corpus_and_learns_scripts(tmp_path, spark):
    """On the shipped fixture lang labels are random relative to the
    text (every lang shares one vocabulary), so the meaningful checks
    are coverage + determinism there — and LEARNABILITY on a planted
    corpus whose languages genuinely differ in character distribution
    (incl. a CJK script the stopword heuristic is blind to): profiles
    fit on it must classify it near-perfectly."""
    from hadoop_mapreduce_spark.operators.textstats import (
        char_trigram_langid,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = char_trigram_langid(spark, SF_DIR).collect()
    total = sum(r.n for r in rows)
    assert total == load_table(spark, SF_DIR, "documents").count()
    assert rows == char_trigram_langid(spark, SF_DIR).collect()

    words = {
        "en": "the quick brown fox jumps over lazy dogs while reading",
        "de": "über während müssen schöne straße größer verfügbar zwölf",
        "es": "niño mañana corazón según añadir través explicación años",
        "zh": "数据 处理 系统 分布式 计算 引擎 查询 优化 聚合 窗口",
    }
    recs = []
    i = 0
    for lang, vocab in words.items():
        ws = vocab.split()
        for d in range(12):
            txt = " ".join(ws[(d + j) % len(ws)] for j in range(30))
            recs.append((i, txt, lang, "src0", len(txt)))
            i += 1
    df = spark.createDataFrame(
        recs, "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = char_trigram_langid(spark, sf).collect()
    n = sum(r.n for r in out)
    diag = sum(r.n for r in out if r.lang == r.pred_lang)
    assert n == 48
    assert diag / n >= 0.95, [(r.lang, r.pred_lang, r.n) for r in out]


def test_winnowing_neardup_pairs_invariants_and_planted(tmp_path, spark):
    """Structural invariants on the fixture (canonical id order,
    threshold respected, containment bounded) plus detection on a
    PLANTED corpus: an exact duplicate long document must be reported
    with containment 1.0, a prefix-copy (one doc contained in a longer
    one) must be reported with high containment, and an unrelated doc
    must pair with nothing."""
    from hadoop_mapreduce_spark.operators.textstats import (
        winnowing_neardup_pairs,
    )

    rows = winnowing_neardup_pairs(spark, SF_DIR).collect()
    for r in rows:
        assert r.id1 < r.id2
        assert r.shared_fp >= 8
        assert 0 < r.containment_e6 <= 1_000_000

    base = ("the quick brown fox jumps over the lazy dog while the "
            "engine shuffles partitions and broadcasts tiny dimension "
            "tables across the cluster every single day of the week")
    other = ("completely unrelated content about cooking pasta with "
             "tomatoes garlic and basil simmered slowly on a stove "
             "until the sauce thickens into a rich red ragu tonight")
    recs = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),                    # exact dup
        (3, base + " plus an extra trailing clause appended here",
         "en", "s", 0),                                      # contains base
        (4, other, "en", "s", len(other)),                   # unrelated
    ]
    df = spark.createDataFrame(
        recs, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    got = {(r.id1, r.id2): r for r in
           winnowing_neardup_pairs(spark, sf).collect()}
    assert (1, 2) in got and got[(1, 2)].containment_e6 == 1_000_000
    assert (1, 3) in got and got[(1, 3)].containment_e6 >= 900_000
    assert not any(4 in p for p in got)


def test_skipgram_cooccurrence_matches_python_reference(spark, tmp_path):
    """PMI equality to 6 dp against a from-scratch windowed (±3)
    co-occurrence model, and the semantic point: a pair that only ever
    appears together inside the window outranks a frequent-but-
    independent pair."""
    import math
    from collections import Counter

    from hadoop_mapreduce_spark.operators.textstats import (
        skipgram_cooccurrence,
    )

    texts = [
        "alpha beta gap gap gap alpha beta noise",
        "noise alpha beta filler filler alpha beta",
        "filler gap noise filler gap noise filler gap",
        "alpha beta alpha beta noise gap filler noise",
        "gap filler noise gap filler noise gap filler",
    ]
    sf = _docs_table(tmp_path, texts)

    window, min_count = 3, 5
    uni: Counter = Counter()
    pairs: Counter = Counter()
    n_pair = 0
    for t in texts:
        toks = t.split()
        uni.update(toks)
        for i in range(len(toks)):
            for d in range(1, window + 1):
                if i + d < len(toks):
                    a, b = sorted((toks[i], toks[i + d]))
                    pairs[(a, b)] += 1
                    n_pair += 1
    n_uni = sum(uni.values())
    expected = {}
    for (a, b), c12 in pairs.items():
        if c12 >= min_count:
            expected[(a, b)] = round(
                math.log((c12 / n_pair)
                         / ((uni[a] / n_uni) * (uni[b] / n_uni))), 6)

    got = {(r.w1, r.w2): (r.n_cooc, r.pmi)
           for r in skipgram_cooccurrence(spark, sf).collect()}
    assert set(got) == set(expected)
    for k, pmi in expected.items():
        assert got[k][0] == pairs[k]
        assert abs(got[k][1] - pmi) < 1e-9, k
    # 'alpha beta' always co-occur adjacently; 'gap filler' are frequent
    # but also appear apart — PMI must rank the bound pair higher
    assert got[("alpha", "beta")][1] > got[("filler", "gap")][1]


def test_stopword_discovery_df_semantics(spark, tmp_path):
    """df counts DOCUMENTS, not occurrences: a term repeated many times
    in one doc ranks below a term spread across all docs; fractions are
    exact floor divisions of df by the language's doc count."""
    from hadoop_mapreduce_spark.operators.textstats import stopword_discovery

    texts = [
        "the cat sat",
        "the dog ran ran ran ran ran ran",   # 'ran' tf=6 but df=1
        "the bird flew",
        "a the b",
    ]
    sf = _docs_table(tmp_path, texts)
    rows = stopword_discovery(spark, sf).collect()
    by_term = {r.term: r for r in rows}
    assert by_term["the"].rank == 1
    assert by_term["the"].df == 4 and by_term["the"].tf == 4
    assert by_term["the"].df_frac_e6 == 1_000_000
    assert by_term["ran"].df == 1 and by_term["ran"].tf == 6
    # df-first ordering: 'ran' (df=1) ranks below any df>=2 term
    assert by_term["ran"].rank > by_term["the"].rank


def test_ngram_diversity_audit_exact_counts(spark, tmp_path):
    """Hand-checked distinct-n: 'a b a b' has 4 unigrams (2 distinct),
    3 bigrams ('a b','b a','a b' -> 2 distinct), 2 trigrams (both
    distinct); a fully-repetitive doc drives the ratio down while a
    unique doc holds it at 1e6."""
    from hadoop_mapreduce_spark.operators.textstats import (
        ngram_diversity_audit,
    )

    sf = _docs_table(tmp_path, ["a b a b", "x y z"])
    rows = {(r.source, r.n): r for r in
            ngram_diversity_audit(spark, sf).collect()}
    r1 = rows[("crafted", 1)]
    assert (r1.total_grams, r1.distinct_grams) == (7, 5)  # a,b + x,y,z
    r2 = rows[("crafted", 2)]
    # bigrams: 'a b','b a','a b' + 'x y','y z' -> 5 total, 4 distinct
    assert (r2.total_grams, r2.distinct_grams) == (5, 4)
    assert r2.distinct_frac_e6 == 4 * 1_000_000 // 5
    r3 = rows[("crafted", 3)]
    # trigrams: 'a b a','b a b' + 'x y z' -> 3 total, 3 distinct
    assert (r3.total_grams, r3.distinct_grams) == (3, 3)
    assert r3.distinct_frac_e6 == 1_000_000


def test_ngram_diversity_audit_short_docs(spark, tmp_path):
    """Docs shorter than n contribute nothing at that n — a 1-token
    corpus yields no bigram/trigram rows at all (no zero-division)."""
    from hadoop_mapreduce_spark.operators.textstats import (
        ngram_diversity_audit,
    )

    sf = _docs_table(tmp_path, ["solo"])
    rows = ngram_diversity_audit(spark, sf).collect()
    assert [(r.n, r.total_grams) for r in rows] == [(1, 1)]


def test_fightin_words_planted_term(spark, tmp_path):
    """A term used heavily by one source and never by the other must
    rank #1 for that source with z > 0, and symmetric planting ranks
    the other source's term first there; z agrees with a from-scratch
    numpy implementation of Monroe et al.'s formula to 6 dp."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import fightin_words

    texts = ["alpha alpha alpha common common",
             "beta beta beta common common"]
    srcs = ["s1", "s2"]
    tbl = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 2, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = fightin_words(spark, str(tmp_path)).collect()
    top = {r.source: r for r in rows if r.rank == 1}
    assert top["s1"].term == "alpha" and top["s1"].z > 0
    assert top["s2"].term == "beta" and top["s2"].z > 0

    # replicate z for ("s1", "alpha") exactly
    y_iw, y_w, n_i, n, a0 = 3, 3, 5, 10, 1000.0
    aw = a0 * y_w / n
    yj, nj = y_w - y_iw, n - n_i
    d = (math.log((y_iw + aw) / (n_i + a0 - y_iw - aw))
         - math.log((yj + aw) / (nj + a0 - yj - aw)))
    z = round(d / math.sqrt(1 / (y_iw + aw) + 1 / (yj + aw)), 6)
    assert abs(top["s1"].z - z) < 2e-6


def test_kwic_concordance_edges(spark, tmp_path):
    """Term at document start has empty left context; mid-doc hits
    carry exactly `width` tokens each side; repeated hits in one doc
    emit one row per position."""
    from hadoop_mapreduce_spark.operators.textstats import (
        kwic_concordance,
    )

    sf = _docs_table(tmp_path, [
        "spark a b c spark d e",
        "x y z w spark",
    ])
    rows = kwic_concordance(spark, sf).collect()
    assert [(r.doc_id, r.pos) for r in rows] == [(1, 0), (1, 4), (2, 4)]
    r0, r1, r2 = rows
    assert r0.left_ctx == "" and r0.right_ctx == "a b c"
    assert r1.left_ctx == "a b c" and r1.right_ctx == "d e"
    assert r2.left_ctx == "y z w" and r2.right_ctx == ""


def test_compression_ratio_quality_exact_and_property(spark, tmp_path):
    """Exact twin against Python zlib for every doc, and the signal
    property: a 50x-repeated sentence compresses far below the flag
    threshold while unique-ish text stays above it."""
    import zlib

    from hadoop_mapreduce_spark.operators.textstats import (
        compression_ratio_quality,
    )

    rep = "the same sentence again and again " * 50
    uniq = ("quick brown foxes jump over sixteen lazy dogs while "
            "zebras quietly graze beyond the violet mountain ridge")
    sf = _docs_table(tmp_path, [rep, uniq])
    [r] = compression_ratio_quality(spark, sf).collect()
    expect_z = sum(len(zlib.compress(t.encode(), 6)) for t in (rep, uniq))
    expect_raw = len(rep) + len(uniq)
    assert (r.raw_bytes, r.z_bytes) == (expect_raw, expect_z)
    assert r.corpus_ratio_e6 == expect_z * 1_000_000 // expect_raw
    assert r.n_flagged == 1  # only the repeated doc flags


def test_pii_redact_audit_recipe_and_real_matches(spark, tmp_path):
    """doc_ids 3/5/7 receive exactly one injected email/phone/IP each
    (doc 15 gets email+phone), doc 1 gets nothing, and a REAL email in
    the text is counted without any injection. pii_chars equals the
    summed lengths of a python re replay of the same patterns."""
    import hashlib
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import (
        PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE, pii_redact_audit,
    )

    ids = [1, 3, 5, 7, 15]
    texts = ["plain words here", "alpha beta", "gamma delta",
             "epsilon zeta", "reach me at alice@example.com thanks"]
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 5, pa.string()),
        "source": pa.array(["s"] * 5, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    def inject(doc_id, text):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        n = [int(h[o:o + 8], 16) for o in (0, 8, 16, 24)]
        out = text
        if doc_id % 3 == 0:
            out += f" contact u{h[:6]}@mail{h[6:10]}.com"
        if doc_id % 5 == 0:
            out += (f" call +1-{n[0] % 900 + 100}-{n[1] % 900 + 100}"
                    f"-{n[2] % 9000 + 1000}")
        if doc_id % 7 == 0:
            out += (f" host {n[0] % 256}.{n[1] % 256}.{n[2] % 256}"
                    f".{n[3] % 256}")
        return out

    exp_chars = exp_e = exp_p = exp_i = with_pii = 0
    for doc_id, text in zip(ids, texts):
        t = inject(doc_id, text)
        e = re.findall(PII_EMAIL_RE, t)
        p = re.findall(PII_PHONE_RE, t)
        ip = re.findall(PII_IP_RE, t)
        exp_e += len(e); exp_p += len(p); exp_i += len(ip)
        exp_chars += sum(len(m) for m in e + p + ip)
        with_pii += 1 if (e or p or ip) else 0

    row = pii_redact_audit(spark, str(tmp_path)).collect()[0]
    assert (row.n_emails, row.n_phones, row.n_ips) == (exp_e, exp_p, exp_i)
    assert row.n_emails == 3          # docs 3, 15 injected + real alice@
    assert (row.docs_with_pii, row.pii_chars) == (with_pii, exp_chars)


def test_readability_scores_hand_computed(spark, tmp_path):
    """'the cat runs' = 3 words / 3 syllables / 1 pseudo-sentence ->
    Flesch 119.19; 'beautiful' is polysyllabic (eau,i,u = 3 runs);
    a vowel-free token still counts 1 syllable (the min clamp)."""
    from hadoop_mapreduce_spark.operators.textstats import (
        readability_scores,
    )

    sf = _docs_table(tmp_path, ["the cat runs", "beautiful grr"])
    row = readability_scores(spark, sf).collect()[0]
    # doc1: w=3 sy=3 poly=0; doc2: w=2 sy=3+1=4 poly=1 (beautiful)
    assert (row.words, row.syllables, row.polysyllables) == (5, 7, 1)
    assert row.sentences == 2
    w, s, sy = 5, 2, 7
    import math
    expect = 206.835 - 1.015 * (w / s) - 84.6 * (sy / w)
    assert abs(row.flesch - expect) < 2e-6
    assert row.syl_per_word_e6 == 7 * 1_000_000 // 5
    assert row.poly_rate_e6 == 1_000_000 // 5


def test_vocab_growth_heaps_monotone_and_exact(spark, tmp_path):
    """Cumulative docs/tokens/vocab are non-decreasing, the final
    checkpoint equals the exact corpus totals, and a python replay of
    the md5-bucket prefix family reproduces every vocab count."""
    import hashlib

    from hadoop_mapreduce_spark.operators.textstats import (
        vocab_growth_heaps,
    )

    texts = [f"w{i % 7} shared common t{i}" for i in range(40)]
    sf = _docs_table(tmp_path, texts)
    rows = vocab_growth_heaps(spark, sf).collect()
    assert [r.checkpoint for r in rows] == sorted(
        {r.checkpoint for r in rows})
    for a, b in zip(rows, rows[1:]):
        assert b.docs_cum >= a.docs_cum
        assert b.tokens_cum >= a.tokens_cum
        assert b.vocab_cum >= a.vocab_cum
    last = rows[-1]
    vocab = set()
    toks = 0
    buckets = {}
    for i, t in enumerate(texts, start=1):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 16
        buckets.setdefault(h, []).append(t.split())
        toks += len(t.split())
        vocab.update(t.split())
    assert (last.docs_cum, last.tokens_cum, last.vocab_cum) == (
        40, toks, len(vocab))
    for r in rows:
        pv = set()
        for b in range(r.checkpoint + 1):
            for ws in buckets.get(b, []):
                pv.update(ws)
        assert r.vocab_cum == len(pv)


def test_keyphrase_rake_degree_over_freq(spark, tmp_path):
    """'deep learning' appears as a 2-word phrase twice; 'cat' appears
    alone three times.  RAKE: degree(deep)=4, freq=2, score 2.0 beats
    cat's 3/3 = 1.0 despite lower frequency."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import keyphrase_rake

    texts = [
        "deep learning is the cat",
        "a deep learning cat",
        "the cat",
    ]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 3, pa.string()),
        "source": pa.array(["s"] * 3, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.word: r for r in keyphrase_rake(spark, str(tmp_path)).collect()}
    # phrases: (deep learning) (cat) / (deep learning cat) / (cat)
    assert (rows["deep"].freq, rows["deep"].degree) == (2, 5)
    assert (rows["learning"].freq, rows["learning"].degree) == (2, 5)
    assert (rows["cat"].freq, rows["cat"].degree) == (3, 5)
    assert rows["deep"].rake_e6 == 2_500_000
    assert rows["cat"].rake_e6 == 5_000_000 // 3
    # 'the', 'is', 'a' are stopword boundaries, never emitted
    assert "the" not in rows and "is" not in rows and "a" not in rows


def test_term_burstiness_separates_bursty_from_uniform(spark, tmp_path):
    """'uniformword' appears once in each of 20 docs (VMR ~ (20*20-400)
    /(20*20)=0 -> Poisson-ish ~0); 'burstyword' appears 20 times in ONE
    doc: VMR = (400*20-400)/(400... ) >> 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import term_burstiness

    texts = ["uniformword filler"] * 20
    texts[0] = "uniformword filler " + " ".join(["burstyword"] * 20)
    tbl = pa.table({
        "doc_id": pa.array(list(range(20)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 20, pa.string()),
        "source": pa.array(["s"] * 20, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.term: r for r in term_burstiness(spark, str(tmp_path)).collect()}
    u, b = out["uniformword"], out["burstyword"]
    assert (u.df, u.cf, u.s2) == (20, 20, 20)
    # VMR = (s2*N - cf^2)/(cf*N) = (400-400)/400 = 0.0
    assert abs(u.burstiness - 0.0) < 1e-9
    assert (b.df, b.cf, b.s2) == (1, 20, 400)
    # (400*20 - 400)/(20*20) = 19.0
    assert abs(b.burstiness - 19.0) < 1e-9
    assert "filler" in out and abs(out["filler"].burstiness) < 1e-9


def test_doc_position_profile_front_loaded_stopwords(spark, tmp_path):
    """10-token docs with 'the' at position 0 only: decile 0 has
    stop_rate 1.0, every other decile 0.0; word lengths exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import (
        doc_position_profile,
    )

    text = "the " + " ".join(f"w{i:02d}" for i in range(9))  # 10 tokens
    tbl = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": pa.array([text, text], pa.string()),
        "lang": pa.array(["en"] * 2, pa.string()),
        "source": pa.array(["s"] * 2, pa.string()),
        "n_chars": pa.array([len(text)] * 2, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.decile: r for r in
           doc_position_profile(spark, str(tmp_path)).collect()}
    assert sorted(out) == list(range(10))
    assert out[0].stop_rate_e6 == 1_000_000 and out[0].n_tokens == 2
    for d in range(1, 10):
        assert out[d].stop_rate_e6 == 0
        assert out[d].avg_wlen_e6 == 3_000_000  # 'wNN' = 3 chars
    assert out[0].avg_wlen_e6 == 3_000_000  # 'the' = 3 chars too


def test_text_tiling_boundaries_topic_shift(spark, tmp_path):
    """40-token doc: blocks 0-1 share zero vocabulary (hard topic
    shift) -> gap overlap 0, flagged; a doc with identical blocks has
    overlap 1.0, no boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import (
        text_tiling_boundaries,
    )

    shift = (" ".join(f"alpha{i}" for i in range(20)) + " "
             + " ".join(f"beta{i}" for i in range(20)))
    same_block = " ".join(f"w{i}" for i in range(20))
    cohesive = same_block + " " + same_block
    tbl = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": pa.array([shift, cohesive], pa.string()),
        "lang": pa.array(["en"] * 2, pa.string()),
        "source": pa.array(["s"] * 2, pa.string()),
        "n_chars": pa.array([len(shift), len(cohesive)], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in
           text_tiling_boundaries(spark, str(tmp_path)).collect()}
    assert (out[1].n_gaps, out[1].n_boundaries) == (1, 1)
    assert out[1].min_overlap_e6 == 0
    assert out[1].first_boundary_block == 0
    assert (out[2].n_gaps, out[2].n_boundaries) == (1, 0)
    assert out[2].min_overlap_e6 == 1_000_000
    assert out[2].first_boundary_block is None


def test_source_rank_correlation_identical_and_reversed(spark, tmp_path):
    """Sources with identical term rankings have rho 1.0; a source
    whose frequencies reverse the order gets rho < 0 against them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import (
        source_rank_correlation,
    )

    # s0 and s1: aa x3, bb x2, cc x1 ; s2 reversed: cc x3, bb x2, aa x1
    def doc(counts):
        return " ".join(" ".join([w] * k) for w, k in counts)

    texts = [doc([("aa", 3), ("bb", 2), ("cc", 1)]),
             doc([("aa", 3), ("bb", 2), ("cc", 1)]),
             doc([("cc", 3), ("bb", 2), ("aa", 1)])]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 3, pa.string()),
        "source": pa.array(["s0", "s1", "s2"], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {(r.src_a, r.src_b): r for r in
           source_rank_correlation(spark, str(tmp_path)).collect()}
    assert out[("s0", "s1")].sum_d2 == 0
    assert abs(out[("s0", "s1")].spearman_rho - 1.0) < 1e-9
    # perfect reversal over m=3: rho = -1
    assert abs(out[("s0", "s2")].spearman_rho + 1.0) < 1e-9
    assert out[("s0", "s2")].m == 3


def test_token_context_diversity_template_vs_free(spark, tmp_path):
    """'glue' always appears as 'left glue right' (1 left, 1 right
    neighbor, freq 3 -> diversity 2/6); 'free' appears with 3 distinct
    lefts and 3 distinct rights (diversity 1.0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.textstats import (
        token_context_diversity,
    )

    texts = [
        "left glue right a1 free b1",
        "left glue right a2 free b2",
        "left glue right a3 free b3",
    ]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 3, pa.string()),
        "source": pa.array(["s"] * 3, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.word: r for r in
           token_context_diversity(spark, str(tmp_path)).collect()}
    g = out["glue"]
    assert (g.freq, g.n_left, g.n_right) == (3, 1, 1)
    assert g.diversity_e6 == 2 * 1_000_000 // 6
    f = out["free"]
    assert (f.freq, f.n_left, f.n_right) == (3, 3, 3)
    assert f.diversity_e6 == 1_000_000


def test_tokenizer_invariants_for_rake(spark):
    """Pins the normalize_text/tokenize contract that keyphrase_rake's
    sentinel phrase assembly and token_context_diversity's
    distinct-then-sum rely on (functions/text.py INVARIANT note):
    tokens over ANY input — control chars, \\x01 itself, unicode
    whitespace, punctuation runs — are non-null, non-empty, and drawn
    from [a-z0-9] only (so neither \\x01 nor a space can ever appear
    inside a token)."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize

    hostile = [
        "plain words here",
        "sentinel\x01inside and \x01 alone",
        "tabs\tand\x0bvertical\x0cforms",
        "punct!!! runs??? (parens) [brackets]",
        "UPPER Mixed123 0numbers9",
        "  leading and trailing   ",
        "", " ", "\x01\x01\x01", "!@#$%^&*()",
        "unicode éü中文 mix",
    ]
    df = spark.createDataFrame([(t,) for t in hostile], "text string")
    toks = df.select(F.explode(tokenize(normalize_text("text"))).alias("tk"))
    bad = toks.where(
        F.col("tk").isNull()
        | (F.col("tk") == "")
        | F.col("tk").rlike("[^a-z0-9]")
    ).count()
    assert bad == 0


def test_ivm_merge_identity_holds_for_every_group(spark):
    """The HLL register monoid: merged base+delta registers estimate
    exactly what a full recompute does, for every event type."""
    from hadoop_mapreduce_spark.operators.textstats import ivm_hll_registers

    rows = ivm_hll_registers(spark, SF_DIR).collect()
    assert rows, "events fixture has event types"
    for r in rows:
        # the monoid identity — witnessed in-data, not asserted
        assert r.merge_identity_holds == 1
        assert r.est_merged == r.est_full_recompute
        # merged distinct cannot exceed base+delta key counts and the
        # linear-counting regime keeps the estimate near the truth
        assert r.est_merged <= r.n_base_keys + r.n_delta_keys + 4
        assert r.est_base <= r.n_base_keys + 4
        assert r.est_delta <= r.n_delta_keys + 4
    # base and delta are both non-trivial under the day-25 split
    assert sum(r.n_delta_keys for r in rows) > 0
    assert sum(r.n_base_keys for r in rows) > 0
