"""Semantic invariants for the dataset-mixing / decontamination /
quantization operators (operators/datamix.py). Oracle parity for all
five is covered automatically by tests/test_oracle_parity_all.py; these
tests pin the properties the oracle comparison can't express (error
bounds, permutation well-formedness, sampling monotonicity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.datamix import (
    decontaminate_ngram,
    domain_mixture_sample,
    embedding_quantize,
    global_shuffle_order,
    quality_repetition,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_decontaminate_counts_and_signal(spark):
    rows = decontaminate_ngram(spark, SF_DIR).collect()
    assert rows
    # benchmark docs (doc_id % 20 == 0) are excluded from the train side
    n_train = (
        load_table(spark, SF_DIR, "documents")
        .where(F.col("doc_id") % 20 != 0).count()
    )
    assert sum(r.n_train_docs for r in rows) == n_train
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_train_docs
        assert abs(r.contam_rate - round(r.n_contaminated / r.n_train_docs, 4)) < 1e-9
    # the fixture's planted near-duplicates make the check non-vacuous
    assert sum(r.n_contaminated for r in rows) > 0


def test_quality_repetition_flags_bounded_and_nonzero(spark):
    rows = quality_repetition(spark, SF_DIR).collect()
    assert len(rows) == 20  # one per source
    for r in rows:
        assert 0 <= r.n_flagged <= r.n_docs
        assert 0.0 < r.avg_top_token_frac <= 1.0
        assert 0.0 < r.avg_distinct_frac <= 1.0
    assert sum(r.n_flagged for r in rows) > 0


def test_domain_mixture_rates(spark):
    rows = domain_mixture_sample(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_docs
        assert r.sampled_chars >= 0
        if r.target_pct == 100:
            # full-rate sources keep every document (md5 bucket < 100 always)
            assert r.n_sampled == r.n_docs
    # the mixture is real: at least one source is actually downsampled
    assert any(r.n_sampled < r.n_docs for r in rows if r.target_pct < 100)


def test_embedding_quantize_error_bound(spark):
    """int8 symmetric quantization: per-element error <= scale/2, so
    MSE <= scale^2/4 — checked per label on the aggregated audit (avg of
    per-vector MSEs vs avg scale needs the per-vector bound, so assert
    it on the raw vectors too for one label)."""
    rows = embedding_quantize(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_vecs > 0
        assert r.avg_scale > 0
        assert 0 <= r.avg_mse
    # tight per-vector check, computed independently of the operator
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-30)) / 127.0
    deq = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)) * scale)
    max_err = F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b)))
    bad = emb.select((max_err <= scale / 2 + F.lit(1e-12)).alias("ok")).where(~F.col("ok"))
    assert bad.count() == 0


def test_global_shuffle_is_wellformed_permutation_prefix(spark):
    rows = global_shuffle_order(spark, SF_DIR).collect()
    # 8 shards x 5 head positions, every doc at most once
    assert len(rows) == 40
    assert len({r.doc_id for r in rows}) == 40
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < 8
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == [1, 2, 3, 4, 5]


def test_global_shuffle_deterministic(spark):
    a = [tuple(r) for r in global_shuffle_order(spark, SF_DIR).collect()]
    b = [tuple(r) for r in global_shuffle_order(spark, SF_DIR).collect()]
    assert a == b


def test_dup_ngram_rate_bounds(spark):
    from hadoop_mapreduce_spark.operators.datamix import dup_ngram_rate

    rows = dup_ngram_rate(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.avg_dup_rate <= 1.0
        assert 0 <= r.n_mostly_dup <= r.n_docs


def test_dup_ngram_rate_detects_duplicates(spark):
    from hadoop_mapreduce_spark.operators.datamix import dup_ngram_rate
    import tempfile, os

    # two identical long docs + one unique: the dup pair's grams are all
    # shared, the unique doc's grams are not
    data = [
        (1, "a", " ".join(f"t{i}" for i in range(20))),
        (2, "a", " ".join(f"t{i}" for i in range(20))),
        (3, "a", " ".join(f"u{i}" for i in range(20))),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            data, ["doc_id", "source", "text"]
        ).withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = dup_ngram_rate(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # 2 of 3 docs fully duplicated -> avg rate = 2/3, both flagged
    assert abs(r.avg_dup_rate - round(2 / 3, 4)) < 1e-9
    assert r.n_mostly_dup == 2 and r.n_short == 0


def test_sample_fixed_per_source_cap_and_determinism(spark):
    from hadoop_mapreduce_spark.operators.datamix import sample_fixed_per_source

    a = sample_fixed_per_source(spark, SF_DIR, cap=7).collect()
    b = sample_fixed_per_source(spark, SF_DIR, cap=7).collect()
    assert a == b  # deterministic
    per_src = {}
    for r in a:
        per_src.setdefault(r.source, []).append(r.rk)
    for src, rks in per_src.items():
        assert rks == sorted(rks) and len(rks) <= 7


def test_bloom_decontaminate_superset_of_exact(spark):
    """One-sided error: the Bloom filter can only OVER-flag (false
    positives, bounded rate) — it must NEVER miss a doc the exact
    broadcast-gram-set variant flags (zero false negatives), and both
    must agree on the training-doc universe."""
    from hadoop_mapreduce_spark.operators.datamix import bloom_decontaminate

    bloom = {r.source: r for r in bloom_decontaminate(spark, SF_DIR).collect()}
    exact = {r.source: r for r in decontaminate_ngram(spark, SF_DIR).collect()}
    assert set(bloom) == set(exact)
    n_train = n_fp = 0
    for s in exact:
        assert bloom[s].n_train_docs == exact[s].n_train_docs
        # no false negatives, per source
        assert bloom[s].n_flagged_bloom >= exact[s].n_contaminated
        n_train += bloom[s].n_train_docs
        n_fp += bloom[s].n_flagged_bloom - exact[s].n_contaminated
    # FPR bound: with m=65536 bits, k=3, and the fixture's ~1e3 benchmark
    # grams, per-gram FPR is ~1e-4; even with ~40 gram trials per doc the
    # per-doc over-flag rate stays far below 5% (deterministic given md5,
    # so this is a fixed property of the fixture, not a flaky bound)
    assert n_fp / n_train < 0.05


def test_decontaminate_fuzzy_equals_exact_cross_jaccard(spark):
    """The LSH-candidate fuzzy path must recover exactly the pairs the
    exact cross-corpus Jaccard finds on the fixture (banding miss prob
    ~8e-8 per pair at j=0.8 with 16x2 bands) — same pinning contract as
    test_minhash_lsh_equals_exact_jaccard."""
    from hadoop_mapreduce_spark.operators.datamix import decontaminate_fuzzy
    from hadoop_mapreduce_spark.operators.dedup import dedup_ngram_jaccard

    got = {(r.train_id, r.bench_id): r.jaccard
           for r in decontaminate_fuzzy(spark, SF_DIR).collect()}
    # exact all-pairs, then keep only train-x-bench pairs (either order)
    exact = {}
    for r in dedup_ngram_jaccard(spark, SF_DIR).collect():
        b1, b2 = r.id1 % 20 == 0, r.id2 % 20 == 0
        if b1 != b2:
            t, b = (r.id2, r.id1) if b1 else (r.id1, r.id2)
            exact[(t, b)] = r.jaccard
    assert got == exact


def test_decontaminate_semantic_threshold_and_carve(spark):
    from hadoop_mapreduce_spark.operators.datamix import decontaminate_semantic

    rows = decontaminate_semantic(spark, SF_DIR, threshold=0.3).collect()
    assert rows, "fixture should produce at least one pair at 0.3"
    for r in rows:
        assert r.cosine >= 0.3
        assert r.train_id % 20 != 0 and r.bench_id % 20 == 0


def test_dsir_favours_target_domain(spark):
    """A train doc written in the target carve's vocabulary must get a
    positive log weight; an off-domain doc a negative one."""
    from hadoop_mapreduce_spark.operators.datamix import dsir_log_weights

    target = "kernel tensor gradient softmax attention layer"
    rows = [
        (0, "t", target), (20, "t", target), (40, "t", target),  # bench carve
        (1, "on", "kernel tensor gradient softmax attention layer"),
        (2, "off", "banana apple mango papaya cherry grape"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    lw = {r.doc_id: r.lw for r in dsir_log_weights(docs).collect()}
    assert set(lw) == {1, 2}
    assert lw[1] > 0 > lw[2]


def test_sample_weighted_is_deterministic_topk(spark):
    """Efraimidis-Spirakis selection: k rows, es_key strictly ordered
    with doc_id tie-break, repeat run identical, and the winning set
    equals a driver-side recomputation of the same keyed top-k."""
    import hashlib
    import math

    from tests.conftest import SF_DIR

    from hadoop_mapreduce_spark.operators.datamix import sample_weighted

    out = sample_weighted(spark, SF_DIR, k=25).collect()
    assert len(out) == 25
    keys = [(r.es_key, r.doc_id) for r in out]
    assert all(
        (a[0] > b[0]) or (a[0] == b[0] and a[1] < b[1])
        for a, b in zip(keys, keys[1:]))
    again = sample_weighted(spark, SF_DIR, k=25).collect()
    assert [(r.doc_id, r.es_key) for r in out] == [
        (r.doc_id, r.es_key) for r in again]

    import re
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    ref = []
    for d in docs:
        toks = [t for t in re.sub(r"[^a-zA-Z0-9\s]+", "", d.text).lower().split() if t]
        if not toks:
            continue
        b = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:15], 16) % (1 << 20)
        u = (b + 0.5) / float(1 << 20)
        ref.append((round(math.log(u) / len(toks), 8), d.doc_id))
    ref.sort(key=lambda t: (-t[0], t[1]))
    assert [r.doc_id for r in out] == [doc_id for _, doc_id in ref[:25]]


def test_mixture_temperature_weights_flattens(spark):
    """Weights sum to ~1 and alpha<1 compresses the distribution:
    every source's weight is strictly between min/max natural shares'
    pull toward uniform — i.e. the largest source's weight drops below
    its natural share and the smallest rises above it."""
    from hadoop_mapreduce_spark.operators.datamix import (
        mixture_temperature_weights,
    )

    rows = mixture_temperature_weights(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-3
    hi = max(rows, key=lambda r: r.natural_share)
    lo = min(rows, key=lambda r: r.natural_share)
    if hi.natural_share > lo.natural_share:  # non-degenerate fixture
        assert hi.weight < hi.natural_share
        assert lo.weight > lo.natural_share


def test_quantile_normalize_cut_is_calibrated(spark):
    """The normalised cut selects ~20% per source regardless of each
    source's raw-score scale (that's the point of the calibration),
    and the per-source raw quartile bounds are ordered."""
    from hadoop_mapreduce_spark.operators.datamix import (
        quantile_normalize_quality,
    )

    rows = quantile_normalize_quality(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.raw_min <= r.raw_p50 <= r.raw_max
        frac = r.n_above_cut / r.n_docs
        assert 0.05 <= frac <= 0.35  # ~20% with small-source wobble
        assert r.raw_cut_equiv >= r.raw_min


def test_source_overlap_matrix_symmetric_bounds(spark):
    """Pairs are canonical (src_a < src_b), overlap_frac in (0, 1],
    and shared counts never exceed either side's gram vocabulary."""
    from hadoop_mapreduce_spark.operators.datamix import (
        source_overlap_matrix,
    )

    rows = source_overlap_matrix(spark, SF_DIR).collect()
    assert rows  # the synthetic corpus shares template grams
    for r in rows:
        assert r.src_a < r.src_b
        assert 0 < r.overlap_frac <= 1
        assert r.shared_grams >= 1


def test_gopher_dup_ngrams_planted_repetition(spark):
    """A synthetic corpus with a fully-repetitive doc (one 5-gram looped),
    a clean doc (all-distinct tokens), and a half-covered doc: coverage
    fractions must hit 1.0, 0.0 and the exact planted fraction."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.datamix import gopher_dup_ngrams
    import hadoop_mapreduce_spark.operators.datamix as dm

    loop = " ".join(["a b c d e"] * 4)            # every 5-gram repeats
    clean = " ".join(f"t{i}" for i in range(20))   # all distinct
    # half doc: 10 repeated-looped tokens + 10 unique ones
    half = " ".join(["p q r s t"] * 2) + " " + " ".join(
        f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, loop, "s0"), (1, clean, "s1"), (2, half, "s2")],
        "doc_id long, text string, source string")

    orig = dm.load_table
    dm.load_table = lambda sp, d, n: df
    try:
        rows = {r.source: r for r in
                gopher_dup_ngrams(spark, "ignored").collect()}
    finally:
        dm.load_table = orig
    assert rows["s0"].sum_dup_frac_e6 == 1_000_000   # fully covered
    assert rows["s0"].n_flagged == 1
    assert rows["s1"].sum_dup_frac_e6 == 0
    assert rows["s1"].n_flagged == 0
    # half doc: dup 5-grams are the loop's 6 positions covering tokens
    # 0..9 -> 10 covered of 20 -> exactly 500000 micro-units
    assert rows["s2"].sum_dup_frac_e6 == 500_000


def test_kneser_ney_scores_are_valid_logprobs(spark):
    """KN probabilities are in (0, 1] so every per-doc mean log-prob is
    <= 0; the discounted+continuation mass never yields p > 1, and the
    most-surprising ranking is deterministic (ties by doc_id)."""
    from hadoop_mapreduce_spark.operators.textstats import kneser_ney_quality
    from tests.conftest import SF_DIR

    rows = kneser_ney_quality(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    assert all(r.kn_lp_e6 <= 0 for r in rows)
    assert all(r.n_bigrams >= 1 for r in rows)
    keys = [(r.kn_lp_e6, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    rows2 = kneser_ney_quality(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_source_concentration_extremes(spark, tmp_path):
    """Gini/HHI limits: a corpus where one source owns all tokens maxes
    both indices; a perfectly uniform corpus drives Gini to 0 and HHI
    to 1e6/n."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import (
        source_concentration_audit,
    )

    def write(texts, sources, d):
        tbl = pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        (tmp_path / d).mkdir()
        pq.write_table(tbl, str(tmp_path / d / "documents.parquet"))
        return str(tmp_path / d)

    # concentrated: source A has 8 tokens, B and C one doc of 0 tokens
    sf1 = write(["a b c d e f g h", "", ""], ["A", "B", "C"], "conc")
    row = {r.axis: r for r in
           source_concentration_audit(spark, sf1).collect()}["source"]
    assert row.hhi_e6 == 1_000_000       # all mass in one group
    # Gini with shares (0, 0, 1): ranks asc -> (2*3*8e6 - 4*8e6)//(3*8)
    assert row.gini_e6 == 666_666
    assert row.entropy == 0.0

    # uniform: four sources, two tokens each
    sf2 = write(["x y"] * 4, ["A", "B", "C", "D"], "unif")
    row = {r.axis: r for r in
           source_concentration_audit(spark, sf2).collect()}["source"]
    assert row.hhi_e6 == 250_000
    assert row.gini_e6 == 0


def test_token_budget_fill_invariants(spark):
    """Every source stays within budget, fill fraction in [0, 1e6],
    taken counts bounded by totals, and determinism across runs."""
    from hadoop_mapreduce_spark.operators.datamix import token_budget_fill

    rows = token_budget_fill(spark, SF_DIR).collect()
    assert rows
    budgets = {r.budget for r in rows}
    assert len(budgets) == 1  # equal slices
    for r in rows:
        assert r.tokens_taken <= r.budget
        assert 0 <= r.fill_e6 <= 1_000_000
        assert r.n_docs_taken <= r.n_docs_total
        assert r.tokens_taken <= r.tokens_total
    rows2 = token_budget_fill(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_token_budget_fill_prefix_stability(spark, tmp_path):
    """The taken set is a pure function of (corpus, budget): identical
    corpora produce identical taken sets (the md5 order has no hidden
    engine/session state), and the inclusive-cumsum predicate matches
    a direct window computation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    def write(n, d):
        texts = [f"tok{i} tok{i} filler word" for i in range(n)]
        tbl = pa.table({
            "doc_id": pa.array(range(1, n + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["S"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        (tmp_path / d).mkdir()
        pq.write_table(tbl, str(tmp_path / d / "documents.parquet"))
        return str(tmp_path / d)

    def taken(sf, budget):
        docs = load_table(spark, sf, "documents")
        sized = docs.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"),
            F.size(tokenize(normalize_text(F.col("text"))))
            .cast("long").alias("n_tok"))
        w = (Window.orderBy("h", "doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = sized.select(
            "doc_id", F.sum("n_tok").over(w).alias("cum"))
        return {r.doc_id for r in out.where(F.col("cum") <= budget).collect()}

    small = taken(write(6, "s"), budget=12)
    assert small, "small corpus must take something"
    # identical corpus at a different path -> identical taken set
    assert taken(write(6, "s2"), 12) == small
    # a larger corpus at the same budget still takes a bounded prefix
    grown = taken(write(10, "g"), budget=12)
    assert grown and len(grown) <= 10


def test_curriculum_interleave_round_robin(spark):
    """Positions are unique and ascending; the first |sources| rows are
    exactly each source's rank-1 (best) document, in source order; and
    within a source, quality ranks appear in ascending order."""
    from hadoop_mapreduce_spark.operators.datamix import (
        curriculum_interleave,
    )

    rows = curriculum_interleave(spark, SF_DIR).collect()
    assert rows
    pos = [r.position for r in rows]
    assert pos == sorted(pos) and len(set(pos)) == len(pos)
    srcs = sorted({r.source for r in rows})
    head = rows[:len(srcs)]
    assert [r.source for r in head] == srcs
    assert all(r.q_rank == 1 for r in head)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.q_rank)
    for s, ranks in by_src.items():
        assert ranks == sorted(ranks), s


def test_source_novelty_attribution_credits_first_source(spark, tmp_path):
    """The alphabetically-first source owns every gram it contains; a
    mirrored source contributes zero novel grams; a disjoint source is
    100% novel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import (
        source_novelty_attribution,
    )

    texts = [
        "one two three four five six",        # A: all grams novel
        "one two three four five six",        # B: exact mirror of A
        "alpha beta gamma delta epsilon zeta",  # C: fully disjoint
    ]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 3, pa.string()),
        "source": pa.array(["A", "B", "C"], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in
            source_novelty_attribution(spark, str(tmp_path)).collect()}
    assert rows["A"].novelty_e6 == 1_000_000
    assert rows["B"].novel_grams == 0 and rows["B"].novelty_e6 == 0
    assert rows["C"].novelty_e6 == 1_000_000
    # 6 tokens -> 3 distinct 4-grams each
    assert rows["A"].distinct_grams == 3
    assert rows["B"].distinct_grams == 3


def test_lang_source_chisq_textbook(spark, tmp_path):
    """2x2 contingency hand-check: independence gives contrib 0
    everywhere; a fully-dependent table gives contrib = E per cell and
    the zero cells are REAL rows (grid = marginal cross join)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import lang_source_chisq

    # dependent: s1 is all-en (2 docs), s2 all-de (2 docs)
    langs = ["en", "en", "de", "de"]
    srcs = ["s1", "s1", "s2", "s2"]
    tbl = pa.table({
        "doc_id": pa.array(range(1, 5), pa.int64()),
        "text": pa.array(["x"] * 4, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([1] * 4, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {(r.lang, r.source): r for r in
            lang_source_chisq(spark, str(tmp_path)).collect()}
    assert len(rows) == 4  # includes the two zero cells
    # every cell: row_t=2, col_t=2, N=4 -> E = 1, contrib = (O-1)^2/1
    for (lang, src), r in rows.items():
        assert r.expected_e6 == 1_000_000
        on_diag = (lang, src) in {("en", "s1"), ("de", "s2")}
        assert r.observed == (2 if on_diag else 0)
        assert r.contrib_e6 == 1_000_000  # (2-1)^2 = (0-1)^2 = 1


def test_ks_drift_quality_two_point(spark, tmp_path):
    """Disjoint supports give KS = 1e6 (complete separation); identical
    distributions give KS = 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import ks_drift_quality

    # sep: all docs ratio 0.5; rest: all ratio 1.0 -> KS(sep)=1e6
    texts = ["a a b b", "c c d d", "x y z w", "p q r s"]
    srcs = ["sep", "sep", "uni", "uni"]
    tbl = pa.table({
        "doc_id": pa.array(range(1, 5), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 4, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in
            ks_drift_quality(spark, str(tmp_path)).collect()}
    assert rows["sep"].ks_e6 == 1_000_000
    assert rows["uni"].ks_e6 == 1_000_000  # symmetric split
    assert rows["sep"].n_src == 2 and rows["sep"].n_rest == 2


def test_neyman_allocation_oversamples_variance(spark, tmp_path):
    """Stratum 'wide' has doc lengths {100, 300} (sd 100); 'narrow' has
    {200, 200} (sd 0) -> w_narrow = 0, so the whole budget flows to the
    high-variance stratum despite equal sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import (
        neyman_allocation_plan,
    )

    texts = ["a" * 100, "a" * 300, "b" * 200, "b" * 200]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 4, pa.string()),
        "source": pa.array(["wide", "wide", "narrow", "narrow"],
                           pa.string()),
        "n_chars": pa.array([100, 300, 200, 200], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           neyman_allocation_plan(spark, str(tmp_path)).collect()}
    w = out["wide"]
    assert (w.n_docs, w.sx, w.sx2) == (2, 400, 100**2 + 300**2)
    assert w.w_e6 == 2 * 100 * 1_000_000  # N_h * sd(=100) in e6
    assert out["narrow"].w_e6 == 0
    assert w.n_alloc == 1000 and out["narrow"].n_alloc == 0


def test_lang_source_mutual_info_perfect_and_independent(spark, tmp_path):
    """Perfectly language-siloed sources (en->s0, de->s1, 2 docs each):
    MI = ln 2.  pmi of each occupied cell is also ln 2."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import (
        lang_source_mutual_info,
    )

    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": pa.array(["x"] * 4, pa.string()),
        "lang": pa.array(["en", "en", "de", "de"], pa.string()),
        "source": pa.array(["s0", "s0", "s1", "s1"], pa.string()),
        "n_chars": pa.array([1] * 4, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = lang_source_mutual_info(spark, str(tmp_path)).collect()
    ln2_e6 = int(math.floor(math.log(2) * 1e6 + 0.5))
    assert len(out) == 2
    for r in out:
        assert r.n_ls == 2 and r.n_l == 2 and r.n_s == 2
        assert abs(r.pmi_e6 - ln2_e6) <= 1
        assert abs(r.mi_e6 - ln2_e6) <= 1


def test_length_qq_drift_shifted_source(spark, tmp_path):
    """Source 'big' lengths are exactly source 'small' + 100: its
    median drift vs the pooled corpus equals +50 (corpus median sits
    halfway), and small's is -50."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import length_qq_drift

    small = list(range(100, 120))
    big = [x + 100 for x in small]
    tbl = pa.table({
        "doc_id": pa.array(list(range(40)), pa.int64()),
        "text": pa.array(["x"] * 40, pa.string()),
        "lang": pa.array(["en"] * 40, pa.string()),
        "source": pa.array(["small"] * 20 + ["big"] * 20, pa.string()),
        "n_chars": pa.array(small + big, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {(r.source, r.pct): r for r in
           length_qq_drift(spark, str(tmp_path)).collect()}
    assert out[("big", 50)].q_source - out[("small", 50)].q_source == 100
    # symmetric shift: drifts mirror around the pooled quantile
    assert abs(out[("big", 50)].drift + out[("small", 50)].drift) < 1e-6
    assert out[("big", 50)].drift > 0 > out[("small", 50)].drift


def test_length_hill_tail_index_pareto_vs_uniform(spark, tmp_path):
    """An exact Pareto(alpha=1) ladder x_i = 1000/i for i=1..20 has
    Hill alpha ~= 1; a near-constant source has tiny log-sum and a
    huge (or NULL) alpha."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import (
        length_hill_tail_index,
    )

    pareto = [1000 // i for i in range(1, 21)]
    flat = [500] * 20
    tbl = pa.table({
        "doc_id": pa.array(list(range(40)), pa.int64()),
        "text": pa.array(["x"] * 40, pa.string()),
        "lang": pa.array(["en"] * 40, pa.string()),
        "source": pa.array(["pareto"] * 20 + ["flat"] * 20, pa.string()),
        "n_chars": pa.array(pareto + flat, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           length_hill_tail_index(spark, str(tmp_path)).collect()}
    p = out["pareto"]
    assert p.k_eff == 20 and p.x_k == 50  # 1000 DIV 20
    # python replay of the exact integer pipeline
    terms = [int(math.floor(math.log(x / 50) * 1e6 + 0.5))
             for x in pareto[:-1]]
    expect = math.floor(len(terms) * 1e6 / sum(terms) * 1e6 + 0.5) / 1e6
    assert abs(p.hill_alpha - expect) < 1e-9
    assert 0.8 < p.hill_alpha < 1.3
    assert out["flat"].hill_alpha is None  # all terms ln(1) = 0


def test_token_mass_lorenz_concentrated_source(spark, tmp_path):
    """10 docs: one carries 91 tokens, nine carry 1 each (total 100).
    Decile 0 = the giant doc -> share 91%; cumulative share reaches
    exactly 1e6 at decile 9."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.datamix import token_mass_lorenz

    texts = [" ".join(f"t{i}" for i in range(91))] + ["solo"] * 9
    tbl = pa.table({
        "doc_id": pa.array(list(range(10)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 10, pa.string()),
        "source": pa.array(["s"] * 10, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {r.decile: r for r in
           token_mass_lorenz(spark, str(tmp_path)).collect()}
    assert sorted(out) == list(range(10))
    assert out[0].docs_in_decile == 1 and out[0].tk_in_decile == 91
    assert out[0].share_e6 == 910_000
    assert out[9].cum_share_e6 == 1_000_000
    for d in range(1, 10):
        assert out[d].tk_in_decile == 1


def test_psi_exact_python_replay(spark):
    """psi_source_drift replayed exactly in Python: decile bins,
    smoothing and per-cell rounding."""
    import math
    from collections import defaultdict

    from hadoop_mapreduce_spark.operators.datamix import psi_source_drift

    rows = {r.source: r for r in psi_source_drift(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "n_chars").collect()
    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append(d.n_chars)
    allv = sorted(v for vs in by_src.values() for v in vs)
    n_all = len(allv)
    # decile edges: smallest value whose cumulative count reaches
    # ceil(j*N/10), computed on the counts-of-counts cumulative
    edges = []
    for j in range(1, 10):
        t = -(-j * n_all // 10)
        edges.append(allv[t - 1])

    def binof(x):
        return sum(1 for e in edges if x >= e)

    ref = defaultdict(int)
    for v in allv:
        ref[binof(v)] += 1
    for src, vs in by_src.items():
        sb = defaultdict(int)
        for v in vs:
            sb[binof(v)] += 1
        psi = 0
        for b in ref:
            ps = (sb.get(b, 0) + 1) / (len(vs) + 10)
            pr = (ref[b] + 1) / (n_all + 10)
            psi += math.floor((ps - pr) * math.log(ps / pr) * 1e6 + 0.5)
        r = rows[src]
        assert r.n_docs == len(vs)
        assert r.psi_e6 == psi
        want = ("MAJOR" if psi > 250_000
                else "MODERATE" if psi > 100_000 else "STABLE")
        assert r.drift_flag == want
    assert set(rows) == set(by_src)
