"""Dataset-mixing / decontamination / quantization operators — the
pipeline stages between "corpus is deduplicated" and "corpus is a
training set" (SURVEY.md §2.EXT north-star surface, round 4):

  * benchmark decontamination (n-gram overlap against a held-out set —
    the GPT-3/PaLM-style 13-gram check, here 4-gram to match the tiny
    fixture vocabulary);
  * repetition-based quality flags (Gopher-style: top-token fraction,
    distinct-token fraction);
  * domain mixture sampling (deterministic per-source rates via a
    portable md5 bucket — the "sample Common Crawl at 0.25, books at
    1.0" step);
  * embedding int8 quantization with reconstruction-error audit;
  * deterministic global shuffle (training-order permutation that any
    executor can re-derive — no central shuffle service state).

Scale conventions shared by all five:

  * every per-document metric is keyed by doc_id — aggregations shuffle
    once on that key and nothing else;
  * the benchmark n-gram set in decontamination is broadcast: benchmark
    suites are O(MB) while the training side is O(TB), so the big side
    never shuffles;
  * hashes are md5-derived (engine-portable, seed-stable), never
    engine-native — the DuckDB oracle re-derives every bucket;
  * no Python UDFs anywhere — all expressions are JVM built-ins that
    fuse into whole-stage codegen with the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    BENCH_BLOOM_BITS,
    BENCH_BLOOM_N,
    bloom_any,
    bloom_bitmap,
    fixed,
    h60,
    half_up,
    in_sample,
    is_bench,
    mixture_rate,
)
from hadoop_mapreduce_spark.functions.text import (
    ngrams_from_tokens,
    normalize_text,
    raw_token_count,
    tokenize,
)
from hadoop_mapreduce_spark.operators.ngram import (
    explode_ngram_set,
    explode_ngrams,
)
from hadoop_mapreduce_spark.sources.tables import load_table


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token n-gram with a held-out benchmark set.

    The fixture has no separate benchmark table, so the benchmark set is
    carved deterministically (``is_bench``: 1 doc_id in 20); the
    remaining 95% are "training". A training doc is contaminated if
    any of its distinct 4-grams appears in any benchmark doc — the
    published recipe (GPT-3 app. C uses 13-grams; 4 here because the
    synthetic vocabulary is ~30 words and docs are ~40 tokens).

    Scale: the benchmark n-gram set is DISTINCT'd then broadcast — real
    benchmark suites are a few MB of n-grams, so the corpus-side scan
    streams against a broadcast hash set (no shuffle of the big side).
    The only wide exchange is the per-(source) count at the end, after
    the per-doc semi-join collapses to one boolean per document.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = explode_ngram_set(docs, "text", 4, ["doc_id", "source"])
    bench = is_bench("doc_id")
    bench_grams = grams.where(bench).select("ngram").distinct()
    hit_docs = (
        grams.where(~bench)
        .join(F.broadcast(bench_grams), "ngram", "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", F.lit(1))
    )
    train = docs.where(~bench).select("doc_id", "source")
    return (
        train.join(hit_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(0)))
            .cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contam_rate",
            F.round(F.col("n_contaminated") / F.col("n_train_docs"), 4),
        )
    )


def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: training documents that are
    near-duplicates (shingle Jaccard >= 0.8) of a held-out
    benchmark doc — the MinHash complement of ``decontaminate_ngram``'s
    exact n-gram hit test. Exact overlap misses paraphrased/perturbed
    benchmark leakage (reordered sentences, small edits); the published
    fix (e.g. Llama/FLAN decontamination reports) is near-dup matching
    between train and eval at a Jaccard threshold. Benchmark set: the
    same ``is_bench`` carve as decontaminate_ngram.

    Output: one row per contaminated (train_id, bench_id) pair with its
    exact verified Jaccard — downstream either drops train_id or audits
    the pair.

    Scale shape (the reason this is NOT dedup_minhash_lsh on the union):
    the benchmark side is O(10^3..10^5) docs while train is the 100 TB
    corpus, so ``lsh_cross_candidates`` BROADCASTS the benchmark band
    keys and the train side never shuffles — one streaming scan computes
    signatures and probes the broadcast; only candidates (rare) reach
    the exact-verify join, whose benchmark shingle-set side is again
    broadcast-sized. A self-join LSH on the union would shuffle the full
    train corpus's banded rows for no reason. The same banding
    parameters as the dedup path (16 bands x 2 rows) give
    P(miss | j=0.8) ~ 8e-8 per pair; candidates are exact-verified, so
    output pairs are never false positives, and equivalence to the exact
    oracle is pinned by tests on the driver fixtures.
    """
    from hadoop_mapreduce_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        hashed_shingle_rows,
        lsh_cross_candidates,
        minhash_signatures,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # One tokenise+shingle scan feeds signatures AND the verify pass.
    hs = scoped_persist(hashed_shingle_rows(docs))
    sigs = minhash_signatures(hs)
    bench = is_bench("id")
    cands = lsh_cross_candidates(sigs.where(~bench), sigs.where(bench))
    return exact_jaccard_for_pairs(hs, cands, 0.8).select(
        F.col("id1").alias("train_id"), F.col("id2").alias("bench_id"),
        "jaccard")


def decontaminate_semantic(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.4) -> DataFrame:
    """SEMANTIC decontamination: training vectors whose embedding cosine
    against any held-out benchmark vector meets the threshold — catches
    rephrasings that share no surface n-grams at all (the third rung
    after exact n-gram and fuzzy Jaccard). Benchmark set: the
    ``is_bench`` carve over vec_id, mirroring the text side.

    (Production threshold is ~0.9; the fixture embeddings are
    near-random with max cross cosine ~0.49, so 0.4 exercises the
    operator with a non-trivial result — same convention as
    dedup_embedding_cosine.)

    Scale shape: the benchmark side is replicated per block and the
    train side is hash-blocked and scored with one BLAS matmul per
    applyInPandas group (``embedding_cosine_cross_pairs`` — each train
    vector shuffles once, |bench| x n_blocks replica rows are the only
    duplication). A pure-expression fold (aggregate over zip_with) was
    measured 10x slower here: higher-order array functions don't enter
    whole-stage codegen, while the Arrow->BLAS path amortises to one
    matmul per batch — same trade embedding_cosine_pairs documents. For
    |bench| beyond replica range, the IVF/SRP machinery in
    operators/similarity.py bounds the candidate set the same way it
    does for kNN join.
    """
    from hadoop_mapreduce_spark.operators.dedup import embedding_cosine_cross_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    bench = is_bench("vec_id")
    return (
        embedding_cosine_cross_pairs(
            emb.where(~bench), emb.where(bench), threshold)
        .select(
            F.col("big_id").alias("train_id"),
            F.col("small_id").alias("bench_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every training
    document by the log-likelihood ratio of a TARGET unigram model
    (fit on the held-out ``is_bench`` target carve) against
    the RAW corpus model, over HASHED token features — then select the
    documents the ratio favours. This is the principled version of
    "sample more of what looks like the target domain": mixture weights
    fall out of the data instead of being hand-set per source
    (complements domain_mixture_sample's explicit per-source rates).

    Features are md5-hashed into 10,000 buckets exactly as the
    paper hashes n-grams: the two models and their ratio table are then
    CONSTANT-SIZE (10,000 rows) regardless of corpus vocabulary, so
    the ratio table broadcasts at any scale and scoring is one
    broadcast-join + one doc_id-keyed aggregation over the token rows —
    the corpus shuffles once, keyed by doc_id, nothing else. Both
    models are add-1 smoothed over the bucket space.

    Determinism across engines: per-doc log-weights are rounded to 8 dp
    BEFORE the select threshold (> 0 ⇔ target model strictly favours
    the doc) and per-source means to 6 dp — the established convention
    for float-sum order differences (see unigram_logprob_quality).
    Output: one row per source with selection counts and mean
    log-weight; the md5 bucketing matches the DuckDB oracle bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    lw = dsir_log_weights(docs)
    return (
        lw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum((F.col("lw") > 0).cast("long")).alias("n_selected"),
            F.round(F.avg("lw"), 6).alias("avg_log_weight"),
        )
    )


def dsir_log_weights(docs: DataFrame) -> DataFrame:
    """Per-training-doc DSIR log importance weight (doc_id, source, lw)
    — core of :func:`dsir_importance_sample`, see there for the method
    and scale analysis."""
    toks = docs.select(
        "doc_id", "source", tokenize(normalize_text(F.col("text"))).alias("t"))
    return dsir_log_weights_from_tokens(toks)


def dsir_log_weights_from_tokens(toks: DataFrame) -> DataFrame:
    """:func:`dsir_log_weights` over a pre-tokenised (doc_id, source, t)
    relation — lets pipeline compositions share ONE tokenisation pass
    across stages (the dominant scan cost at corpus scale)."""
    from hadoop_mapreduce_spark.session import scoped_persist

    n_buckets = 10_000
    # Persisted: FIVE consumers read this relation (target counts, raw
    # counts, the two totals, and the per-doc feature counts) — without
    # the materialisation point each one re-explodes the corpus and
    # re-hashes every token's md5 (measured 13.5 -> ~4 s at 8x sf0.1).
    # The persisted rows are (doc_id, source, long) — smaller than the
    # token strings they replace.
    tok = scoped_persist(toks.select(
        "doc_id", "source", F.explode("t").alias("w"),
    ).select("doc_id", "source", (h60("w") % n_buckets).alias("f")))
    bench = is_bench("doc_id")
    # model counts: one uniform feature-keyed aggregation each; both
    # collapse to <= n_buckets rows before any join
    ct = tok.where(bench).groupBy("f").agg(F.count(F.lit(1)).alias("ct"))
    cr = tok.where(~bench).groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    # totals as 1-row broadcast (crossJoin of scalar aggregates — the
    # plan-audit-sanctioned tiny-spine pattern)
    nt = tok.where(bench).agg(F.count(F.lit(1)).alias("nt"))
    nr = tok.where(~bench).agg(F.count(F.lit(1)).alias("nr"))
    ratio = (
        ct.join(cr, "f", "full_outer")
        .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
        .select(
            "f",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                      / (F.col("nt") + F.lit(n_buckets)))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1)
                        / (F.col("nr") + F.lit(n_buckets)))
            ).alias("llr"),
        )
    )
    cdf = tok.where(~bench).groupBy("doc_id", "source", "f").agg(
        F.count(F.lit(1)).alias("c"))
    return (
        cdf.join(F.broadcast(ratio), "f")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum(F.col("c") * F.col("llr")), 8).alias("lw"))
    )


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality flags, aggregated per source.

    Per document: top_token_frac (share of tokens that are the single
    most frequent token) and distinct_frac (distinct tokens / tokens).
    A doc is flagged repetitive when top_token_frac > 0.125 or
    distinct_frac < 0.32 (Gopher Rule-of-thumb shapes, thresholds set
    at ~p90 of the fixture distribution so the flag is exercised).

    Scale: explode → count by (doc_id, token) → re-aggregate by doc_id.
    Two keyed shuffles — the first hash-partitions by (doc_id, source,
    token), which does NOT satisfy the second's (doc_id, source) key, so
    Spark plans a second exchange; its input is already one row per
    distinct (doc, token), typically ~an order smaller than the token
    stream. The final per-source rollup moves one row per document. No
    UDFs, no windows — a max/sum/count re-aggregation, the
    map-side-combinable form.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source",
        F.explode(tokenize(normalize_text(F.col("text")))).alias("w"),
    )
    per_tok = tok.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).alias("c"))
    per_doc = per_tok.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("n_distinct"),
    ).select(
        "doc_id", "source", "n_tokens",
        (F.col("top_c") / F.col("n_tokens")).alias("top_token_frac"),
        (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_frac"),
    )
    flagged = (F.col("top_token_frac") > 0.125) | (F.col("distinct_frac") < 0.32)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(flagged.cast("long")).alias("n_flagged"),
            F.round(F.avg("top_token_frac"), 4).alias("avg_top_token_frac"),
            F.round(F.avg("distinct_frac"), 4).alias("avg_distinct_frac"),
        )
    )


def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture sampling: downsample each source to its target
    rate with a deterministic, engine-portable keep rule.

    Target rates are a function of the source index (srcN,
    ``mixture_rate``): the first 5 sources keep 100%, the next 5 keep
    50%, then 25%, then 10% — the shape of a real mixture table ("books
    1.0, web 0.25, ..."). The keep rule is ``in_sample``,
    h60(doc_id) % 100 < rate, so (a) any executor or
    downstream loader re-derives membership from the key alone, (b)
    growing the corpus never resamples existing docs, and (c) the
    DuckDB oracle reproduces the exact subset.

    Scale: one projection + one per-source rollup (the rollup moves 20
    rows). The sample itself never materialises driver-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = mixture_rate("source")
    kept = in_sample(F.col("doc_id").cast("string"), rate, None)
    return (
        docs.select(
            "source", "n_chars",
            rate.cast("long").alias("target_pct"),
            kept.cast("long").alias("kept"),
        )
        .groupBy("source", "target_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_sampled"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars"))
                  .otherwise(F.lit(0))).alias("sampled_chars"),
        )
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with a
    reconstruction-error audit per label.

    Per vector: scale = max|x| / 127; q_i = ``fixed(x_i / scale, 0)``
    (portable half-up); dequantized error is the
    mean squared difference. Emits per-label vector counts, mean scale
    and mean MSE — the audit a pipeline runs before committing to a
    quantized ANN index (4x memory cut, bounded recall loss).

    Scale: pure higher-order array expressions (transform / zip_with /
    aggregate) — per-row JVM work inside codegen, zero shuffle until the
    10-row label rollup.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)
    deq = F.transform(v, lambda x: fixed(x / scale, 0) * scale)
    sq_err = F.aggregate(
        F.zip_with(v, deq, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mse = sq_err / F.size(F.col("embedding"))
    return (
        emb.select(F.col("label").cast("long").alias("label"),
                   scale.alias("scale"), mse.alias("mse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("mse"), 8).alias("avg_mse"),
        )
    )


def global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: permute the corpus
    by md5(doc_id), sharded for parallel writes.

    shard = md5-bucket(doc_id) % 8; within a shard the order is
    the md5 hex string itself (uniform, uncorrelated with insertion
    order). Any process re-derives a document's (shard, position)
    from its key — resumable epoch iteration with no shuffle-service
    state. Emits the first 5 docs of every shard (the permutation's
    checkable prefix) rather than the full corpus.

    Scale: one hash-partition exchange on shard + a per-shard sort —
    exactly the write path of a sharded training-set materialisation.
    The row_number window is per-shard (8-way parallel), never a
    single global window.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        (h60(F.col("doc_id").cast("string")) % 8).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .where(F.col("pos") <= 5)
        .select("shard", "pos", "doc_id")
    )


def shard_order_runs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit of the deterministic training order: per
    shard of global_shuffle_order's layout, the observed count of
    ADJACENT same-source document pairs versus the count expected under
    an independent (well-shuffled) permutation — a run-structure test.
    Why it matters: gradient noise assumptions behind LR schedules
    break when consecutive batches come from one source; a shuffle that
    "looks keyed" but correlates with source (e.g. doc_id blocks per
    source + a weak hash) passes eyeball checks and fails this one.

    Expected value is exact: under a uniform random permutation of a
    shard with per-source counts n_s (sum n), E[same-source adjacent
    pairs] = sum_s n_s*(n_s-1) / n. Both sides are integers until the
    final micro-unit division; sum_s n_s^2 passes BIGINT at ~3e9 docs
    per shard so the numerators route through DECIMAL(38,0) (HUGEINT in
    the oracle) — the basket_part_pairs posture. ratio_e6 ~ 1e6 means
    the order is indistinguishable from independent.

    Scale shape: shard = md5-bucket(doc_id), order = md5 hex (exactly
    global_shuffle_order's write path) — ONE hash exchange + per-shard
    sort for the lag window (8-way parallel, never a global
    window), plus a (shard, source) count aggregate whose grid is
    metadata-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "source",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        (h60(F.col("doc_id").cast("string")) % 8).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    obs = (
        keyed.select(
            "shard", "source",
            F.lag("source").over(w).alias("prev"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("prev") == F.col("source"), 1)
                  .otherwise(0)).alias("obs_same_adj"),
        )
    )
    exp = (
        keyed.groupBy("shard", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("shard")
        .agg(F.expr("sum(CAST(c AS DECIMAL(38,0)) * (c - 1))")
             .alias("pairs"))
    )
    return (
        obs.join(exp, "shard")
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("obs_same_adj").cast("long").alias("obs_same_adj"),
            F.expr("CAST(pairs * 1000000 DIV n_docs AS BIGINT)")
            .alias("exp_same_adj_e6"),
            F.expr("CAST(CASE WHEN pairs > 0 THEN"
                   " CAST(obs_same_adj AS DECIMAL(38,0)) * n_docs * 1000000"
                   " DIV pairs ELSE NULL END AS BIGINT)")
            .alias("ratio_obs_exp_e6"),
        )
    )


def dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-long-n-gram rate per source — the scalable proxy for
    exact-substring duplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better" builds suffix arrays to find
    >=50-token repeats; at 100 TB the distributed form of that signal is
    "what fraction of a document's distinct long n-grams occur in some
    other document too", which needs only one gram-keyed shuffle).

    Shape: distinct n-grams per doc → ONE exchange keyed by the gram,
    where a count() window computes each gram's corpus frequency in
    place (no self-join, no second scan) → per-doc dup fraction →
    per-source rollup. Gram keys are uniform by construction (they're
    near-unique strings), so the shuffle has no skew at any scale.
    Docs with fewer than n tokens contribute no grams and are counted
    separately (n_short) so the rate's denominator is explicit.
    """
    from pyspark.sql import Window

    n = 8
    docs = load_table(spark, sf_dir, "documents")
    grams = explode_ngram_set(docs, "text", n, ["doc_id", "source"])
    shared = F.count(F.lit(1)).over(Window.partitionBy("ngram"))
    per_doc = (
        grams.withColumn("n_docs_with_gram", shared)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs_with_gram") > 1).cast("long")).alias("n_dup"),
        )
    )
    short = (
        docs.where(F.size(tokenize(normalize_text(F.col("text")))) < n)
        .groupBy("source").agg(F.count(F.lit(1)).alias("n_short"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("n_dup") / F.col("n_grams")), 4)
            .alias("avg_dup_rate"),
            F.sum((F.col("n_dup") * 2 > F.col("n_grams")).cast("long"))
            .alias("n_mostly_dup"),
        )
        .join(short, "source", "left")
        .select("source", "n_docs", "avg_dup_rate", "n_mostly_dup",
                F.coalesce("n_short", F.lit(0)).cast("long").alias("n_short"))
    )


def sample_fixed_per_source(spark: SparkSession, sf_dir: str,
                            cap: int = 12) -> DataFrame:
    """Per-domain document cap: keep at most `cap` docs per source,
    chosen deterministically by md5(doc_id) order — the "no single
    domain dominates the mixture" guard applied after rate-based
    sampling (domain_mixture_sample) when an absolute ceiling is the
    policy. md5 order makes the kept set a uniform, growth-stable
    sample: adding new docs can displace old ones only at the boundary,
    and any engine re-derives membership from keys alone.

    Scale: one hash exchange on source + a per-source top-cap — Spark
    plans the row_number window with a partial sort; no global sort, no
    driver involvement. Skew note: sources are the partition key, so a
    corpus with few giant sources wants the two-phase variant (pre-trim
    per shard with a salted key, then exact trim) — same plan shape
    twice; documented rather than implemented because cap << shard size
    makes the pre-trim nearly free.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.select(
            "source", "doc_id",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= cap)
        .select("source", F.col("rk").cast("long").alias("rk"), "doc_id")
    )


def sample_weighted(spark: SparkSession, sf_dir: str,
                    k: int = 60) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    "Weighted random sampling with a reservoir", IPL 2006): each doc
    draws u ~ U(0,1) and the k largest u^(1/w) win — here w = token
    count, the standard "sample long documents proportionally to their
    token mass" mixture step (a uniform doc sample under-represents
    token volume; every pretraining-mix recipe weights by tokens).

    Determinism and engine portability: u is derived from the doc's own
    key — u = (h60(doc_id) mod 2^20 + 0.5) / 2^20, never an
    engine-native hash — so any engine re-derives the same draw and
    adding data never reshuffles existing keys. The selection key is ln(u)/w (monotone in u^(1/w),
    avoids pow), ROUNDED to 8 dp before ranking with a doc_id tie-break:
    both engines' ln() agree to ~1 ulp and the rounding collapses that
    below the comparison, the same convention as dsir_importance_sample.

    Scale shape: key is a pure scan-side projection (no UDF, no
    shuffle); global top-k plans as TakeOrderedAndProject — per-partition
    heap of k, O(k) rows to the driver stage, never a full sort. At
    100 TB this is exactly the reservoir the paper describes, distributed
    by Spark's partial top-k.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(tokenize(normalize_text(F.col("text")))).cast("double")
    u = (
        (h60(F.col("doc_id").cast("string")) % (1 << 20)).cast("double")
        + 0.5
    ) / float(1 << 20)
    key = F.round(F.log(u) / w, 8)
    return (
        docs.select(
            "doc_id", "source",
            w.cast("long").alias("n_tokens"),
            key.alias("es_key"),
        )
        .where(F.col("n_tokens") > 0)
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(k)
    )


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a Bloom filter instead of the
    exact broadcast gram set (decontaminate_ngram's scale sibling).

    Why this exists at 100 TB: the exact variant broadcasts every
    distinct benchmark n-gram. Real contamination sweeps check a corpus
    against MANY benchmark suites at 13-gram granularity — the union can
    reach hundreds of millions of grams, past comfortable broadcast
    size. The Bloom bitmap is m_bits/8 bytes REGARDLESS of how many
    grams went in (here 8 KiB; production ~1-4 GiB for 1e9 grams at 1%
    FPR), restoring the broadcast-the-small-side plan at any benchmark
    scale. One-sided error: a Bloom filter never misses a real
    contaminated gram (no false negatives — the recall guarantee that
    matters for decontamination), and false positives only over-flag at
    a bounded rate ((1-e^{-kn/m})^k; the superset property and the FPR
    bound are asserted in tests/test_datamix.py against the exact
    operator).

    Plan: the benchmark gram set -> ``bloom_bitmap`` (one md5 per gram,
    k KM probes, a bit_or aggregate of <= m_bits/63 rows, ~8 KiB) as a
    ONE-ROW map<long,long> column, broadcast. Training side: the whole
    membership test is ``bloom_any``, a higher-order ``exists`` over
    each document's gram array — 1 md5 per gram, k arithmetic probes
    against ``element_at(bitmap, word) & mask`` — so the corpus side is
    a pure projection: zero probe-side shuffle, zero join, one
    per-source rollup of one row per document at the end. Docs shorter
    than n tokens have an empty gram array and count clean without a
    separate anchor join. (The first cut exploded grams and grouped-by-
    (doc, gram) to combine probe verdicts — shuffling full gram strings;
    the map-lookup form measured 1.8× faster at sf0.1 with bit-identical
    output, and the KM double-hash form cuts the per-gram digest count
    from k to 1 on both engines.) The wide exchange of the exact
    variant's DISTINCT over benchmark grams shrinks to a m_bits/63-row
    bit_or aggregate (map-side combinable: bit_or is associative and
    each partition emits at most m_bits/63 rows). The bitmap layout and
    its DuckDB twin are documented once, in ``functions/portable.py``.
    """
    docs = load_table(spark, sf_dir, "documents")
    bench = is_bench("doc_id")
    bm1 = bloom_bitmap(
        explode_ngram_set(docs.where(bench), "text", BENCH_BLOOM_N),
        "ngram", BENCH_BLOOM_BITS)
    per_doc = (
        docs.where(~bench)
        .select("doc_id", "source",
                tokenize(normalize_text(F.col("text"))).alias("__t"))
        .crossJoin(F.broadcast(bm1))
        .select(
            "doc_id", "source",
            bloom_any(F.array_distinct(
                ngrams_from_tokens(F.col("__t"), BENCH_BLOOM_N)),
                F.col("bm"), BENCH_BLOOM_BITS).cast("long").alias("flagged"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum("flagged").cast("long").alias("n_flagged_bloom"),
        )
        .withColumn(
            "flag_rate",
            F.round(F.col("n_flagged_bloom") / F.col("n_train_docs"), 4),
        )
    )


def jsd_lang_divergence(spark: SparkSession, sf_dir: str,
                        langs: tuple[str, ...] = ("de", "en", "es", "fr", "zh"),
                        ) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-language unigram
    token distributions — the corpus-drift / mixture-diagnostic that
    tells a dataset builder HOW different two slices are before mixing
    (0 nats = identical distributions, ln 2 = disjoint support; the
    same measure drives distribution-shift monitors between corpus
    snapshots). For the pair (a, b): JSD = sum over the token union of
    0.5*p*ln(p/m) + 0.5*q*ln(q/m) with m = (p+q)/2, zero-count terms
    dropping out exactly.

    Scale shape: ONE shuffle — per-(token, lang) counts pivoted into a
    fixed-width per-token count vector (`pivot` with an explicit value
    list, so no driver-side distinct pass). Language marginals are a
    1-row broadcast aggregate; all C(L,2) pairwise JSD sums then fold
    in a single second aggregation over the same token-keyed relation
    (each token row contributes to every pair — column arithmetic, no
    pair-keyed explosion), and the final unpivot emits C(L,2) rows.
    Nothing in the plan depends on corpus size except the token-keyed
    count aggregation.

    Cross-engine determinism: counts are exact integers; each pair's
    JSD sums one smooth term per union token in engine order (~1e-14
    jitter) and is rounded to 6 dp in the output only — row identity
    comes from the lang pair, so rounding cannot flip rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(
        tokenize(normalize_text(F.col("text")))).alias("t"))
    wide = (
        toks.groupBy("t").pivot("lang", list(langs))
        .agg(F.count(F.lit(1)))
        .select("t", *[F.coalesce(F.col(f"`{l}`"), F.lit(0)).alias(f"c_{l}")
                       for l in langs])
    )
    totals = wide.agg(
        *[F.sum(f"c_{l}").alias(f"n_{l}") for l in langs])

    pairs = [(a, b) for i, a in enumerate(langs) for b in langs[i + 1:]]

    def _kl_half(p, m):
        return F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(0.0)

    aggs = []
    for a, b in pairs:
        p = F.col(f"c_{a}") / F.col(f"n_{a}")
        q = F.col(f"c_{b}") / F.col(f"n_{b}")
        m = (p + q) / 2
        aggs.append(F.sum(_kl_half(p, m) + _kl_half(q, m))
                    .alias(f"jsd_{a}_{b}"))
        aggs.append(F.sum(((F.col(f"c_{a}") > 0) | (F.col(f"c_{b}") > 0))
                          .cast("long")).alias(f"nu_{a}_{b}"))
    folded = wide.crossJoin(F.broadcast(totals)).agg(*aggs)

    stack = F.expr(
        "stack({n}, {args}) as (lang_a, lang_b, jsd, n_union)".format(
            n=len(pairs),
            args=", ".join(
                f"'{a}', '{b}', jsd_{a}_{b}, nu_{a}_{b}" for a, b in pairs)))
    return (
        folded.select(stack)
        .select("lang_a", "lang_b", F.round("jsd", 6).alias("jsd"),
                F.col("n_union").cast("long").alias("n_union"))
    )


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: sampling probability per
    source proportional to (token share)^alpha, alpha = 0.7 — the multilingual /
    multi-domain rebalancing rule (alpha=1 keeps the natural
    distribution, alpha→0 approaches uniform; mT5 and friends train at
    alpha≈0.3-0.7). Emits each source's natural share, its
    temperature-scaled weight, and the expected docs drawn from a
    fixed per-epoch budget under that weight.

    Determinism: shares are ratios of exact integer token counts and
    the alpha power is a smooth function of them, rounded to 6 dp on
    both engines AFTER the full expression (single rounding site, same
    note as the JSD/PMI ops).

    Scale shape: one per-source rollup with map-side partial agg (the
    shuffle moves n_sources rows), one 20-row broadcast-free window to
    normalise — the corpus is touched exactly once at scan speed.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = raw_token_count("text")
    per_src = docs.select("source", toks.alias("n")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    scaled = F.pow(share, F.lit(0.7))
    weight = scaled / F.sum(scaled).over(w)
    return (
        per_src.select(
            "source", F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(share, 6).alias("natural_share"),
            F.round(weight, 6).alias("weight"),
            F.round(weight * 1000, 2).alias("expected_docs"),
        )
    )


def quantile_normalize_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalisation of a quality score: map each
    document's raw score to its within-source percent rank, so scores
    from differently-calibrated sources become comparable before a
    corpus-wide quality cut — the standard fix when one source's
    classifier is systematically optimistic. Returns per-source
    calibration evidence: raw-score quartiles next to the count of
    docs whose NORMALISED score clears a fixed 0.8 cut (by
    construction ~20% per source, proving the calibration) plus the
    raw cut value that corresponds to it.

    The raw score here is the exact-int tokens-per-char ratio (a real
    density signal, deterministic on both engines); percent_rank ties
    resolve identically because the (score, doc_id) order is total.

    Scale shape: one source-keyed exchange for the window (percent
    rank within source), then a per-source rollup on the SAME key —
    Catalyst reuses the partitioning, so the corpus crosses the wire
    once.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = raw_token_count("text")
    base = docs.select(
        "doc_id", "source",
        (toks * 1000 / F.col("n_chars")).alias("raw"),
    )
    w = Window.partitionBy("source").orderBy(F.asc("raw"), F.asc("doc_id"))
    ranked = base.withColumn("q", F.percent_rank().over(w))
    return (
        ranked.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("raw"), 6).alias("raw_min"),
            F.round(F.expr("percentile(raw, 0.5)"), 6).alias("raw_p50"),
            F.round(F.max("raw"), 6).alias("raw_max"),
            F.sum((F.col("q") >= 0.8).cast("long")).alias("n_above_cut"),
            F.round(F.min(F.when(F.col("q") >= 0.8, F.col("raw"))), 6)
            .alias("raw_cut_equiv"),
        )
        .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                "raw_min", "raw_p50", "raw_max",
                F.col("n_above_cut").cast("long").alias("n_above_cut"),
                "raw_cut_equiv")
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct token 8-grams they share — the provenance audit that
    finds mirror sites, syndicated feeds and wholesale copying BETWEEN
    corpus slices (document-level dedup reports pairs; this reports
    which SOURCES systematically overlap, which drives source-level
    dropping decisions). overlap_frac normalises by the smaller
    source's gram vocabulary so a tiny mirror of a big source still
    scores ~1.

    Scale shape: per-source distinct grams (one (source, gram) shuffle
    with map-side distinct partial agg), then a gram-keyed self-join
    producing only co-occurring source pairs, rolled up to
    |sources|² rows max. The gram relation is vocabulary-bounded, not
    corpus-bounded; nothing is broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = explode_ngrams(docs, "text", 8, ["source"]).distinct()
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("source").alias("src_a"), "ngram")
    b = grams.select(F.col("source").alias("src_b"), "ngram")
    pairs = (
        a.join(b, "ngram")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    sa = sizes.select(F.col("source").alias("src_a"),
                      F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"),
                      F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
        .select("src_a", "src_b", "shared_grams",
                (F.col("shared_grams") / F.least("na", "nb"))
                .alias("overlap_frac"))
    )


def gopher_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the Gopher repetition gate (Rae et al. 2021,
    Table A1): the fraction of a document covered by n-grams that occur
    MORE THAN ONCE within that document. quality_repetition implements
    the top-token / distinct-token rules; this implements the
    dup-n-gram family (the published screens use n = 5..10 on character
    coverage — here coverage is counted in TOKENS, the deterministic
    unit the rest of this repo's token pipeline shares, and the
    fraction is emitted in exact integer micro-units so no float
    rounding site exists).

    Relational shape (no UDFs):
      1. one tokenisation pass → n-gram rows with their token POSITION;
      2. duplicated grams via a count window over (doc, gram) — the
         exchange is keyed on the gram occurrence, partial-agg'd;
      3. coverage = DISTINCT covered token indices: each duplicated
         occurrence explodes to its n indices and a (doc, idx) distinct
         count measures the interval union exactly (overlaps counted
         once) — bounded by n x token-stream rows, the same order as
         the gram exchange itself (dedup_repeated_spans holds the
         gaps-and-islands alternative for when spans are long);
      4. per-source rollup: docs, flagged docs (coverage > 20%), and
         the summed micro-unit fractions (exact integers — consumers
         divide by n_docs, so no cross-engine avg rounding).

    At 100 TB: two keyed exchanges over the gram stream plus a
    doc-keyed fold — the same scale envelope as quality_repetition.
    """
    from hadoop_mapreduce_spark.functions.text import (
        ngrams_from_tokens,
        normalize_text,
        tokenize,
    )
    from pyspark.sql import Window

    n = 5
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        tokenize(normalize_text(F.col("text"))).alias("__t"),
    ).where(F.size("__t") >= n)
    nt = toks.select("doc_id", "source", F.size("__t").alias("n_tokens"))
    grams = toks.select(
        "doc_id",
        F.posexplode(ngrams_from_tokens(F.col("__t"), n)).alias("pos", "g"),
    )
    w = Window.partitionBy("doc_id", "g")
    dup_pos = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(w))
        .where(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    covered = (
        dup_pos.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1)))
            .alias("idx"))
        .groupBy("doc_id")
        .agg(F.countDistinct("idx").alias("cov"))
    )
    # truncating INTEGER division on both engines (Spark DIV / DuckDB //)
    # — a double divide + cast would round differently per engine
    per_doc = (
        nt.join(covered, "doc_id", "left")
        .select(
            "source",
            F.expr("CAST(coalesce(cov, 0) * 1000000 AS BIGINT) DIV n_tokens")
            .alias("frac_e6"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("frac_e6") > 200_000)
                  .cast("long")).alias("n_flagged"),
            F.sum("frac_e6").alias("sum_dup_frac_e6"),
        )
    )


def source_concentration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-concentration diagnostics: for each grouping axis
    (source, lang), report how concentrated the corpus's TOKEN mass is
    — Herfindahl-Hirschman index, Gini coefficient, and Shannon
    entropy of the share distribution. The one-line answer to "is this
    corpus secretly 80% one crawl?", read before setting mixture
    weights (a high-HHI axis needs temperature flattening; a
    near-uniform one doesn't).

    Exactness: HHI and Gini are integer arithmetic end to end —
    HHI_e6 = Σt_s²·1e6 // T², Gini_e6 = (2·Σ(rank·t)·1e6 −
    (n+1)·T·1e6) // (n·T) over shares ranked ascending — computed in
    DECIMAL(38,0) (HUGEINT in the oracle) because Σt² overflows int64
    once per-group token counts pass ~3e9. Entropy is the one float:
    ln of exact integer ratios, 6 dp (the repo's smooth-function
    rounding contract).

    Shape: ONE corpus scan produces the (source, lang, tokens) micro
    table (|sources|×|langs| rows); both axis rollups and their
    rank windows run on that — everything after the scan is
    metadata-sized at any corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            "source", "lang",
            tokenize(normalize_text(F.col("text"))).alias("__t"))
        .select("source", "lang", F.size("__t").cast("long").alias("n_tok"))
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("t"))
    )

    def axis(col: str) -> DataFrame:
        g = base.groupBy(F.col(col).alias("grp")).agg(
            F.sum("n_docs").alias("n_docs"), F.sum("t").alias("t"))
        # the windows run over a metadata-sized relation (|groups| rows)
        w = Window.partitionBy(F.lit(1)).orderBy(F.asc("t"), F.asc("grp"))
        wa = (Window.partitionBy(F.lit(1))
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
        r = g.select(
            "grp", "n_docs", "t",
            F.row_number().over(w).alias("rank"),
            F.sum("t").over(wa).alias("tot"),
        )
        ent = F.when(
            F.col("t") > 0,
            -(F.col("t") / F.col("tot")) * F.log(F.col("t") / F.col("tot"))
        ).otherwise(F.lit(0.0))
        return (
            r.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum("n_docs").alias("n_docs"),
                F.sum("t").alias("total_tokens"),
                F.sum(F.col("t").cast("decimal(38,0)")
                      * F.col("t")).alias("sum_t2"),
                F.sum(F.col("rank").cast("decimal(38,0)")
                      * F.col("t")).alias("sum_rt"),
                F.round(F.sum(ent), 6).alias("entropy"),
            )
            .select(
                F.lit(col).alias("axis"),
                F.col("n_groups").cast("long").alias("n_groups"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("total_tokens").cast("long").alias("total_tokens"),
                # `div` = integral division (floor for the non-negative
                # numerators here), matching DuckDB's `//` exactly —
                # decimal `/` would ROUND and flip boundary cases
                F.expr("cast((sum_t2 * 1000000) div"
                       " (cast(total_tokens as decimal(38,0))"
                       "  * total_tokens) as bigint)").alias("hhi_e6"),
                F.expr("cast((2 * sum_rt * 1000000"
                       "  - cast(n_groups + 1 as decimal(38,0))"
                       "    * total_tokens * 1000000) div"
                       " (cast(n_groups as decimal(38,0))"
                       "  * total_tokens) as bigint)").alias("gini_e6"),
                "entropy",
            )
        )

    return axis("source").unionByName(axis("lang"))


def token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus assembly: give every source an equal slice of a
    global token budget (total_tokens // budget_divisor) and fill each
    slice in deterministic md5(doc_id) order until the next document
    would overflow it — the "cap every domain at N tokens" rebalancing
    step a mixture plan executes after weights are chosen. Equal slices
    are the uniform-rebalance strategy (the strongest flattening);
    temperature-weighted slices compose by swapping the budget column.

    Determinism and portability: the fill order is the md5-hex of
    doc_id (the repo's global_shuffle_order convention — any engine,
    and the DuckDB oracle, re-derives it), so the taken set is an
    UNBIASED deterministic sample of each source up to the cap — not
    "whatever was ingested first". "Taken" is a pure window predicate:
    a doc is in iff its INCLUSIVE running token sum within the source
    stays <= the source's budget. First-fit-skip variants (skip the
    overflowing doc, keep trying later ones) deliberately NOT used:
    the skip scan is sequential state, while prefix-fill stays one
    window expression; the cost is at most one under-filled tail doc
    per source.

    Shape: one scan; one exchange on source for the running-sum window;
    the per-source budget table is a 1-row aggregate broadcast back.
    """
    budget_divisor = 5
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(tokenize(normalize_text(F.col("text"))))
        .cast("long").alias("n_tok"),
    )
    total = sized.agg(
        F.expr(f"sum(n_tok) div {budget_divisor}").alias("global_budget"),
        F.countDistinct("source").alias("n_sources"),
    ).select(
        F.expr("global_budget div n_sources").alias("budget"))
    w = (Window.partitionBy("source").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = sized.crossJoin(F.broadcast(total)).select(
        "source", "n_tok", "budget",
        F.sum("n_tok").over(w).alias("cum"))
    return (
        run.groupBy("source")
        .agg(
            F.max("budget").alias("budget"),
            F.sum(F.when(F.col("cum") <= F.col("budget"), 1).otherwise(0))
            .cast("long").alias("n_docs_taken"),
            F.sum(F.when(F.col("cum") <= F.col("budget"), F.col("n_tok"))
                  .otherwise(F.lit(0))).alias("tokens_taken"),
            F.count(F.lit(1)).alias("n_docs_total"),
            F.sum("n_tok").alias("tokens_total"),
        )
        .select(
            "source",
            F.col("budget").cast("long").alias("budget"),
            "n_docs_taken",
            F.col("tokens_taken").cast("long").alias("tokens_taken"),
            F.expr("CASE WHEN budget > 0 THEN tokens_taken * 1000000"
                   " div budget ELSE 0 END").alias("fill_e6"),
            F.col("n_docs_total").cast("long").alias("n_docs_total"),
            F.col("tokens_total").cast("long").alias("tokens_total"),
        )
    )


def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: rank each source's documents by a
    quality signal (distinct-token ratio, exact-int), then interleave
    the sources round-robin — position = (quality_rank − 1)·n_sources +
    source_index — so a training run sees every domain early and the
    best documents of each domain first. This is the deterministic
    "quality-descending, domain-balanced" curriculum an ordered
    pre-training dataloader consumes; emits the first 100 positions.

    Portability: the quality signal is the floor-divided dtok ratio,
    ranks are row_numbers with doc_id tie-breaks, and the source index
    ranks source NAMES (dense, alphabetical) — every position is an
    exact integer any engine re-derives. Gaps in the position sequence
    are expected once a source exhausts (its residual slots stay
    empty); consumers order by position, not by contiguity.

    Shape: one scan; one source-keyed exchange for the per-source
    quality window; the source-index relation is |sources| rows,
    broadcast. No global window over documents anywhere — the final
    top-k is a TakeOrdered over positions.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id", "source",
        tokenize(normalize_text(F.col("text"))).alias("__tk"),
    ).select(
        "doc_id", "source",
        F.expr(
            "CASE WHEN size(__tk) > 0 THEN"
            " (cast(size(array_distinct(__tk)) as bigint) * 1000000)"
            " div size(__tk) ELSE 0 END").alias("dtok_e6"),
    )
    srcs = (
        docs.select("source").distinct()
        .withColumn(
            "src_idx",
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy("source")) - 1)
        .withColumn("n_sources",
                    F.count(F.lit(1)).over(
                        Window.partitionBy(F.lit(1))
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)))
    )
    ranked = stats.withColumn(
        "q_rank",
        F.row_number().over(
            Window.partitionBy("source")
            .orderBy(F.desc("dtok_e6"), F.asc("doc_id"))))
    return (
        ranked.join(F.broadcast(srcs), "source")
        .select(
            ((F.col("q_rank") - 1).cast("long") * F.col("n_sources")
             + F.col("src_idx")).alias("position"),
            "source",
            F.col("q_rank").cast("long").alias("q_rank"),
            "doc_id", "dtok_e6",
        )
        .orderBy("position")
        .limit(100)
    )


def source_novelty_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-value attribution: process sources in a canonical
    (alphabetical) order and credit every distinct token n-gram to the
    FIRST source that contributes it — each source's "novel grams" are
    what it adds GIVEN everything before it. The marginal-value curve a
    dedup/acquisition plan reads to decide which sources are worth
    ingesting at all (a mirrored crawl attributes ~0 novel grams).

    Exact integers throughout: novelty_e6 = novel·1e6 // distinct via
    floor division.

    Shape: one tokenise+explode scan → per-(gram, source) distinct
    collapse (map-side partial) → per-gram min(source_rank) — two keyed
    exchanges, both gram-keyed, both linear; the per-source rollup
    output is |sources| rows. The source-rank relation is |sources|
    rows, broadcast. No pairwise source×source work anywhere (contrast
    source_overlap_matrix, which answers the pairwise question).
    """
    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        docs.select("source").distinct()
        .withColumn(
            "src_rank",
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy("source")))
    )
    grams = (
        explode_ngram_set(docs, "text", 4, ["source"])
        .distinct()
        .join(F.broadcast(srcs), "source")
    )
    first = grams.groupBy("ngram").agg(F.min("src_rank").alias("first_rank"))
    # equi-join back on the gram key only (same partitioning as the
    # groupBy that built `first` — no extra exchange of the big side)
    per_source = (
        grams.join(first, "ngram")
        .groupBy("source", "src_rank")
        .agg(
            F.count(F.lit(1)).alias("distinct_grams"),
            F.sum(F.when(F.col("src_rank") == F.col("first_rank"), 1)
                  .otherwise(0)).cast("long").alias("novel_grams"),
        )
    )
    return per_source.select(
        F.col("src_rank").cast("long").alias("src_rank"),
        "source",
        F.col("distinct_grams").cast("long").alias("distinct_grams"),
        "novel_grams",
        F.expr("CASE WHEN distinct_grams > 0 THEN"
               " novel_grams * 1000000 div distinct_grams"
               " ELSE 0 END").alias("novelty_e6"),
    )


def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the lang x source contingency
    table: per cell, the observed doc count, the expected count under
    independence, and the cell's chi-square contribution — the
    corpus-composition diagnostic that answers "do my sources have
    materially different language mixes?" before choosing per-source
    sampling weights. A large total statistic (sum of contrib_e6) means
    language balance cannot be tuned by source weights alone.

    Exact integer arithmetic end to end: expected = row*col/N and
    contrib = (O*N - row*col)^2 / (N*row*col) are computed as
    decimal(38,0) floor divisions in micro-units, never doubles, so
    both engines agree bit-for-bit (DuckDB runs the same formula in
    HUGEINT). Absent (lang, source) combinations are REAL cells with
    O = 0 — the grid is a cross join of the two marginal relations
    (both metadata-sized, broadcast) left-joined to the counts, so the
    statistic is the textbook one, not a present-cells-only undercount.
    At extreme N (~1e12 docs) the decimal(38,0) square would overflow;
    there the statistic's smooth double form is the right fallback —
    the exact-integer path is chosen here for cross-engine hash parity.

    Plan: one groupBy(lang, source) over the scan; marginals derive
    from that tiny aggregate, not from re-scans.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("lang").agg(F.sum("o").alias("row_t"))
    cols = cells.groupBy("source").agg(F.sum("o").alias("col_t"))
    total = cells.agg(F.sum("o").alias("n"))
    grid = (
        rows.crossJoin(F.broadcast(cols))
        .crossJoin(F.broadcast(total))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang", "source", "row_t", "col_t", "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("observed"),
        )
    )
    # `div` (integral division) on decimal operands floors like the
    # oracle's HUGEINT `//`; a plain decimal cast would round half-up.
    return grid.select(
        "lang", "source", "observed",
        F.expr("CAST(CAST(row_t AS DECIMAL(38,0)) * col_t * 1000000"
               " div n AS BIGINT)").alias("expected_e6"),
        F.expr(
            "CAST((CAST(observed AS DECIMAL(38,0)) * n"
            "      - CAST(row_t AS DECIMAL(38,0)) * col_t)"
            "     * (CAST(observed AS DECIMAL(38,0)) * n"
            "      - CAST(row_t AS DECIMAL(38,0)) * col_t)"
            "     * 1000000"
            " div (CAST(row_t AS DECIMAL(38,0)) * col_t * n) AS BIGINT)"
        ).alias("contrib_e6"),
    )


def ks_drift_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift statistic of each source's quality
    distribution against the rest of the corpus: KS = max |F_src -
    F_rest| over the pooled support. The distribution-shape sibling of
    lang_source_chisq's categorical test — it catches a source whose
    MEAN quality looks normal while its shape (bimodal, truncated,
    shifted tail) does not, which is the typical signature of a
    scraper change or a silent filter regression upstream.

    Exactness: quality scores are the repo's integer micro-unit
    distinct-token ratio, so both CDFs are step functions on integer
    support and the statistic is computed by CROSS-MULTIPLICATION —
    |cum_src * n_rest - cum_rest * n_src| * 1e6 div (n_src * n_rest) —
    never a float division. The evaluation grid is sources x distinct
    score values: built from two metadata-sized relations AFTER the
    one (source, score) aggregation over the scan, so the grid (and
    both cumsum windows, partitioned per source) is bounded by
    |sources| * |distinct scores| regardless of corpus size.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        tokenize(normalize_text(F.col("text"))).alias("__toks"),
    ).select(
        "source",
        F.when(F.size("__toks") > 0,
               F.expr("size(array_distinct(__toks)) * 1000000"
                      " div size(__toks)"))
        .otherwise(F.lit(0)).cast("long").alias("q_e6"),
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    # five downstream relations (qs, srcs, total, per_q, grid) derive
    # from counts — without the persist each re-runs the tokenize scan
    # (measured 8.1 s -> ~2 s at the 4x ladder).
    counts = scoped_persist(
        scored.groupBy("source", "q_e6").agg(
            F.count(F.lit(1)).alias("c")))
    qs = counts.select("q_e6").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").alias("n_src"))
    total = counts.agg(F.sum("c").alias("n_all"))
    grid = (
        srcs.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(total))
        .join(counts, ["source", "q_e6"], "left")
        .select("source", "q_e6", "n_src", "n_all",
                F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    per_q = counts.groupBy("q_e6").agg(F.sum("c").alias("cq"))
    grid = grid.join(F.broadcast(per_q), "q_e6")
    w = (Window.partitionBy("source").orderBy("q_e6")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = grid.select(
        "source", "q_e6", "n_src",
        (F.col("n_all") - F.col("n_src")).alias("n_rest"),
        F.sum("c").over(w).alias("cum_src"),
        (F.sum("cq").over(w) - F.sum("c").over(w)).alias("cum_rest"),
    )
    return (
        cum.groupBy("source")
        .agg(
            F.max("n_src").cast("long").alias("n_src"),
            F.max("n_rest").cast("long").alias("n_rest"),
            F.max(F.expr(
                "CASE WHEN n_rest > 0 THEN"
                " abs(cum_src * n_rest - cum_rest * n_src) * 1000000"
                " div (n_src * n_rest) ELSE 0 END")).alias("ks_e6"),
        )
    )


def wasserstein_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) drift of each source's document
    LENGTH distribution against the rest of the corpus: W1 =
    integral |F_src(x) - F_rest(x)| dx over the pooled support. The
    transport-cost sibling of ks_drift_quality — KS sees only the worst
    single gap between the CDFs, W1 integrates ALL of it, so it ranks a
    source whose whole distribution shifted 5% above one with a single
    narrow spike, which is what a mixture rebalance actually cares
    about (how many token-units of mass must move, not how bad the
    worst quantile is).

    Exactness: lengths are integers (n_chars), both CDFs are step
    functions on integer support, and the integral is a finite sum of
    |F_src - F_rest| * gap over consecutive distinct lengths — computed
    by cross-multiplication |cum_src * n_rest - cum_rest * n_src| * gap
    with the division deferred to the very end. The numerator is
    bounded by N^2 * max_length, past BIGINT at corpus scale, so it
    accumulates in DECIMAL(38,0) (HUGEINT in the oracle) — the
    basket_part_pairs overflow posture. Output in micro-chars
    (w1_chars_e6 = sum * 1e6 DIV (n_src * n_rest)).

    Scale shape: identical to ks_drift_quality's — one (source, length)
    count aggregation over the scan (map-side combinable), then every
    window and join runs on the |sources| x |distinct lengths|
    metadata-sized grid; no tokenize pass at all (n_chars is a stored
    column), so this is the cheapest drift statistic in the family.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source", F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist
    counts = scoped_persist(counts)
    xs = counts.select("x").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").alias("n_src"))
    total = counts.agg(F.sum("c").alias("n_all"))
    per_x = counts.groupBy("x").agg(F.sum("c").alias("cx"))
    grid = (
        srcs.crossJoin(F.broadcast(xs))
        .crossJoin(F.broadcast(total))
        .join(counts, ["source", "x"], "left")
        .join(F.broadcast(per_x), "x")
        .select("source", "x", "n_src", "n_all",
                F.coalesce(F.col("c"), F.lit(0)).alias("c"), "cx")
    )
    w = (Window.partitionBy("source").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lead_x = F.lead("x").over(Window.partitionBy("source").orderBy("x"))
    cum = grid.select(
        "source", "x", "n_src",
        (F.col("n_all") - F.col("n_src")).alias("n_rest"),
        F.sum("c").over(w).alias("cum_src"),
        (F.sum("cx").over(w) - F.sum("c").over(w)).alias("cum_rest"),
        (lead_x - F.col("x")).alias("gap"),
    ).where(F.col("gap").isNotNull())
    return (
        cum.groupBy("source")
        .agg(
            F.max("n_src").cast("long").alias("n_src"),
            F.max("n_rest").cast("long").alias("n_rest"),
            F.expr(
                "CAST(CASE WHEN max(n_rest) > 0 THEN"
                " sum(abs(CAST(cum_src AS DECIMAL(38,0)) * n_rest"
                "         - CAST(cum_rest AS DECIMAL(38,0)) * n_src)"
                "     * gap) * 1000000"
                " DIV (CAST(max(n_src) AS DECIMAL(38,0)) * max(n_rest))"
                " ELSE 0 END AS BIGINT)").alias("w1_chars_e6"),
        )
    )


def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design: allocate a fixed
    sample budget across sources proportionally to N_h·S_h (stratum
    size × stratum std-dev of document length) — the design that
    minimises the estimator variance for a fixed budget, vs the
    proportional allocation `sample_stratified` executes (high-variance
    strata get oversampled; a uniform boilerplate source gets almost
    nothing).  This op emits the PLAN; feeding it into the sampler is
    the composition.

    Exactness discipline: per-stratum Σx and Σx² are exact BIGINTs, the
    variance is the exact rational (N·Σx² − (Σx)²)/N², and S_h's sqrt
    (IEEE, correctly rounded — identical on both engines) is
    immediately floor-rounded into the e6 BIGINT weight w_h = N_h·S_h
    micro-units, so the cross-strata total and every allocation is pure
    integer arithmetic — a raw double sum over strata would be
    partition-order-dependent.  Allocations use the largest-remainder
    guarantee only implicitly (floor division; the emitted rows carry
    exact weights so a consumer can redistribute the ≤|strata| dropped
    units deterministically).

    Scale: one corpus scan to |sources| rows; everything after is
    metadata-sized.
    """
    n_total = 1000
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
        .alias("sx2"),
    )
    w = per.select(
        "source", "n_docs", "sx", "sx2",
        fixed(
            F.col("n_docs")
            * F.sqrt((F.col("sx2").cast("double") * F.col("n_docs")
                      - F.col("sx").cast("double") * F.col("sx"))
                     / (F.col("n_docs").cast("double") * F.col("n_docs"))),
            6).alias("w_e6"),
    )
    tot = w.agg(F.sum("w_e6").alias("tot_w_e6"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "sx", "sx2", "w_e6",
            F.col("tot_w_e6").cast("long").alias("tot_w_e6"),
            F.expr(f"""CASE WHEN tot_w_e6 > 0
                       THEN w_e6 * {n_total} DIV tot_w_e6
                       ELSE 0 END""").alias("n_alloc"),
        )
    )


def lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source — the single
    number answering "how much does knowing the source tell you about
    the language?" (0 = independent mixture, high = language-siloed
    sources), plus per-cell pointwise MI showing WHICH (lang, source)
    cells drive it.  Complements `lang_source_chisq` (deviation test,
    no effect size) and `jsd_lang_divergence` (pairwise distributional
    distance, no joint structure).

    Exactness discipline: every cell count and marginal is exact
    BIGINT; each cell's n_ls·ln(n_ls·N/(n_l·n_s)) term is a smooth
    function of exact integers (identical doubles on both engines),
    floor-rounded into e6 micro-units PER CELL, and the MI total is the
    exact integer sum of those cell terms divided by N — a raw double
    sum over cells would be partition-order-dependent.

    Scale: one corpus scan to the |langs|×|sources| grid; marginals and
    the total are grid re-aggregations.
    """
    docs = load_table(spark, sf_dir, "documents")
    from hadoop_mapreduce_spark.session import scoped_persist

    joint = scoped_persist(
        docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_ls")))
    ml = joint.groupBy("lang").agg(F.sum("n_ls").alias("n_l"))
    ms = joint.groupBy("source").agg(F.sum("n_ls").alias("n_s"))
    tot = joint.agg(F.sum("n_ls").alias("nn"))
    cells = (
        joint.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang", "source", "n_ls",
            F.col("n_l").cast("long").alias("n_l"),
            F.col("n_s").cast("long").alias("n_s"),
            fixed(
                F.col("n_ls")
                * F.log(F.col("n_ls").cast("double") * F.col("nn")
                        / (F.col("n_l").cast("double") * F.col("n_s"))),
                6).alias("term_e6"),
            F.col("nn").cast("long").alias("nn"),
        )
    )
    # MI >= 0 mathematically, but the per-cell rounding can push the
    # SUM a few micro-units negative on a near-independent mixture —
    # and a negative numerator hits the DIV(truncate) vs //(floor)
    # divergence.  Clamp before dividing: the clamp only ever absorbs
    # rounding noise.
    mi = cells.agg(
        F.expr("CAST(greatest(0, sum(term_e6)) DIV max(nn) AS BIGINT)")
        .alias("mi_e6"))
    return (
        cells.crossJoin(F.broadcast(mi))
        .select(
            "lang", "source", "n_ls", "n_l", "n_s",
            # pointwise MI of the cell, micro-nats (can be negative —
            # plain floor-round, no integer division involved)
            F.expr("CAST(term_e6 DIV n_ls AS BIGINT)").alias("pmi_e6"),
            "mi_e6",
        )
    )


def length_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift table: each source's document-length
    deciles against the corpus deciles — WHERE in the distribution a
    source deviates, which `ks_drift_quality`'s single sup-statistic
    collapses away (a source can pass KS while its tail is 3× long).

    Exactness: both quantile vectors are the interpolating
    percentile() over exact integers (Spark percentile == DuckDB
    quantile_cont, same (n−1)·p index rule, identical doubles), and
    the drift column is their difference, floor-rounded 6 dp.

    Scale: two bounded aggregations (per-source and corpus percentile
    state is the KLL-free exact sort within each group — at cluster
    scale the per-group sort is the documented cost of EXACT
    quantiles; the approx_percentile twin is the cheap path) and a
    broadcast join of the 9-row corpus vector.
    """
    docs = load_table(spark, sf_dir, "documents")
    fr = [i / 10.0 for i in range(1, 10)]
    fr_sql = "array(" + ", ".join(str(f) for f in fr) + ")"
    per_src = docs.groupBy("source").agg(
        F.expr(f"percentile(n_chars, {fr_sql})").alias("qs"),
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    corpus = docs.agg(
        F.expr(f"percentile(n_chars, {fr_sql})").alias("qc"))
    exploded = per_src.crossJoin(F.broadcast(corpus)).select(
        "source", "n_docs",
        F.posexplode(F.arrays_zip(F.col("qs"), F.col("qc")))
        .alias("i", "pair"),
    )
    return (
        exploded.select(
            "source", "n_docs",
            ((F.col("i") + 1) * 10).cast("long").alias("pct"),
            half_up(F.col("pair.qs"), 6).alias("q_source"),
            half_up(F.col("pair.qc"), 6).alias("q_corpus"),
            half_up(F.col("pair.qs") - F.col("pair.qc"), 6).alias("drift"),
        )
    )


def length_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index per source —
    alpha = 1 / mean(ln(x_(i) / x_(k))) over the top-k (k = 100)
    order statistics: alpha < 2 means infinite-variance tails (a handful of
    giant documents dominate token mass and shard sizing), the
    heavy-tail fact a mean/percentile profile understates.  Consumes
    the same length column as `length_qq_drift` but answers the TAIL
    question QQ deciles can't reach.

    Determinism: the top-k order statistics come from the portable
    (n_chars DESC, doc_id) total order; each ln(x_i/x_k) is a smooth
    function of two exact integers, floor-rounded to e6 PER TERM and
    summed exactly (the repo's no-cross-partition-double-sum rule);
    alpha inverts the integer mean once, 6 dp.

    Scale: per-source top-k is a rank-limit (TakeOrdered shape), k
    bounded; everything after is k-row arithmetic per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id")
    topk = (
        docs.select("source", "n_chars", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= 100) & (F.col("n_chars") > 0))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    topk = scoped_persist(topk)
    kth = (
        topk.groupBy("source")
        .agg(F.max("rk").cast("long").alias("k_eff"),
             F.min("n_chars").cast("long").alias("x_k"))
    )
    terms = (
        topk.join(F.broadcast(kth), "source")
        .where(F.col("rk") < F.col("k_eff"))
        .select(
            "source", "k_eff", "x_k",
            fixed(F.log(F.col("n_chars").cast("double") / F.col("x_k")), 6)
            .alias("t_e6"),
        )
    )
    return (
        terms.groupBy("source", "k_eff", "x_k")
        .agg(F.sum("t_e6").cast("long").alias("sum_ln_e6"),
             F.count(F.lit(1)).cast("long").alias("n_terms"))
        .select(
            "source", "k_eff", "x_k", "sum_ln_e6", "n_terms",
            F.when(F.col("sum_ln_e6") <= 0,
                   F.lit(None).cast("double")).otherwise(
                half_up(F.col("n_terms").cast("double") * F.lit(1e6)
                        / F.col("sum_ln_e6"), 6)).alias("hill_alpha"),
        )
    )


def token_mass_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve points of token-mass concentration across documents
    per source: docs sorted by token count, cumulative token share at
    each doc-count decile — "the top 10% of documents carry X% of the
    tokens", the within-source inequality view
    (`source_concentration_audit`'s Gini summarises ACROSS sources;
    this shows the curve WITHIN each, which sets shard/packing policy).

    Scale + exactness: the per-source rank decomposes through the
    bounded token-count histogram exactly like quality_decile_lift —
    counts-of-counts grid prefix sums + per-(source, count) partitioned
    row_numbers, no global window; cumulative token sums are exact
    BIGINT; shares are micro-unit integer divisions.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id",
        F.size(tokenize(normalize_text(F.col("text")))).cast("long")
        .alias("tk"),
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    base = scoped_persist(base)
    tot = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").alias("total_tk"))
    grid = base.groupBy("source", "tk").agg(F.count(F.lit(1)).alias("cnt"))
    wg = (Window.partitionBy("source").orderBy(F.col("tk").desc())
          .rowsBetween(Window.unboundedPreceding, -1))
    above = grid.select(
        "source", "tk",
        F.coalesce(F.sum("cnt").over(wg), F.lit(0)).alias("n_above"))
    wps = Window.partitionBy("source", "tk").orderBy("doc_id")
    ranked = (
        base.withColumn("rn", F.row_number().over(wps))
        .join(above, ["source", "tk"])
        .join(F.broadcast(tot), "source")
        .select(
            "source", "tk", "n_docs", "total_tk",
            F.expr("(n_above + rn - 1) * 10 DIV n_docs").alias("decile"),
        )
    )
    per = ranked.groupBy("source", "decile", "n_docs", "total_tk").agg(
        F.count(F.lit(1)).cast("long").alias("docs_in_decile"),
        F.sum("tk").cast("long").alias("tk_in_decile"),
    )
    wc = (Window.partitionBy("source").orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        per.withColumn("cum_tk", F.sum("tk_in_decile").over(wc)
                       .cast("long"))
        .select(
            "source",
            F.col("decile").cast("long").alias("decile"),
            "docs_in_decile", "tk_in_decile", "cum_tk",
            F.expr("""CASE WHEN total_tk > 0
                      THEN tk_in_decile * 1000000 DIV total_tk
                      ELSE 0 END""").alias("share_e6"),
            F.expr("""CASE WHEN total_tk > 0
                      THEN cum_tk * 1000000 DIV total_tk
                      ELSE 0 END""").alias("cum_share_e6"),
        )
    )


def psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution against the corpus-wide reference — THE industry
    drift gate (credit-risk monitoring heritage; the 0.1 / 0.25
    thresholds every model-monitoring runbook quotes): PSI =
    sum_bins (p_src - p_ref) * ln(p_src / p_ref) over the reference
    distribution's ``n_bins`` equal-mass (decile) bins. It completes
    the drift family on an axis the others miss: KS
    (`ks_drift_quality`) sees one worst CDF gap, Wasserstein
    (`wasserstein_source_drift`) integrates mass displacement in value
    units, PSI measures log-likelihood divergence on FIXED bins — the
    form monitoring systems alert on because bins, not distributions,
    are what they store.

    Portability: decile edges come from the counts-of-counts
    cumulative (edge_j = smallest value whose cumulative count reaches
    ceil(j*N/10)) — exact integers, no engine quantile; bin assignment
    is "number of interior edges <= value" summed on the DISTINCT
    value relation; both shares are add-one smoothed
    (p = (n + 1)/(N + n_bins), guarding empty bins the standard way);
    each bin's PSI term is floor-rounded to e6 micro-units BEFORE the
    final sum, so the float work is one ln + one multiply per (source,
    bin) cell — order-independent and engine-identical (the
    embedding_anisotropy_audit convention).

    100 TB shape: one (value) counts-of-counts rollup (bounded by the
    distinct-length domain), one (source, value) rollup, a 9-row
    broadcast edge join against the distinct-value relation only, and
    a |sources| x n_bins grid for the fold. Nothing after the first
    exchanges exceeds the value domain.
    """
    n_bins = 10
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select("source", F.col("n_chars").alias("x"))
    from hadoop_mapreduce_spark.session import scoped_persist

    sv = scoped_persist(
        vals.groupBy("source", "x").agg(
            F.count(F.lit(1)).cast("long").alias("c")))
    per_x = scoped_persist(
        sv.groupBy("x").agg(F.sum("c").cast("long").alias("cx")))
    total = per_x.agg(F.sum("cx").cast("long").alias("n_all"))
    # interior decile edges from the exact cumulative: edge_j = min x
    # with cum >= ceil(j*N/nb) <=> ceil(j*N/nb) lands in
    # (cum - cx, cum]; derived declaratively (no driver collect) by
    # crossing the cumulative with the 9-row bin-index relation — a
    # 9-row result at any scale (the value domain is the only input)
    cum = per_x.crossJoin(F.broadcast(total)).select(
        "x", "cx", "n_all",
        F.sum("cx").over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, 0)).alias("cum"))
    jdx = spark.range(1, n_bins).select(F.col("id").alias("j"))
    edges = (
        cum.crossJoin(F.broadcast(jdx))
        .where((F.expr("-((-j * n_all) DIV " + str(n_bins) + ")")
                > F.col("cum") - F.col("cx"))
               & (F.expr("-((-j * n_all) DIV " + str(n_bins) + ")")
                  <= F.col("cum")))
        .select(F.col("x").alias("edge"))
    )
    xbin = (
        per_x.select("x").crossJoin(F.broadcast(edges))
        .groupBy("x")
        .agg(F.sum((F.col("x") >= F.col("edge")).cast("long"))
             .alias("bin"))
    )
    src_tot = sv.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_src"))
    src_bin = (
        sv.join(F.broadcast(xbin), "x")
        .groupBy("source", "bin")
        .agg(F.sum("c").cast("long").alias("n_sb"))
    )
    ref_bin = per_x.join(F.broadcast(xbin), "x").groupBy("bin").agg(
        F.sum("cx").cast("long").alias("n_rb"))
    grid = (
        src_tot.crossJoin(F.broadcast(
            ref_bin.select("bin", "n_rb")))
        .join(src_bin, ["source", "bin"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source", "bin", "n_src",
            F.coalesce("n_sb", F.lit(0)).alias("n_sb"), "n_rb", "n_all",
        )
    )
    p_s = ((F.col("n_sb") + 1).cast("double")
           / (F.col("n_src") + n_bins).cast("double"))
    p_r = ((F.col("n_rb") + 1).cast("double")
           / (F.col("n_all") + n_bins).cast("double"))
    term = fixed((p_s - p_r) * F.log(p_s / p_r), 6)
    psi = grid.select("source", "n_src", term.alias("t_e6")) \
        .groupBy("source", "n_src") \
        .agg(F.sum("t_e6").cast("long").alias("psi_e6"))
    return (
        psi.select(
            "source", F.col("n_src").alias("n_docs"), "psi_e6",
            F.when(F.col("psi_e6") > 250_000, F.lit("MAJOR"))
            .when(F.col("psi_e6") > 100_000, F.lit("MODERATE"))
            .otherwise(F.lit("STABLE")).alias("drift_flag"),
        )
    )
