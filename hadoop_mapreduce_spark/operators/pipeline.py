"""End-to-end training-data curation pipeline — the compound operator a
100 TB LLM-data run actually executes, composed from the families this
engine ships: quality filter → exact dedup → near-dup removal → corpus
accounting.

Stage order is the scale order: the cheap scan-speed quality filter runs
first so every later (shuffling) stage sees fewer rows; exact dedup (one
hash shuffle) runs before near-dup (candidate joins) for the same
reason. Deterministic keep-rules throughout: min doc_id survives an
exact-dup group; the lower id of a near-dup pair survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    doc_split,
    h60,
    is_bench,
)
from hadoop_mapreduce_spark.functions.quality import (
    punct_count,
    quality_pass,
    quality_score,
)
from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
from hadoop_mapreduce_spark.operators.dedup import dedup_ngram_jaccard
from hadoop_mapreduce_spark.operators.textstats import text_quality
from hadoop_mapreduce_spark.sources.tables import load_table


def pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-assembly pipeline as ONE declarative plan:
    quality gate → exact dedup → benchmark decontamination → domain
    mixture sampling → train/val/test split accounting. A user of the
    engine runs this instead of wiring five jobs with intermediate
    materialisations — Catalyst sees the whole chain, so each stage's
    filter feeds the next without a pass over storage in between.

    Stage order is scale order (cheap scan-speed gates first, shuffling
    stages over ever-smaller survivor sets). Hash-independence matters
    in the tail: the MIXTURE keep-decision uses a salted key
    md5('mix:' || doc_id) while the SPLIT (``doc_split``) buckets
    md5(doc_id) — on the same unsalted bucket, "bucket < rate"
    (mixture) would nest inside the low val/test buckets, silently
    exempting val/test from downsampling and starving train.

    Emits per-split doc/token accounting (3 rows) — the corpus ledger a
    training run records before the first batch.

    ONE token projection feeds every stage: the corpus is scanned and
    tokenised exactly once into a persisted (doc_id, source, tokens,
    sha256, char/punct counts) frame; the quality gate, the
    decontamination grams, and the final token ledger all read from it.
    The naive composition (call text_quality + re-tokenise for grams +
    re-tokenise for the ledger) scans and regex-tokenises the corpus
    three times — at 100 TB the tokenisation pass IS the dominant cost,
    so sharing it is the single biggest win in the pipeline.
    MEMORY_AND_DISK: the projection is ~tokens-sized, so on a real
    cluster it spills rather than evicts under memory pressure.
    """
    from pyspark import StorageLevel

    from hadoop_mapreduce_spark.functions.text import ngrams_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        tokenize(normalize_text(F.col("text"))).alias("t"),
        F.sha2("text", 256).alias("h"),
        F.length("text").alias("nc"),
        punct_count("text").alias("np"),
    )
    from hadoop_mapreduce_spark.session import scoped_persist
    base = scoped_persist(base, StorageLevel.MEMORY_AND_DISK)

    # 1. the quality gate (functions/quality.py), computed from the
    # shared token projection instead of a second corpus scan
    d0 = base.where(quality_pass(
        quality_score(F.col("t"), F.col("nc"), F.col("np"))))

    # 2. exact dedup: keep min doc_id per content hash
    keep_exact = (
        d0.groupBy("h").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    d1 = d0.join(keep_exact, "doc_id", "left_semi")

    # 3. decontamination (same rule as decontaminate_ngram): benchmark
    # docs leave the corpus, and any train doc sharing an n-gram with
    # the benchmark set is dropped; benchmark grams are broadcast.
    # Grams assemble from the persisted token arrays — no re-tokenise,
    # and the explode sits above a cached column so the O(len²)
    # CollapseProject trap (ngram.py) cannot re-materialise per position.
    grams = base.select(
        "doc_id",
        F.explode(F.array_distinct(
            ngrams_from_tokens(F.col("t"), 4))).alias("g"),
    )
    bench = is_bench("doc_id")
    bench_grams = grams.where(bench).select("g").distinct()
    hits = (
        grams.where(~bench)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id").distinct()
    )
    d2 = d1.where(~bench).join(hits, "doc_id", "left_anti")

    # 4. domain mixture (salted hash — independent of the split bucket)
    idx = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int")
    rate = (
        F.when(idx < 5, F.lit(100)).when(idx < 10, F.lit(50))
        .when(idx < 15, F.lit(25)).otherwise(F.lit(10))
    )
    mix_bucket = h60(F.col("doc_id").cast("string"), seed="mix") % 100
    d3 = d2.where(mix_bucket < rate)

    # 5. split + ledger
    return (
        d3.select(doc_split("doc_id").alias("split"),
                  F.size("t").alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts + token totals of the curated corpus.

    1. the quality gate (``functions/quality.py``) over text_quality;
    2. exact dedup: keep the min doc_id of each sha256(text) group;
    3. near-dup removal: among survivors, drop the greater id of every
       pair with shingle-Jaccard >= 0.8 (exact Jaccard —
       at 100 TB you swap in the MinHash-LSH candidates, same keep-rule);
    4. accounting: docs + whitespace tokens per source.
    """
    docs = load_table(spark, sf_dir, "documents")

    q_ok = (
        text_quality(spark, sf_dir)
        .where(quality_pass(F.col("quality")))
        .select("doc_id")
    )
    d0 = docs.join(q_ok, "doc_id", "left_semi")

    keep_exact = (
        d0.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = d0.join(keep_exact, "doc_id", "left_semi")

    # exact Jaccard pairs are computed corpus-wide (oracle-matched path),
    # then restricted to survivors; drop the greater id of each pair
    pairs = dedup_ngram_jaccard(spark, sf_dir, threshold=0.8)
    ids1 = d1.select("doc_id")
    live_pairs = (
        pairs.join(ids1.withColumnRenamed("doc_id", "id1"), "id1", "left_semi")
        .join(ids1.withColumnRenamed("doc_id", "id2"), "id2", "left_semi")
    )
    dropped = live_pairs.select(F.col("id2").alias("doc_id")).distinct()
    d2 = d1.join(dropped, "doc_id", "left_anti")

    toks = F.size(tokenize(normalize_text(F.col("text"))))
    return (
        d2.select("source", toks.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


def pipeline_pretrain_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 scale-path assembly: corpus-LM quality gate →
    sub-document span dedup (with text reconstruction) → Bloom-bitmap
    benchmark decontamination on the REBUILT text → per-source ledger.

    pipeline_pretrain composes the exact-path operators (broadcast gram
    set, whole-doc dedup); this twin composes their 100 TB siblings —
    the Bloom filter whose broadcast size is constant in benchmark
    count, span dedup that removes boilerplate inside surviving docs,
    and the unigram-LM score that replaces hand-set quality cutoffs
    with a corpus-adaptive one. Decontamination deliberately runs on
    the REBUILT text: span dedup changes a document's gram set, and
    probing the version that will actually be trained on is the
    correct-by-construction order.

    Stage plumbing (one Catalyst plan; shuffles in stage order):
    unigram LM = one vocab aggregate (broadcast) + one doc-keyed agg;
    span dedup = chunk-hash window + doc-keyed rebuild; decontamination
    = Bloom bitmap (broadcast map) + a probe projection; ledger = one
    per-source rollup. Benchmark docs (``is_bench``) feed
    the bitmap from their ORIGINAL text and are excluded from training.
    """
    from pyspark.sql import Window

    from hadoop_mapreduce_spark.functions.portable import (
        bloom_any,
        bloom_bitmap,
    )
    from hadoop_mapreduce_spark.functions.text import ngrams_from_tokens
    from hadoop_mapreduce_spark.operators.ngram import explode_ngram_set

    n = 4
    chunk_tokens = 8
    m_bits = 1 << 16
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        tokenize(normalize_text(F.col("text"))).alias("t"))
    bench = is_bench("doc_id")

    # ---- stage A: corpus-unigram LM quality gate over TRAIN docs ----
    tok = toks.where(~bench).select(
        "doc_id", "source", F.explode("t").alias("tk"))
    vocab = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    scored = (
        tok.join(F.broadcast(vocab), "tk")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log(F.col("c") / F.col("n_total"))).alias("score"))
    )
    cut = scored.agg((F.avg("score") - F.lit(0.05)).alias("cut"))
    kept_q = (
        scored.crossJoin(F.broadcast(cut))
        .where(F.col("score") >= F.col("cut"))
        .select("doc_id", "source")
    )

    # ---- stage B: span dedup + rebuild over quality survivors ----
    chunks = (
        toks.join(kept_q.select("doc_id"), "doc_id", "left_semi")
        .where(F.size("t") > 0)
        .select(
            "doc_id", "source",
            F.posexplode(F.expr(
                f"transform(sequence(1, size(t), {chunk_tokens}),"
                f" s -> concat_ws(' ', slice(t, s, {chunk_tokens})))"
            )).alias("chunk_idx", "chunk"))
        .select("doc_id", "source", "chunk_idx", "chunk",
                h60("chunk").alias("h"))
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    rebuilt = (
        chunks.withColumn("keep", F.row_number().over(w) == 1)
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(" ", F.transform(
                F.sort_array(F.collect_list(
                    F.when(F.col("keep"), F.struct("chunk_idx", "chunk")))),
                lambda s: s["chunk"],
            )).alias("rebuilt"),
        )
        .where(F.col("n_kept") > 0)
    )

    # ---- stage C: Bloom decontamination on the REBUILT text ----
    bm1 = bloom_bitmap(
        explode_ngram_set(docs.where(bench), "text", n), "ngram", m_bits)
    final = (
        rebuilt
        .select("doc_id", "source", "n_kept",
                F.split("rebuilt", " ").alias("rt"))
        .crossJoin(F.broadcast(bm1))
        .withColumn(
            "contaminated",
            bloom_any(F.array_distinct(ngrams_from_tokens(F.col("rt"), n)),
                      F.col("bm"), m_bits))
    )

    # ---- ledger ----
    n_in = toks.where(~bench).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_in"))
    n_q = kept_q.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    out = (
        final.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_dedup"),
            F.sum((~F.col("contaminated")).cast("long")).alias("n_clean"),
            F.sum(F.when(~F.col("contaminated"), F.size("rt"))
                  .otherwise(F.lit(0))).cast("long").alias("final_tokens"),
        )
    )
    return (
        n_in.join(n_q, "source", "left")
        .join(out, "source", "left")
        .select(
            "source",
            F.col("n_in").cast("long").alias("n_in"),
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("n_dedup", F.lit(0)).cast("long").alias("n_dedup"),
            F.coalesce("n_clean", F.lit(0)).cast("long").alias("n_clean"),
            F.coalesce("final_tokens", F.lit(0)).cast("long")
            .alias("final_tokens"),
        )
    )


def pipeline_target_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-conditioned selection pipeline as ONE declarative plan —
    the fine-tuning/domain-adaptation complement of pipeline_pretrain:

      1. FUZZY DECONTAMINATION: drop training docs that are verified
         near-dups (shingle Jaccard >= threshold) of the held-out target
         set (``is_bench``) — decontaminate_fuzzy's rule;
      2. NEAR-DUP DEDUP among survivors: star-CC clusters over verified
         LSH pairs, keep-longest representative (dedup_keep_best's rule);
      3. DSIR SELECTION: keep survivors whose hashed-feature unigram LM
         log-likelihood ratio favours the target (dsir's rule, raw model
         fit on the full training carve for oracle-stable composition).

    Emits the per-source ledger (docs in, dropped per stage, selected)
    a selection run records before training.

    Shared work (the composition's point): the corpus is tokenised ONCE
    into a persisted projection; shingle hashes derive from it and feed
    both the decontamination candidates (benchmark band keys BROADCAST —
    the train side never shuffles for stage 1) and the survivor LSH
    dedup; MinHash signatures are computed once for all docs and
    filtered per stage (a doc's signature doesn't change when its
    neighbours are dropped); the DSIR feature counts reuse the same
    token arrays. Each stage's verify/join runs over candidate-sized
    relations only — the corpus-sized data is touched by exactly one
    scan + one signature aggregation + one feature aggregation.
    """
    from pyspark import StorageLevel

    from hadoop_mapreduce_spark.operators.datamix import (
        dsir_log_weights_from_tokens,
    )
    from hadoop_mapreduce_spark.operators.dedup import (
        connected_components_star,
        exact_jaccard_for_pairs,
        hashed_shingle_rows_from_tokens,
        lsh_candidate_pairs,
        lsh_cross_candidates,
        minhash_signatures,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    threshold = 0.8
    docs = load_table(spark, sf_dir, "documents")
    base = scoped_persist(
        docs.select(
            "doc_id", "source",
            tokenize(normalize_text(F.col("text"))).alias("t"),
            F.col("n_chars"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    train = base.where(~is_bench("doc_id"))

    hs = scoped_persist(
        hashed_shingle_rows_from_tokens(
            base.select(F.col("doc_id").alias("id"), F.col("t").alias("__t"))))
    sigs = scoped_persist(minhash_signatures(hs))

    # --- stage 1: fuzzy decontamination (train x bench, bench broadcast)
    bench = is_bench("id")
    cands = lsh_cross_candidates(sigs.where(~bench), sigs.where(bench))
    contaminated = (
        exact_jaccard_for_pairs(hs, cands, threshold)
        .select(F.col("id1").alias("doc_id")).distinct()
    )
    surv1 = train.select("doc_id", "source", "n_chars") \
        .join(contaminated.withColumn("__c", F.lit(1)), "doc_id", "left")

    # --- stage 2: near-dup clusters among stage-1 survivors, keep-longest
    surv_ids = surv1.where(F.col("__c").isNull()).select("doc_id")
    pairs = lsh_candidate_pairs(
        sigs.join(surv_ids.withColumnRenamed("doc_id", "id"), "id", "left_semi"))
    verified = scoped_persist(
        exact_jaccard_for_pairs(hs, pairs, threshold).select("id1", "id2"))
    comp = connected_components_star(surv_ids, verified)
    keep = (
        comp.join(base.select("doc_id", "n_chars"), "doc_id")
        .groupBy("comp")
        .agg(
            F.max_by("doc_id",
                     F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("ni"))
                     ).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    dup_dropped = (
        comp.join(keep, "comp")
        .where((F.col("n_members") >= 2) & (F.col("doc_id") != F.col("keep_id")))
        .select("doc_id")
    )

    # --- stage 3: DSIR selection over remaining survivors
    lw = dsir_log_weights_from_tokens(
        base.select("doc_id", "source", "t")).select("doc_id", "lw")

    flags = (
        surv1
        .join(dup_dropped.withColumn("__d", F.lit(1)), "doc_id", "left")
        .join(lw, "doc_id", "left")
        .select(
            "source",
            F.col("__c").isNotNull().alias("is_contam"),
            (F.col("__c").isNull() & F.col("__d").isNotNull()).alias("is_dup"),
            (
                F.col("__c").isNull() & F.col("__d").isNull()
                & (F.coalesce(F.col("lw"), F.lit(-1.0)) > 0)
            ).alias("is_sel"),
        )
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.col("is_contam").cast("long")).alias("n_contaminated"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_dropped"),
            F.sum(F.col("is_sel").cast("long")).alias("n_selected"),
        )
    )


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the one-row-per-source datasheet a
    curation run publishes alongside the corpus (doc/token volumes,
    language spread, type-token ratio, dominant language) — the
    "Datasheets for Datasets" accounting table, computed from the data
    rather than hand-written.

    Plan: one tokenize scan feeds three per-source aggregates — volume
    stats straight off the doc grain, distinct-term counts via a
    (source, term) pre-aggregation (map-side collapse of within-source
    repeats, never countDistinct over raw occurrence rows), and the
    dominant language via a (source, lang) count + rank-1 window with a
    deterministic (count desc, lang asc) tie-break. All three relations
    are |sources| rows, so the final joins are broadcasts; output is
    |sources| rows regardless of corpus size. Ratios are exact integer
    micro-units (floor div), the repo's cross-engine convention.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "lang",
        tokenize(normalize_text(F.col("text"))).alias("__toks"))
    sized = base.select(
        "source", "lang", F.size("__toks").cast("long").alias("n_tok"),
        F.col("__toks").alias("toks"))

    vol = sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tok").alias("total_tokens"),
        F.max("n_tok").alias("max_doc_tokens"),
    )
    terms = (
        sized.select("source", F.explode("toks").alias("term"))
        .groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source").agg(F.count(F.lit(1)).alias("distinct_terms"))
    )
    from pyspark.sql import Window
    top_lang = (
        sized.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("lc"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source")
                .orderBy(F.desc("lc"), F.asc("lang"))))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"),
                F.col("lc").alias("top_lang_docs"))
    )
    return (
        vol.join(F.broadcast(terms), "source")
        .join(F.broadcast(top_lang), "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.expr("total_tokens * 1000000 div n_docs")
            .alias("mean_tokens_e6"),
            F.col("max_doc_tokens").cast("long").alias("max_doc_tokens"),
            F.col("distinct_terms").cast("long").alias("distinct_terms"),
            F.expr("CASE WHEN total_tokens > 0 THEN"
                   " distinct_terms * 1000000 div total_tokens"
                   " ELSE 0 END").alias("ttr_e6"),
            "top_lang",
            F.col("top_lang_docs").cast("long").alias("top_lang_docs"),
        )
    )
