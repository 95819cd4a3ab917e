"""Training-data curation operators beyond dedup (SURVEY.md §2.EXT,
north-star "large-scale training-data pipeline" surface): document
chunking, PII/markup scrubbing, deterministic dataset splits, and
sequence packing.

Scale conventions:

  * chunking / scrubbing are pure per-row JVM expressions (no shuffle,
    no UDF) — they pipeline inside whole-stage codegen with the scan;
  * the dataset split is a deterministic md5-derived hash of the key
    (engine-portable, seed-stable) — at any scale it is one projection,
    and any executor can re-derive a row's split without coordination;
  * sequence packing shuffles once on the pack key; the first-fit loop
    runs per-partition via applyInPandas over bounded groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    doc_split, fixed, h60, half_up)
from hadoop_mapreduce_spark.functions.text import raw_token_count
from hadoop_mapreduce_spark.functions.timeutil import wall_epoch_us
from hadoop_mapreduce_spark.sources.tables import load_table


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into 32-token windows overlapping by 8 tokens
    — the standard pre-training / RAG chunker, fully JVM-side.

    tokenize → sequence(1, n, stride) start positions → transform to
    slice(toks, start, chunk) → posexplode. No shuffle: chunk assembly
    is a per-row expression chain; the only exchange is the final
    deterministic orderBy (dropped in production — chunks stay with
    their parent document's partition).
    """
    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize

    chunk_tokens, overlap = 32, 8
    stride = chunk_tokens - overlap
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(normalize_text(F.col("text"))).alias("t")
    ).where(F.size("t") > 0)
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {overlap}, 1), {stride}),"
                f" s -> concat_ws(' ', slice(t, s, {chunk_tokens})))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.size(F.split("chunk", " ")).cast("long").alias("chunk_len"),
    )


def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / markup scrubbing pass: mask email-like and URL-like spans,
    collapse whitespace runs — a chain of regexp_replace expressions
    that fuses into one codegen stage with the scan (zero shuffle,
    zero UDF). Reports per-document replacement counts so the scrub is
    auditable."""
    docs = load_table(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = r"https?://[^\s]+"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), url, "<URL>"
    )
    clean = F.trim(F.regexp_replace(scrubbed, r"\s+", " "))
    n_email = F.size(F.regexp_extract_all("text", F.lit(email), 0)).cast("long")
    n_url = F.size(F.regexp_extract_all("text", F.lit(url), 0)).cast("long")
    return docs.select(
        "doc_id",
        F.length(clean).cast("long").alias("clean_len"),
        n_email.alias("n_emails_masked"),
        n_url.alias("n_urls_masked"),
        F.substring(clean, 1, 80).alias("clean_prefix"),
    )


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10/10/80 val/test/train split of md5(doc_id) mod
    100 (``doc_split``).

    Engine-portable and seed-stable — any process (Spark executor,
    downstream loader, the DuckDB oracle) re-derives a document's split
    from its key alone; adding data never reshuffles existing
    assignments. Returns per-split document and token counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    split = doc_split("doc_id")
    toks = raw_token_count("text")
    return (
        docs.select(split.alias("split"), toks.alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


_PACK_SCHEMA = (
    "source string, pack_id long, n_docs long, pack_tokens long"
)


def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: bin documents into <= 512-token context
    windows, first-fit in deterministic doc_id order within each
    (source, hash-bucket) group.

    The pack key is source x (md5 doc_id bucket mod n_buckets), NOT
    source alone: one hot source would otherwise become a single
    unbounded pandas group (the first-fit scan is inherently sequential
    per group, so a group must fit a worker). Bucketing bounds every
    group to ~1/n_buckets of its source and adds parallelism; packing
    quality is unaffected because packs never span buckets. Pack ids are
    bucket-strided (local * n_buckets + bucket) so they stay unique per
    source without a renumbering shuffle. At 100 TB, raise n_buckets so
    source_size / n_buckets fits an Arrow group (~1e6 docs).

    Hash-paired since r7 (previously registered rows-only as
    "procedural, not SQL-expressible"): first-fit IS expressible — a
    recursive CTE steps every (source, bucket) group in lockstep, one
    document per iteration in doc_id order, carrying the open bins'
    remaining capacities as a list and picking the first index that
    fits; iterations = the LARGEST group's size, so the bucketing that
    bounds the Arrow groups also bounds the oracle's recursion depth.
    The bucket hash switched from JVM-only xxhash64 to the repo's md5
    convention to make the grouping engine-portable. Invariant tests
    (every pack <= 512 tokens, each doc assigned once, deterministic
    output) remain in tests/test_curation.py.
    """
    import pandas as pd

    max_tokens, n_buckets = 512, 8
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        (h60(F.col("doc_id").cast("string")) % n_buckets).cast("int")
        .alias("bucket"),
        F.least(
            raw_token_count("text"),
            F.lit(max_tokens),
        ).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bucket = int(pdf["bucket"].iloc[0])
        bins: list[tuple[int, int]] = []  # (remaining, n_docs)
        assign: list[int] = []
        for t in pdf["n_tokens"]:
            placed = None
            for i, (rem, nd) in enumerate(bins):
                if t <= rem:
                    placed = i
                    bins[i] = (rem - t, nd + 1)
                    break
            if placed is None:
                bins.append((max_tokens - int(t), 1))
                placed = len(bins) - 1
            assign.append(placed * n_buckets + bucket)
        pdf = pdf.assign(pack_id=assign)
        out = (
            pdf.groupby("pack_id", as_index=False)
            .agg(n_docs=("doc_id", "size"), pack_tokens=("n_tokens", "sum"))
        )
        out.insert(0, "source", pdf["source"].iloc[0])
        return out[["source", "pack_id", "n_docs", "pack_tokens"]]

    return (
        sized.groupBy("source", "bucket")
        .applyInPandas(pack, schema=_PACK_SCHEMA)
    )


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite: one row per check with its
    violation count — the validation gate a training-data pipeline runs
    before accepting a batch.

    Each check is an independent aggregate/anti-join; Spark runs them as
    parallel stages and the union is row-count = number of checks, so
    the result is driver-safe at any scale. FK checks are left_anti
    joins on the natural keys (shuffle or broadcast per AQE's choice).
    """
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    checks = [
        check("orders_custkey_fk",
              orders.join(customer, orders.o_custkey == customer.c_custkey,
                          "left_anti")),
        check("lineitem_orderkey_fk",
              lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey,
                            "left_anti")),
        check("lineitem_qty_positive", lineitem.where(F.col("l_quantity") <= 0)),
        check("lineitem_discount_range",
              lineitem.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))),
        check("documents_text_nonempty",
              docs.where(F.col("text").isNull() | (F.length(F.trim("text")) == 0))),
        check("events_ts_not_null", events.where(F.col("ts").isNull())),
        check("orders_totalprice_positive", orders.where(F.col("o_totalprice") <= 0)),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn(
        "passed", (F.col("n_violations") == 0).cast("long")
    )


def split_leakage_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate-aware train/val/test splitting with a leakage
    audit — the step naive pipelines get wrong: hashing doc_id sends
    near-identical documents to DIFFERENT splits, so the eval set
    contains soft copies of training rows and benchmark numbers
    inflate. The guard assigns splits by near-dup CLUSTER (connected
    components over verified Jaccard >= 0.8 edges, cluster key =
    component id), so an entire dup family lands in one split by
    construction.

    Output is one audit row: document/cluster counts plus the number of
    near-dup pairs that straddle two splits under (a) the naive
    per-document hash and (b) the cluster-keyed hash. The operator's
    contract is grouped_leak_pairs == 0 — asserted in tests; the
    non-zero naive count on the same corpus is the evidence the guard
    matters.

    Scale: edges and components reuse the dedup pipeline (banded LSH at
    scale, exact inverted-index here for oracle parity); the split
    decision is one md5 projection on the component id; the audit joins
    the pair list (candidates only, tiny) against the assignment twice.
    Shuffles: the CC rounds + one doc_id-keyed join — nothing new moves
    the corpus.

    Reference behavior: splitting by cluster is the published recipe in
    e.g. The Pile / RefinedWeb dedup methodology; the md5 bucket matches
    curation.dataset_split's portable convention (same hash both
    engines).
    """
    from hadoop_mapreduce_spark.operators.dedup import (
        _drop_view,
        _temp_views,
        connected_components_star,
        dedup_minhash_lsh,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # edges from the banded-LSH verified candidates, like
    # dedup_components_star: every candidate is verified with EXACT
    # shingle Jaccard before thresholding, so the edge set equals the
    # exact all-pairs set w.h.p. (P[miss | j=0.8] ~ 8e-8 per pair) and
    # the recursive-CTE oracle still hash-matches; generation is
    # O(colliding pairs), not the inverted index's O(postings^2).
    # ADVICE r5 flagged the probabilistic-equivalence risk (a banding
    # miss on a new fixture would flip component ids and fail the hash
    # spuriously). Decision: KEEP the LSH edge source for the
    # hash-checked entry — the equivalence is pinned by
    # tests/test_dedup.py::test_minhash_lsh_equals_exact_jaccard on the
    # same fixtures the driver compares on, so a fixture/banding change
    # that breaks it fails the suite first, with a readable diff,
    # before it can look like a spurious driver mismatch. (Switching
    # the registered query to exact all-pairs edges would make its cost
    # the O(postings²) shape this operator exists to avoid — the DuckDB
    # twin of which DNF'd at 8× and took 137 s at 4×.) The hot-bucket
    # cap (r6) cannot drop fixture edges either: the cap only engages
    # past 2048-member buckets, asserted adversarially in the same file.
    from hadoop_mapreduce_spark.session import scoped_persist

    # the pairs arrive persisted: the CC rounds AND the audit read them
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id1", "id2")
    # star CC: O(log n) rounds; component id = min reachable doc_id
    comp = connected_components_star(docs, pairs)  # (doc_id, comp)
    naive = h60(F.col("doc_id").cast("string")) % 10
    grouped = h60(F.col("comp").cast("string")) % 10

    # Persisted: the audit references the assignment THREE times (both
    # endpoints of every pair + the doc-level counts agg) and comp's
    # backing join would otherwise re-execute per reference — at scale
    # that is three passes over the corpus-sized assignment, for a
    # cache of one (doc_id, 2 splits, comp) row per doc.
    assigned = scoped_persist(comp.select(
        "doc_id",
        F.when(naive < 8, "train").when(naive < 9, "val")
        .otherwise("test").alias("naive_split"),
        F.when(grouped < 8, "train").when(grouped < 9, "val")
        .otherwise("test").alias("grouped_split"),
        "comp",
    ))
    # Audit tail as ONE spark.sql round trip and ONE aggregation (r9,
    # guide §1/§7.3): the former build was 7 intermediate DataFrames
    # (two projection sides, two joins, two single-row aggregates and a
    # crossJoin), each analysed eagerly on the driver, and the crossJoin
    # of the two 1-row aggregates cost its own broadcast build job. The
    # union-tagged aggregation computes the doc-level counts and the
    # pair-level leak counts in one pass: pair rows are tagged kind=0,
    # assignment rows kind=1, and every output is a conditional
    # aggregate. Values are identical — the leak sums coalesce to 0 on
    # an empty pair set exactly as before (sum over an empty branch is
    # NULL), and countDistinct over the kind=1 branch sees the same comp
    # multiset the doc-level aggregate saw. Cost shape at 100 TB is
    # unchanged: the old counts aggregate already paid countDistinct's
    # Expand over the corpus-sized assignment; the union only adds the
    # tiny pair rows to that stream.
    n = next(_temp_views)
    va, vp = f"__slg_assigned_{n}", f"__slg_pairs_{n}"
    assigned.createOrReplaceTempView(va)
    pairs.createOrReplaceTempView(vp)
    out = spark.sql(f"""
        WITH aud AS (
          SELECT a1.naive_split AS n1, a1.grouped_split AS g1,
                 a2.naive_split AS n2, a2.grouped_split AS g2
          FROM {vp} p
          JOIN {va} a1 ON p.id1 = a1.doc_id
          JOIN {va} a2 ON p.id2 = a2.doc_id
        ),
        u AS (
          SELECT 1 AS kind, comp, grouped_split,
                 CAST(NULL AS STRING) AS n1, CAST(NULL AS STRING) AS n2,
                 CAST(NULL AS STRING) AS g1, CAST(NULL AS STRING) AS g2
          FROM {va}
          UNION ALL
          SELECT 0 AS kind, CAST(NULL AS BIGINT) AS comp,
                 CAST(NULL AS STRING) AS grouped_split, n1, n2, g1, g2
          FROM aud
        )
        SELECT
          count(IF(kind = 1, 1, NULL)) AS n_docs,
          count(DISTINCT CASE WHEN kind = 1 THEN comp END) AS n_clusters,
          sum(IF(kind = 1 AND grouped_split = 'train', 1L, 0L))
            AS n_train_grouped,
          coalesce(sum(CASE WHEN kind = 0 THEN CAST(n1 <> n2 AS LONG) END),
                   0L) AS naive_leak_pairs,
          coalesce(sum(CASE WHEN kind = 0 THEN CAST(g1 <> g2 AS LONG) END),
                   0L) AS grouped_leak_pairs
        FROM u
    """)
    # spark.sql analysed the plan eagerly, so the views can go before
    # the action; under Spark Connect (lazy analysis) they could not.
    _drop_view(spark, va)
    _drop_view(spark, vp)
    return out


def memorization_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization / leakage audit over the dataset_split assignment:
    for every VAL document, what fraction of its distinct token
    n-grams also appears somewhere in the TRAIN split? Low novelty
    means the eval set rehearses training text and its loss will read
    optimistically — the published eval-hygiene check (e.g. the GPT-3
    appendix-C overlap study), run as one relational plan.

    Split assignment is dataset_split's ``doc_split``, so the audit
    describes exactly the split the pipeline would ship. Documents
    shorter than 5 tokens have no 5-grams and no row — they cannot
    memorize anything.

    Scale shape: grams are distinct'd per doc BELOW the join (map-side
    partial agg on (doc, gram)); the train-side gram set collapses to
    DISTINCT grams (vocabulary-bounded, not corpus-bounded) and the
    val-side probe is a gram-keyed LEFT SEMI-shaped join counted per
    doc — one shuffle each side on the gram key, partial-agg'd; no
    broadcast assumption (train grams at 100 TB are NOT small, unlike
    decontaminate_ngram's benchmark set). Output is val-doc-sized.
    """
    from hadoop_mapreduce_spark.operators.ngram import explode_ngram_set

    docs = load_table(spark, sf_dir, "documents")
    grams = explode_ngram_set(docs.withColumn("split", doc_split("doc_id")),
                              "text", 5, ["doc_id", "split"])
    train_grams = (grams.where(F.col("split") == "train")
                   .select("ngram").distinct())
    val_grams = grams.where(F.col("split") == "val").select("doc_id", "ngram")
    seen = (
        val_grams.join(train_grams.withColumn("__hit", F.lit(1)), "ngram",
                       "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_seen"),
        )
    )
    return (
        seen.select(
            "doc_id", F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_seen").cast("long").alias("n_seen"),
            # exact-int division → the double is bit-identical on both
            # engines; no rounding needed (unlike FP-sum-fed scores)
            (F.lit(1.0) - F.col("n_seen") / F.col("n_grams")).alias("novelty"),
        )
    )


def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-efficiency audit: padding waste of fixed-size batches
    under two batching orders — the portable md5 shuffle order
    (global_shuffle_order's convention) vs length-sorted order. Every
    batch pads to its longest member, so waste = sum over batches of
    (batch_max × batch_rows − batch_tokens); length-sorted batching is
    the standard fix and this audit quantifies the win on YOUR corpus
    (the gap funds the seq_packing operator upstream).

    Scale shape: one token-count projection at scan speed, then per
    strategy one global row_number ordering. The global window is the
    honest cost of defining "batch i" corpus-wide; at 100 TB you'd
    range-partition on the same key (Spark's sort does exactly this
    under the hood) — rows cross the wire once per strategy, and the
    final rollup moves one row per batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = raw_token_count("text")
    base = docs.select(
        "doc_id", toks.alias("n"),
        F.md5(F.col("doc_id").cast("string")).alias("shuf"))

    def waste(order_cols, strategy):
        w = Window.orderBy(*order_cols)
        batched = base.withColumn(
            "b", F.floor((F.row_number().over(w) - 1) / 32)
            .cast("long"))
        per_batch = batched.groupBy("b").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n").alias("tok"), F.max("n").alias("mx"))
        return per_batch.agg(
            F.lit(strategy).alias("strategy"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("tok").cast("long").alias("total_tokens"),
            F.sum(F.col("mx") * F.col("rows") - F.col("tok"))
            .cast("long").alias("padding_tokens"),
        )

    out = waste([F.asc("shuf"), F.asc("doc_id")], "shuffled").unionAll(
        waste([F.asc("n"), F.asc("doc_id")], "length_sorted"))
    return out.select(
        "strategy", "n_batches", "total_tokens", "padding_tokens",
        # exact-int division → bit-stable double on both engines
        (F.col("padding_tokens") /
         (F.col("padding_tokens") + F.col("total_tokens")))
        .alias("waste_frac"),
    )


def inbatch_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hygiene: with batches formed in the
    portable md5 shuffle order, how many in-batch pairs share a source
    (false negatives for in-batch-negative losses)? Emits, per source,
    the number of same-source in-batch pairs (sum over batches of
    C(n,2)) and the total doc count — sources with heavy collision
    mass need stratified batch assignment.

    Scale shape: one global row_number (same honest cost as
    padding_waste_audit), one (batch, source) count with map-side
    partial agg, then a source rollup of batch-count rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.asc(F.md5(F.col("doc_id").cast("string"))),
                       F.asc("doc_id"))
    batched = docs.select(
        "doc_id", "source",
        F.floor((F.row_number().over(w) - 1) / 32)
        .cast("long").alias("b"))
    per = batched.groupBy("b", "source").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("source").agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long").alias("same_source_pairs"),
        )
    )


def context_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity planning for context budgets: for each candidate
    window size, how many documents truncate and what fraction of the
    corpus's tokens survive? The table that decides between "train at
    2k" and "chunk first" — run before doc_chunking/seq_packing pick
    their parameters.

    Scale shape: ONE corpus scan computes per-doc token counts; the
    per-budget expansion explodes 3 rows per doc (a constant),
    and the rollup partial-aggs to 3 rows. All ratios are
    exact-int divisions (bit-stable doubles on both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = raw_token_count("text")
    per = docs.select(toks.alias("n")).select(
        "n", F.explode(F.array(*[F.lit(b) for b in (128, 512, 2048)])).alias("budget"))
    return (
        per.groupBy("budget").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n") > F.col("budget")).cast("long"))
            .alias("n_truncated"),
            F.sum("n").alias("tokens_total"),
            F.sum(F.least("n", "budget")).alias("tokens_kept"),
        )
        .select(F.col("budget").cast("long").alias("budget"),
                "n_docs", "n_truncated",
                F.col("tokens_total").cast("long").alias("tokens_total"),
                F.col("tokens_kept").cast("long").alias("tokens_kept"),
                (F.col("tokens_kept") / F.col("tokens_total"))
                .alias("kept_frac"))
    )


def logreg_train_hashed(labeled: DataFrame, dim: int = 64,
                        n_iter: int = 15, lr: float = 1.0,
                        reg: float = 1e-4,
                        distributed_weights: bool | None = None) -> DataFrame:
    """Distributed trainer core: full-batch logistic regression on
    hashed-tf token features over any (doc_id, text, y) relation.
    quality_classifier_train is the registered fixture wrapper; tests
    also drive this core on a vocabulary-separable synthetic corpus
    where it must reach >= 0.95 accuracy (the driver fixture's
    vocabulary is deliberately shared across labels/langs/sources, so
    NO linear model can beat the prior there — content-label
    independence is a property of that corpus, not of the trainer).
    See quality_classifier_train for the full design rationale.

    The bias unit is a literal (doc, b=-1, x=1.0) CELL unioned into the
    feature table (r7), not a special-cased crossJoin: the margin sum,
    the gradient aggregation and the weight update then treat the bias
    like any feature (the L2 term still skips b=-1), which removes two
    joins and a union from every round on both weight paths.

    Weight placement (VERDICT r6 item 7): ``distributed_weights``
    selects the parameter topology; None = auto (dim > 1024).

      * driver path (dim <= 1024): weights collect to the driver and
        re-root as a fresh local DataFrame per round — the
        parameter-server pattern; O(dim) driver traffic per round, and
        the fresh root sidesteps the measured broadcast-rebroadcast
        degradation (see quality_classifier_train).
      * distributed path (dim > 1024): weights never leave the
        cluster — the update is a weights ⟕ gradients join,
        localCheckpoint'ed per round to truncate lineage. Checkpointed
        frames carry no stats (sizeInBytes = huge), so the planner
        keeps the weight join SHUFFLE-shaped rather than re-broadcast —
        exactly the chain shape (shuffle-joined, like star-CC) that the
        r6 measurements showed does NOT degrade per round, at any dim.
    """
    spark = labeled.sparkSession
    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
    from hadoop_mapreduce_spark.session import scoped_persist

    if distributed_weights is None:
        distributed_weights = dim > 1024

    base = labeled.select(
        "doc_id", F.col("y").cast("double").alias("y"),
        tokenize(normalize_text(F.col("text"))).alias("__t")) \
        .where(F.size("__t") > 0)
    tok_counts = scoped_persist(
        base.select("doc_id", "y", F.explode("__t").alias("tk"))
        .groupBy("doc_id", "y", "tk").agg(F.count(F.lit(1)).alias("c")))
    ydocs = scoped_persist(
        tok_counts.groupBy("doc_id").agg(
            F.first("y").alias("y"), F.sum("c").alias("n")))
    feat_cells = (
        tok_counts
        .select(
            "doc_id", "c",
            (h60("tk") % dim).alias("b"))
        .groupBy("doc_id", "b").agg(F.sum("c").alias("cb"))
        .join(ydocs.select("doc_id", "n"), "doc_id")
        .select("doc_id", "b", (F.col("cb") / F.col("n")).alias("x")))
    # bias unit: one (doc, b=-1, x=1) cell per document
    cells = scoped_persist(feat_cells.unionByName(
        ydocs.select("doc_id", F.lit(-1).cast("long").alias("b"),
                     F.lit(1.0).alias("x"))))
    ydocs = ydocs.select("doc_id", "y")

    w = spark.createDataFrame(
        [(b, 0.0) for b in range(dim)] + [(-1, 0.0)], "b long, w double")

    n_docs = ydocs.count()  # scalar driver value: sizes the GD step
    for _ in range(n_iter):
        wj = w if distributed_weights else F.broadcast(w)
        margins = (
            cells.join(wj, "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("m"))
        )
        resid = (
            ydocs.join(margins, "doc_id")
            .select(
                "doc_id",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))
                 - F.col("y")).alias("r"))
        )
        grads = (
            cells.join(resid, "doc_id")
            .groupBy("b")
            .agg((F.sum(F.col("x") * F.col("r")) / n_docs).alias("g"))
        )
        new_w = (
            w.join(grads, "b", "left")
            .select(
                "b",
                (F.col("w") - lr * (
                    F.coalesce("g", F.lit(0.0))
                    + F.when(F.col("b") >= 0, reg * F.col("w"))
                    .otherwise(0.0))).alias("w"))
        )
        if distributed_weights:
            w = new_w.localCheckpoint()
        else:
            w = spark.createDataFrame(
                new_w.collect(), "b long, w double")

    # final audit pass: loss + accuracy under the trained weights
    wj = w if distributed_weights else F.broadcast(w)
    margins = (
        cells.join(wj, "b")
        .groupBy("doc_id").agg(F.sum(F.col("x") * F.col("w")).alias("m"))
    )
    scored = ydocs.join(margins, "doc_id").select("y", "m")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m")))
    eps = 1e-12
    audit = scored.agg(
        F.avg(-(F.col("y") * F.log(p + eps)
                + (1 - F.col("y")) * F.log(1 - p + eps))).alias("loss"),
        F.avg(((p >= 0.5).cast("double") == F.col("y")).cast("double"))
        .alias("acc"),
        F.sum("y").cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        w.crossJoin(F.broadcast(audit))
        .select("b", F.round("w", 8).alias("weight"),
                F.round("loss", 8).alias("log_loss"),
                F.round("acc", 6).alias("train_acc"),
                "n_pos", F.col("n_docs").cast("long").alias("n_docs"))
    )


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the fastText-style quality classifier, distributed: logistic
    regression on hashed token features against weak heuristic labels —
    the standard "curated-vs-web" quality filter (GPT-3's WebText
    classifier, LLaMA's fastText gate) expressed as pure DataFrame
    algebra. Weak labels come from the same deterministic gates
    text_quality scores (all-three-gates-pass = positive), so the
    operator is self-contained and engine-deterministic end to end.

    Weak labels: Gopher-style repetition — y = 1 (keep) iff the doc's
    most frequent token carries <= 10% of its token mass (37.6% of the
    fixture corpus is negative at sf0.01, so the task is non-trivial);
    computed from the same token stream the features hash, one extra
    doc-keyed aggregation.

    Features: hashing trick (md5(token) mod dim — doc_hash_embedding's
    convention), tf-normalised (count / doc tokens), plus a bias unit.
    Training: full-batch gradient descent, fixed lr, L2 on non-bias
    weights, 8 rounds. Each round is TWO partial-agg'd shuffles,
    both bounded: (1) margins — the (doc, bucket) cell table joins the
    dim-row weight relation and folds per doc; (2) gradient — per-doc
    residuals join back to cells and fold per bucket (dim rows out).
    At this registered dim (64) the weight relation is collected to the
    driver and re-rooted as a fresh local DataFrame every round — the
    parameter-server pattern (model on driver, gradients distributed);
    past dim=1024 logreg_train_hashed switches to the r7 distributed
    path (weights-as-DataFrame shuffle-join update, localCheckpoint'ed
    per round — see its docstring; tools/classifier_scale.py measures
    the per-round cost flat at dim=16k). Re-rooting is ALSO the
    measured fixpoint-safety fix:
    chaining localCheckpoint'ed frames that are re-BROADCAST each round
    degraded ~5× per round past round 9 (0.5 s → 0.9 → 3.2 → 12 → 58 s
    with constant job count and constant plan size — JVM-side
    re-evaluation of the nested LogicalRDD chain), while the fresh
    local root holds a flat 0.3 s/round. Shuffle-JOINED checkpoint
    chains (star-CC) do not exhibit this; broadcast-rebroadcast chains
    do.

    Registered rows-only (iterative fixpoint); tests assert exact
    agreement with numpy running the identical schedule, monotone loss
    decrease, and — on a vocabulary-separable synthetic corpus driven
    through logreg_train_hashed — accuracy >= 0.95. On THIS fixture the
    honest expectation is the prior: the corpus uses one shared
    vocabulary for every label/lang/source (verified empirically — the
    per-lang top-token lists coincide), so hashed-tf features carry no
    linear signal about the repetition label and the optimum IS the
    majority class; the registered run still verifies the full
    distributed optimization (loss strictly decreases toward the
    regularized optimum, numpy-identical trajectory).
    Output: one row per feature bucket (plus bias row b = -1) with the
    trained weight, and constant audit columns (final log-loss,
    training accuracy, positive count, doc count).
    """
    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text",
        tokenize(normalize_text(F.col("text"))).alias("__t")) \
        .where(F.size("__t") > 0)
    counts = toks.select("doc_id", "text", F.explode("__t").alias("tk")) \
        .groupBy("doc_id", "text", "tk").agg(F.count(F.lit(1)).alias("c"))
    labeled = counts.groupBy("doc_id", "text").agg(
        (F.max("c") / F.sum("c") <= 0.1).cast("double").alias("y"))
    return logreg_train_hashed(labeled, dim=64, n_iter=8, lr=1.0, reg=1e-4)



def rrf_quality_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of quality signals: combine per-document
    length, lexical diversity, and bigram diversity rankings into one
    fused quality ordering — the standard ensemble trick (Cormack et
    al.'s RRF) for merging incomparably-calibrated quality scores
    without learning weights, used by curation stacks to pick "best of
    source" documents when individual filters disagree.

    Signals are EXACT integers so every rank is engine-portable:
      * n_chars (longer is better at fixture scale),
      * distinct-token ratio ×1e6 (floor division — lexical diversity),
      * distinct-bigram ratio ×1e6 (floor division — the Gopher
        repetition signal inverted).
    RRF score = Σ_s floor(1e12 / (rrf_k + rank_s)) — integer division
    keeps the fusion bit-identical across engines (no float sum).

    Ranking is PER SOURCE (partitioned window, one exchange on the
    source key): a global fused rank at 100 TB would use the same
    two-phase distributed rank as vocab_coverage_curve; per-source
    fusion is both the more useful curation unit (pick the best docs
    of each domain) and shuffle-safe — no single-partition window
    anywhere. Emits the top 5 fused winners per source.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize,
    )

    rrf_k = 60
    docs = load_table(spark, sf_dir, "documents")
    t = tokenize(normalize_text(F.col("text")))
    # one tokenize pass: materialise the token array in a narrow
    # projection first so the regex runs once per row
    stats = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        t.alias("__tk"),
    ).select(
        "doc_id", "source", "n_chars",
        F.size("__tk").cast("long").alias("n_tok"),
        F.expr(
            "CASE WHEN size(__tk) > 0 THEN"
            " (cast(size(array_distinct(__tk)) as bigint) * 1000000)"
            " div size(__tk) ELSE 0 END").alias("dtok_e6"),
        F.expr(
            "CASE WHEN size(__tk) > 1 THEN"
            " (cast(size(array_distinct(transform(sequence(1, size(__tk) - 1),"
            " i -> concat_ws(' ', __tk[i-1], __tk[i])))) as bigint) * 1000000)"
            " div (size(__tk) - 1) ELSE 0 END").alias("dbig_e6"),
    )
    ws = lambda c: Window.partitionBy("source").orderBy(
        F.desc(c), F.asc("doc_id"))
    ranked = stats.select(
        "doc_id", "source",
        F.row_number().over(ws("n_chars")).alias("r_len"),
        F.row_number().over(ws("dtok_e6")).alias("r_dtok"),
        F.row_number().over(ws("dbig_e6")).alias("r_dbig"),
    )
    # integer `div`, not float division: bit-exact fusion on any engine
    rrf = F.expr(
        f"1000000000000 div ({rrf_k} + r_len)"
        f" + 1000000000000 div ({rrf_k} + r_dtok)"
        f" + 1000000000000 div ({rrf_k} + r_dbig)")
    fused = ranked.withColumn("rrf_e12", rrf).withColumn(
        "fused_rank",
        F.row_number().over(Window.partitionBy("source")
                            .orderBy(F.desc("rrf_e12"), F.asc("doc_id"))))
    return (
        fused.where(F.col("fused_rank") <= 5)
        .select("source", F.col("fused_rank").cast("long").alias("fused_rank"),
                "doc_id",
                F.col("r_len").cast("long").alias("r_len"),
                F.col("r_dtok").cast("long").alias("r_dtok"),
                F.col("r_dbig").cast("long").alias("r_dbig"),
                "rrf_e12")
    )


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep: for a grid of cutoffs over the
    distinct-token-ratio quality signal, report per (threshold, source)
    how many documents and tokens survive — the table a curation
    engineer reads to SET the cutoff (choose the knee where token loss
    accelerates), rather than guessing it. The per-threshold retained
    fraction is an exact integer (×1e6 floor division), so the sweep is
    engine-portable.

    Plan: ONE corpus scan computes the per-doc signal; the grid is an
    8-element literal array exploded per doc (an 8× row multiplier that
    map-side partial aggregation collapses to |grid|·|sources| rows
    before the single exchange). No join, no second scan — at 100 TB
    the sweep costs the same one pass as computing the signal at all.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize,
    )

    grid = [300000, 350000, 400000, 450000, 500000, 550000, 600000, 700000]
    docs = load_table(spark, sf_dir, "documents")
    t = tokenize(normalize_text(F.col("text")))
    stats = docs.select(
        "source", t.alias("__tk"),
    ).select(
        "source",
        F.size("__tk").cast("long").alias("n_tok"),
        F.expr(
            "CASE WHEN size(__tk) > 0 THEN"
            " (cast(size(array_distinct(__tk)) as bigint) * 1000000)"
            " div size(__tk) ELSE 0 END").alias("dtok_e6"),
    )
    swept = stats.select(
        "source", "n_tok", "dtok_e6",
        F.explode(F.array(*[F.lit(g) for g in grid])).alias("threshold"),
    )
    agg = (
        swept.groupBy("threshold", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("dtok_e6") >= F.col("threshold"), 1)
                  .otherwise(0)).alias("n_docs_kept"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.when(F.col("dtok_e6") >= F.col("threshold"),
                         F.col("n_tok")).otherwise(F.lit(0)))
            .alias("n_tokens_kept"),
        )
        .select(
            F.col("threshold").cast("long").alias("threshold"),
            "source",
            F.col("n_docs_kept").cast("long").alias("n_docs_kept"),
            F.expr("n_docs_kept * 1000000 div n_docs").alias("doc_frac_e6"),
            F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
            F.expr("CASE WHEN n_tokens > 0 THEN"
                   " n_tokens_kept * 1000000 div n_tokens"
                   " ELSE 0 END").alias("token_frac_e6"),
        )
    )
    return agg


def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-redundancy audit: per source, the Pearson and Spearman
    correlation between document length (n_chars) and lexical
    diversity (distinct-token ratio) — the check a curation stack runs
    before ensembling filters ("is my quality classifier just a length
    detector?"). |r| near 1 means the second signal adds nothing and a
    fused filter (rrf_quality_fusion) double-counts one axis.

    Spearman here is the DETERMINISTIC-rank variant: ranks are
    row_numbers with doc_id tie-breaks (the repo's portable-rank
    convention), not midranks — identical on every engine, and within
    ~1/n of textbook midrank Spearman on real corpora where exact ties
    are rare. Both coefficients round at 6 dp: they are smooth
    functions of exact integer sums (the bigram_pmi cross-engine
    argument).

    Shape: one scan for the signals; one source-keyed exchange shared
    by both rank windows; the corr aggregates are per-source rollups.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        tokenize(normalize_text(F.col("text"))).alias("__tk"),
    ).select(
        "doc_id", "source", "n_chars",
        F.expr(
            "CASE WHEN size(__tk) > 0 THEN"
            " (cast(size(array_distinct(__tk)) as bigint) * 1000000)"
            " div size(__tk) ELSE 0 END").alias("dtok_e6"),
    )
    rk = lambda c: F.row_number().over(
        Window.partitionBy("source").orderBy(F.asc(c), F.asc("doc_id")))
    ranked = stats.select(
        "source", "n_chars", "dtok_e6",
        rk("n_chars").alias("r_len"), rk("dtok_e6").alias("r_dtok"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.corr(F.col("n_chars").cast("double"),
                           F.col("dtok_e6").cast("double")), 6)
            .alias("pearson"),
            F.round(F.corr(F.col("r_len").cast("double"),
                           F.col("r_dtok").cast("double")), 6)
            .alias("spearman"),
        )
        .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                "pearson", "spearman")
    )


# Deterministic blocklist for badwords_filter — a stand-in for the
# C4/RefinedWeb "bad words" list (the real list is a config input; the
# operator's mechanics are identical for any literal list).
BADWORDS: tuple[str, ...] = ("slow", "dup", "leak")


def badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering audit, C4-style: per source, how many
    documents contain any blocklisted term, how many exceed the
    blocked-token-fraction threshold (the actual drop rule — C4 drops
    on ANY hit, RefinedWeb on a fraction; the threshold form subsumes
    both), and the corpus-level blocked-token mass.

    The membership test is a literal-array `filter` inside whole-stage
    codegen — NO join: a blocklist is config-sized (thousands of
    terms), so shipping it as a literal (or a broadcast variable at the
    upper end) keeps this a pure scan-speed projection. The only
    shuffle is the final |sources|-row rollup. At 100 TB this runs at
    parquet-scan speed and is the cheapest gate in the curation ladder,
    which is why it goes first.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)

    bad = F.array(*[F.lit(w) for w in BADWORDS])
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", tokenize(normalize_text(F.col("text"))).alias("__toks"))
    per_doc = base.select(
        "source",
        F.size("__toks").cast("long").alias("n_tok"),
        F.size(F.filter(F.col("__toks"),
                        lambda t: F.array_contains(bad, t)))
        .cast("long").alias("n_bad"),
    ).select(
        "source", "n_tok", "n_bad",
        (F.col("n_bad") > 0).alias("hit"),
        F.when(F.col("n_tok") > 0,
               F.expr("n_bad * 1000000 div n_tok") > F.lit(30_000))
        .otherwise(F.lit(False)).alias("flagged"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("hit").cast("long")).alias("hit_docs"),
            F.sum(F.col("flagged").cast("long")).alias("flagged_docs"),
            F.sum("n_bad").alias("blocked_tokens"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("hit_docs").cast("long").alias("hit_docs"),
            F.col("flagged_docs").cast("long").alias("flagged_docs"),
            F.col("blocked_tokens").cast("long").alias("blocked_tokens"),
            F.expr("CASE WHEN total_tokens > 0 THEN"
                   " blocked_tokens * 1000000 div total_tokens"
                   " ELSE 0 END").alias("blocked_frac_e6"),
            F.expr("flagged_docs * 1000000 div n_docs")
            .alias("flagged_frac_e6"),
        )
    )


def packing_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention audit of the first-fit packing plan:
    per source, how much of the packed context windows' causal
    attention mass crosses a document boundary. Packing without
    attention masking lets tokens attend to unrelated neighbours; this
    is the number that says whether that leakage is 2% or 30% of pairs
    — the deciding input for "do we need block-diagonal masks" in a
    pretraining run. Also reports capacity waste (padding) per source.

    All-integer identities, no floats anywhere: a pack with doc lengths
    l_i, S = sum l_i has sum_{{i<j}} l_i*l_j = (S^2 - sum l_i^2) / 2
    cross-document ordered attention pairs (always an even difference),
    against S(S+1)/2 total causal pairs. The packing itself is the SAME
    deterministic first-fit as seq_packing (same bucketing bounds every
    pandas group, same stride rule), but emits the per-DOC assignment
    so the quadratic identities aggregate per pack then per source —
    output is |sources| rows.
    """
    import pandas as pd

    max_tokens = 512
    n_buckets = 8
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        (h60(F.col("doc_id").cast("string")) % n_buckets).cast("int")
        .alias("bucket"),
        F.least(
            raw_token_count("text"),
            F.lit(max_tokens),
        ).alias("n_tokens"),
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bucket = int(pdf["bucket"].iloc[0])
        bins: list[int] = []  # remaining capacity
        packs: list[int] = []
        for t in pdf["n_tokens"]:
            placed = None
            for i, rem in enumerate(bins):
                if t <= rem:
                    placed = i
                    bins[i] = rem - int(t)
                    break
            if placed is None:
                bins.append(max_tokens - int(t))
                placed = len(bins) - 1
            packs.append(placed * n_buckets + bucket)
        return pdf.assign(pack_id=packs)[
            ["source", "pack_id", "doc_id", "n_tokens"]]

    assigned = sized.groupBy("source", "bucket").applyInPandas(
        assign, schema="source string, pack_id long, doc_id long,"
                       " n_tokens long")
    per_pack = assigned.groupBy("source", "pack_id").agg(
        F.sum("n_tokens").alias("s"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("ssq"),
        F.count(F.lit(1)).alias("nd"),
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("nd").alias("n_docs"),
            F.sum("s").alias("packed_tokens"),
            F.sum(F.expr("(s * s - ssq) div 2")).alias("crossdoc_pairs"),
            F.sum(F.expr("s * (s + 1) div 2")).alias("total_pairs"),
        )
        .select(
            "source",
            F.col("n_packs").cast("long").alias("n_packs"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("packed_tokens").cast("long").alias("packed_tokens"),
            F.expr(f"(n_packs * {max_tokens} - packed_tokens) * 1000000"
                   f" div (n_packs * {max_tokens})").alias("waste_e6"),
            F.col("crossdoc_pairs").cast("long").alias("crossdoc_pairs"),
            F.col("total_pairs").cast("long").alias("total_pairs"),
            F.expr("crossdoc_pairs * 1000000 div total_pairs")
            .alias("crossdoc_frac_e6"),
        )
    )


def preference_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-assembly step):
    within each group (source stands in for the prompt group), pair the
    i-th best document with the i-th worst by quality score, up to k
    pairs, keeping only pairs with a strictly positive margin. This is
    how offline preference datasets are actually built from a scored
    pool — extreme-rank pairing maximises the expected margin signal
    per pair rather than sampling adjacent ranks.

    Score = distinct-token ratio in exact micro-units (the repo's
    lexical-diversity quality signal); ties broken by doc_id both ways
    so chosen and rejected ranks are total orders. One tokenize scan,
    two source-partitioned rank windows over the same scored relation,
    one (source, rank) self-join bounded at k rows per source. The
    margin > 0 filter drops degenerate pairs (uniform-quality groups)
    and the chosen != rejected guard handles odd pools where the
    midpoint doc would pair with itself.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)

    k = 3
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", "doc_id",
        tokenize(normalize_text(F.col("text"))).alias("__toks"),
    ).select(
        "source", "doc_id",
        F.when(F.size("__toks") > 0,
               F.expr("size(array_distinct(__toks)) * 1000000"
                      " div size(__toks)"))
        .otherwise(F.lit(0)).cast("long").alias("q_e6"),
    )
    best = scored.select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("q_e6").alias("chosen_q_e6"),
        F.row_number().over(
            Window.partitionBy("source")
            .orderBy(F.desc("q_e6"), F.asc("doc_id"))).alias("rk"),
    ).where(F.col("rk") <= k)
    worst = scored.select(
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("q_e6").alias("rejected_q_e6"),
        F.row_number().over(
            Window.partitionBy("source")
            .orderBy(F.asc("q_e6"), F.desc("doc_id"))).alias("rk"),
    ).where(F.col("rk") <= k)
    return (
        best.join(worst, ["source", "rk"])
        .where((F.col("chosen_id") != F.col("rejected_id"))
               & (F.col("chosen_q_e6") > F.col("rejected_q_e6")))
        .select(
            "source",
            F.col("rk").cast("long").alias("pair_rank"),
            "chosen_id", "rejected_id", "chosen_q_e6", "rejected_q_e6",
            (F.col("chosen_q_e6") - F.col("rejected_q_e6"))
            .alias("margin_e6"),
        )
    )


# Poisson(1) inverse-CDF thresholds scaled to 2^60, precomputed once so
# NO floating-point op happens at query time on either engine: count =
# #{thresholds <= u60} for a 60-bit md5-uniform u. Tail capped at 6
# (P[X > 6] ~ 6e-4 folds into the last bucket).
_POISSON_T = (424136118829305344, 848272237658610688,
              1060340297073263360, 1131029650211480960,
              1148701988496035328, 1152236456152946176)


def bootstrap_ci_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence intervals for each source's mean quality
    score — the uncertainty read that belongs next to every per-source
    quality number this engine reports: a source whose CI overlaps the
    corpus mean does NOT need special mixture treatment, however its
    point estimate looks. Classic resampling is RNG-bound and
    irreproducible across engines/retries; this is the POISSON
    bootstrap (each doc enters replica b with multiplicity ~Poisson(1),
    here derived from md5(b:doc_id) against precomputed integer CDF
    thresholds), the form used on MapReduce-scale data since Chamandy
    et al. (Google, 2012) precisely because it needs no global resample
    pass — and md5-derived multiplicities make it bit-reproducible.

    Exact integers end to end: per-replica weighted means are floor
    divisions, the CI bounds are ORDER STATISTICS of the 32 replica
    means (ranks ceil(0.05 n) / ceil(0.95 n), replica id tie-break),
    never interpolated percentiles. Explode factor = 32 replicates; at 100 TB
    run the same construction over per-partition sufficient statistics
    instead of doc rows (sum w, sum w*q commute with partial agg — the
    shape is already algebraic here).
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", "doc_id",
        tokenize(normalize_text(F.col("text"))).alias("__toks"),
    ).select(
        "source", "doc_id",
        F.when(F.size("__toks") > 0,
               F.expr("size(array_distinct(__toks)) * 1000000"
                      " div size(__toks)"))
        .otherwise(F.lit(0)).cast("long").alias("q_e6"),
    )
    point = scored.groupBy("source").agg(
        F.expr("sum(q_e6) div count(1)").alias("point_e6"))

    reps = scored.select(
        "source", "doc_id", "q_e6",
        F.explode(F.array(*[F.lit(b) for b in range(32)])).alias("b"),
    ).withColumn(
        "u",
        h60(F.concat_ws(":", F.col("b"), F.col("doc_id"))),
    ).withColumn(
        "w",
        sum((F.col("u") >= F.lit(t)).cast("long") for t in _POISSON_T),
    )
    means = (
        reps.groupBy("source", "b")
        .agg(F.sum("w").alias("sw"),
             F.sum(F.col("w") * F.col("q_e6")).alias("swq"))
        .where(F.col("sw") > 0)
        .select("source", "b", F.expr("swq div sw").alias("m"))
    )
    wsrc = Window.partitionBy("source")
    ranked = means.select(
        "source", "m",
        F.row_number().over(wsrc.orderBy(F.asc("m"), F.asc("b")))
        .alias("rn"),
        F.count(F.lit(1)).over(wsrc).alias("nb"),
    )
    ci = ranked.groupBy("source").agg(
        F.max("nb").cast("long").alias("n_replicas"),
        F.max(F.when(F.expr("rn = (nb * 5 + 99) div 100"), F.col("m")))
        .alias("boot_lo_e6"),
        F.max(F.when(F.expr("rn = (nb * 95 + 99) div 100"), F.col("m")))
        .alias("boot_hi_e6"),
    )
    return (
        point.join(ci, "source")
        .select(
            "source", "point_e6", "n_replicas", "boot_lo_e6",
            "boot_hi_e6",
            (F.col("boot_hi_e6") - F.col("boot_lo_e6"))
            .alias("ci_width_e6"),
        )
    )


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fraud / synthetic-data detector (natural multi-magnitude amounts
    follow P(d) = log10(1 + 1/d); fabricated or truncated feeds
    don't), extending the dq_checks family with a distributional test.

    Exact arithmetic everywhere it matters: amounts become exact cents
    via the DECIMAL(18,2) route (the repo's money convention), the
    leading digit is string-derived from that integer, counts and
    observed shares are BIGINT (share in exact micro-units by floor
    division). Only the Benford expectation and the chi-square
    contribution touch floats — transcendental (log10) per-digit
    constants where a 6-dp floor boundary hit is measure-zero (the
    fightin_words ln() precedent). One groupBy to ≤ 9 rows, the grand
    total a 1-row broadcast — flat at any order volume.
    """
    from hadoop_mapreduce_spark.session import scoped_persist

    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("long")
    # Persisted: the ≤9-row digit table feeds both the grand total and
    # the output — without it each branch re-scans orders.
    # Benford is a statement about MAGNITUDES: zero totals have no
    # leading significant digit (and 1/digit would divide by zero —
    # fuzz-found), negative totals contribute their absolute value.
    g = scoped_persist(
        orders.select(F.abs(cents).alias("ac"))
        .where(F.col("ac") > 0)
        .select(
            F.substring(F.col("ac").cast("string"), 1, 1).cast("long")
            .alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = g.groupBy().agg(F.sum("n").alias("total"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    exp_n = F.col("total").cast("double") * p
    # plain multiply, never pow(x, 2): pow's last ulp is
    # implementation-defined, x*x is an IEEE operation.
    dev = F.col("n").cast("double") - exp_n
    chi = (dev * dev) / exp_n
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "digit", "n",
            F.expr("n * 1000000 DIV total").alias("share_e6"),
            half_up(p, 6).alias("benford_share"),
            half_up(chi, 6).alias("chi2_contrib"),
        )
    )


def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement matrix of quality filters — the redundancy
    audit run before stacking heuristic filters into a pipeline: two
    signals with near-perfect Cohen's kappa are the same filter twice
    (wasted compute, double-counted rejections); near-zero kappa means
    they reject DIFFERENT documents and both earn their place.

    Four cheap single-scan signals over the shared token array:
      short          n_tokens < 20
      low_diversity  distinct/total token ratio < 1/2
      long_words     total chars > 8 x tokens (avg word length > 8)
      dup_bigrams    distinct/total bigram ratio < 3/4

    All contingency counts are exact BIGINT; kappa's observed/expected
    agreement is derived from those integers with ONE float division
    site per pair, 6-dp floored. Output = C(4,2) = 6 rows from one
    corpus scan + one tiny rollup: the flags travel as an integer bit
    vector, so the pairwise matrix needs no self-join — each pair's
    cells are conditional sums over the same |corpus|-row relation.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)

    docs = load_table(spark, sf_dir, "documents")
    t = tokenize(normalize_text(F.col("text")))
    base = docs.select(
        t.alias("t")
    ).select(
        F.size("t").alias("n"),
        F.size(F.array_distinct("t")).alias("nd"),
        F.aggregate(F.transform(F.col("t"),
                                lambda x: F.length(x).cast("long")),
                    F.lit(0).cast("long"), lambda a, x: a + x)
        .alias("chars"),
        F.expr("size(array_distinct(transform("
               "  slice(t, 1, greatest(size(t) - 1, 0)),"
               "  (x, i) -> concat(x, ' ', element_at(t, i + 2)))))")
        .alias("ndb"),
    ).select(
        (F.col("n") < 20).cast("int").alias("f_short"),
        ((F.col("nd") * 2) < F.col("n")).cast("int").alias("f_lowdiv"),
        (F.col("chars") > F.col("n") * 8).cast("int").alias("f_longw"),
        (F.when(F.col("n") > 1,
                (F.col("ndb") * 4) < (F.col("n") - 1) * 3)
         .otherwise(F.lit(False))).cast("int").alias("f_dupbi"),
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    sigs = ["f_short", "f_lowdiv", "f_longw", "f_dupbi"]
    agg = scoped_persist(base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[F.sum(s).cast("long").alias(s) for s in sigs],
        *[F.sum(F.col(a) * F.col(b)).cast("long").alias(f"both_{a}_{b}")
          for i, a in enumerate(sigs) for b in sigs[i + 1:]],
    ))  # persisted: the 6 pair selects below each read this 1-row agg
    rows = []
    for i, a in enumerate(sigs):
        for b in sigs[i + 1:]:
            both = F.col(f"both_{a}_{b}")
            na, nb, n = F.col(a), F.col(b), F.col("n_docs")
            neither = n - na - nb + both
            po = (both + neither).cast("double") / n.cast("double")
            pe = ((na * nb + (n - na) * (n - nb)).cast("double")
                  / (n * n).cast("double"))
            kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
            rows.append(agg.select(
                F.lit(a[2:]).alias("sig_a"), F.lit(b[2:]).alias("sig_b"),
                both.alias("n_both"),
                (na - both).alias("n_only_a"),
                (nb - both).alias("n_only_b"),
                neither.alias("n_neither"),
                half_up(kappa, 6).alias("kappa"),
            ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def auc_roc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC curve + AUC of the English-stopword-hit score as a
    detector of lang='en' — the threshold-free quality audit run before
    shipping any heuristic filter (does the signal actually rank the
    target class above the rest?).  Companion to
    `quality_filter_agreement` (which audits filter REDUNDANCY, not
    filter POWER) and `quality_threshold_sweep` (one filter, fixed
    operating points).

    All arithmetic is exact BIGINT.  The score (count of DISTINCT
    English stopwords present, `language_id`'s hit statistic) lives on
    the bounded domain 0..10, so the ROC grid is a <=11-row table: one
    data-sized groupBy(score) collapses the corpus, and every window /
    cumulative below runs on the bounded grid — no single-reducer
    hazard at any corpus size.  AUC is the Mann-Whitney U statistic
    with the standard half-credit tie correction computed in doubled
    units so it stays integral:

        u2 = sum_s 2*p_s*(negatives strictly below s) + p_s*n_s
        AUC = u2 / (2*P*N)   -> emitted as auc_e6 = u2*1e6 // (2*P*N)

    Per-threshold rows emit predict-positive-iff-score>=s confusion
    counts and micro-unit TPR/FPR (n * 1e6 // total, the repo's exact
    integer-ratio convention — see order_status_flow).
    """
    from hadoop_mapreduce_spark.operators.textstats import LANG_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )

    toks = tokenize(normalize_text(F.col("text")))
    score = F.size(
        F.array_intersect(toks, F.lit(list(LANG_STOPWORDS["en"]))))
    base = docs.select(
        score.cast("long").alias("s"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    grid = base.groupBy("s").agg(
        F.sum("pos").alias("p"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n"),
    )
    w_below = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    w_from = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    enriched = (
        grid.withColumn(
            "n_below", F.coalesce(F.sum("n").over(w_below), F.lit(0)))
        .withColumn("u2_part",
                    2 * F.col("p") * F.col("n_below")
                    + F.col("p") * F.col("n"))
        .withColumn("tp", F.sum("p").over(w_from))
        .withColumn("fp", F.sum("n").over(w_from))
    )
    tot = enriched.agg(
        F.sum("u2_part").alias("u2"),
        F.sum("p").alias("n_pos"),
        F.sum("n").alias("n_neg"),
    )
    return (
        enriched.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("n_pos") - F.col("tp")).cast("long").alias("fn"),
            (F.col("n_neg") - F.col("fp")).cast("long").alias("tn"),
            # single-class corpora: n_pos or n_neg = 0 -> the ratio is
            # undefined; emit NULL (DuckDB // 0 ERRORS, Spark DIV
            # returns NULL — make the guard explicit on both engines)
            F.expr("""CASE WHEN n_pos > 0
                      THEN tp * 1000000 DIV n_pos END""").alias("tpr_e6"),
            F.expr("""CASE WHEN n_neg > 0
                      THEN fp * 1000000 DIV n_neg END""").alias("fpr_e6"),
            F.col("u2").cast("long").alias("u2"),
            F.expr("""CASE WHEN n_pos > 0 AND n_neg > 0
                      THEN u2 * 1000000 DIV (2 * n_pos * n_neg)
                      END""").alias("auc_e6"),
        )
    )


def quality_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between document length and lexical diversity per
    source, computed EXACTLY from a bucketed joint contingency grid —
    the concordance-based third leg of the signal-redundancy triad
    (`quality_signal_correlation` gives Pearson + deterministic-rank
    Spearman; tau-b is the tie-robust one, and ties are everywhere once
    signals are bucketed for sketching).

    Grid trick: bucket both signals (n_chars DIV 50, distinct tokens
    DIV 5), then every pair statistic is a sum over CELL pairs:
       C = Σ n₁n₂ over (x₁<x₂ ∧ y₁<y₂),  D over (x₁<x₂ ∧ y₁>y₂),
       ties from the marginals — all exact BIGINT, no row-pair
    enumeration.  tau-b = (C−D)/sqrt((N₀−Tx)(N₀−Ty)) is ONE double
    division of exact integers, 6 dp.

    Scale: one corpus scan to the per-source grid (bounded by bucket
    domain² — a few hundred cells); the cell-pair join is grid²,
    metadata-sized at any corpus size.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "source", "n_chars",
        tokenize(normalize_text(F.col("text"))).alias("__t"))
    cells = scoped_persist(
        toked.select(
            "source",
            F.expr("n_chars DIV 50").alias("x"),
            F.expr("CAST(size(array_distinct(__t)) AS BIGINT) DIV 5")
            .alias("y"),
        )
        .groupBy("source", "x", "y")
        .agg(F.count(F.lit(1)).alias("n")))
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & ((F.col("a.x") < F.col("b.x"))
                  | ((F.col("a.x") == F.col("b.x"))
                     & (F.col("a.y") < F.col("b.y")))))
        .groupBy(F.col("a.source").alias("source"))
        .agg(
            F.sum(F.when((F.col("a.x") < F.col("b.x"))
                         & (F.col("a.y") < F.col("b.y")),
                         F.col("a.n") * F.col("b.n")).otherwise(0))
            .cast("long").alias("c"),
            F.sum(F.when((F.col("a.x") < F.col("b.x"))
                         & (F.col("a.y") > F.col("b.y")),
                         F.col("a.n") * F.col("b.n")).otherwise(0))
            .cast("long").alias("d"),
        )
    )
    tot = cells.groupBy("source").agg(
        F.sum("n").cast("long").alias("nn"))
    tx = (cells.groupBy("source", "x").agg(F.sum("n").alias("mx"))
          .groupBy("source")
          .agg(F.sum(F.expr("mx * (mx - 1) DIV 2"))
               .cast("long").alias("tx")))
    ty = (cells.groupBy("source", "y").agg(F.sum("n").alias("my"))
          .groupBy("source")
          .agg(F.sum(F.expr("my * (my - 1) DIV 2"))
               .cast("long").alias("ty")))
    n0 = F.expr("nn * (nn - 1) DIV 2")
    tau = ((F.col("c") - F.col("d")).cast("double")
           / F.sqrt((n0 - F.col("tx")).cast("double")
                    * (n0 - F.col("ty")).cast("double")))
    return (
        cd.join(tot, "source").join(tx, "source").join(ty, "source")
        .select(
            "source", "nn", "c", "d",
            n0.alias("n0"), "tx", "ty",
            F.when((n0 - F.col("tx") <= 0) | (n0 - F.col("ty") <= 0),
                   F.lit(None).cast("double"))
            .otherwise(half_up(tau, 6)).alias("tau_b"),
        )
    )


def quality_flag_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source odds ratio for each quality flag: is THIS source
    enriched for short / low-diversity / long-word docs relative to
    the rest of the corpus?  The effect-size view the flag-agreement
    kappa matrix (`quality_filter_agreement`) and the global flag rates
    can't give — an OR of 5 on a small source is invisible in corpus
    totals but decisive for mixture weighting.

    The 2×2 cells (flagged/clean × this-source/rest) are exact BIGINTs
    from one scan; OR = (a·d)/(b·c) with the Haldane-Anscombe +0.5
    continuity correction applied when ANY cell is zero (otherwise the
    raw ratio — both branches exact-integer products divided once in
    double, 6 dp, and the correction rule is part of the statistic's
    definition, mirrored in the oracle).

    Scale: one corpus scan to |sources|×|flags| cells; everything after
    is metadata-sized.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "source", tokenize(normalize_text(F.col("text"))).alias("__t"))
    base = toked.select(
        "source",
        F.size("__t").alias("n"),
        F.size(F.array_distinct("__t")).alias("nd"),
        F.expr("""coalesce(aggregate(transform(__t, x -> length(x)),
                  0L, (acc, x) -> acc + x), 0L)""").alias("chars"),
    )
    flags = base.select(
        "source",
        (F.col("n") < 20).cast("long").alias("f_short"),
        (F.col("nd") * 2 < F.col("n")).cast("long").alias("f_lowdiv"),
        (F.col("chars") > F.col("n") * 8).cast("long").alias("f_longw"),
    )
    # ONE tokenize scan for all three flags: per-source sums in a single
    # aggregation, corpus totals folded from the |sources|-row table (a
    # per-flag loop over `flags` re-ran the tokenize scan 6x — measured
    # 15.4 s at the 16x rung vs ~2.5 s single-scan).
    per = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(f).cast("long").alias(f) for f in
          ("f_short", "f_lowdiv", "f_longw")],
    )
    tot = per.agg(
        F.sum("n").alias("tn"),
        *[F.sum(f).alias(f"t{f}") for f in
          ("f_short", "f_lowdiv", "f_longw")],
    )
    withtot = per.crossJoin(F.broadcast(tot))
    rows = []
    for flag in ("f_short", "f_lowdiv", "f_longw"):
        rows.append(withtot.select(
            F.lit(flag[2:]).alias("flag"), "source",
            F.col(flag).alias("a"),
            (F.col("n") - F.col(flag)).alias("b"),
            (F.col(f"t{flag}") - F.col(flag)).alias("c"),
            ((F.col("tn") - F.col(f"t{flag}"))
             - (F.col("n") - F.col(flag))).alias("d"),
        ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    corrected = F.when(
        (F.col("a") == 0) | (F.col("b") == 0)
        | (F.col("c") == 0) | (F.col("d") == 0),
        ((F.col("a") + F.lit(0.5)) * (F.col("d") + F.lit(0.5)))
        / ((F.col("b") + F.lit(0.5)) * (F.col("c") + F.lit(0.5))),
    ).otherwise(
        (F.col("a") * F.col("d")).cast("double")
        / (F.col("b") * F.col("c")).cast("double"))
    return (
        out.select(
            "flag", "source",
            F.col("a").cast("long").alias("n_flagged"),
            F.col("b").cast("long").alias("n_clean"),
            F.col("c").cast("long").alias("rest_flagged"),
            F.col("d").cast("long").alias("rest_clean"),
            half_up(corrected, 6).alias("odds_ratio"),
        )
    )


def quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the English-stopword quality score
    as a detector of lang='en' — `auc_roc_langid`'s operational
    sibling: AUC says the signal ranks well IN AGGREGATE; the lift
    table says what the top 10% / 20% actually deliver, which is the
    number a curation budget decision reads.

    Deciles are assigned on the DETERMINISTIC total order
    (score DESC, doc_id) — the repo's portable-rank convention — via
    rank·10 DIV n, all integers; per-decile positives and the
    cumulative gains/lift are exact BIGINT micro-units.

    Scale shape: NO global window — the score domain is bounded
    (0..10), so the global rank decomposes into (count of strictly
    higher scores, from the bounded grid) + (row_number within this
    score, a PARTITIONED window) — the same bounded-domain trick as
    skyline_quality_frontier.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )
    from hadoop_mapreduce_spark.operators.textstats import LANG_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(normalize_text(F.col("text")))
    score = F.size(
        F.array_intersect(toks, F.lit(list(LANG_STOPWORDS["en"]))))
    base = docs.select(
        "doc_id", score.cast("long").alias("s"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    tot = base.agg(F.count(F.lit(1)).alias("n_total"),
                   F.sum("pos").alias("n_pos_total"))
    grid = base.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, -1)
    above = grid.select(
        "s", F.coalesce(F.sum("cnt").over(wg), F.lit(0)).alias("n_above"))
    wps = Window.partitionBy("s").orderBy("doc_id")
    ranked = (
        base.withColumn("rn", F.row_number().over(wps))
        .join(F.broadcast(above), "s")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("(n_above + rn - 1) * 10 DIV n_total").alias("decile"),
            "pos", "n_total", "n_pos_total",
        )
    )
    per = ranked.groupBy("decile", "n_total", "n_pos_total").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        per.withColumn("cum_pos", F.sum("n_pos").over(wc).cast("long"))
        .withColumn("cum_docs", F.sum("n_docs").over(wc).cast("long"))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_docs", "n_pos",
            F.expr("n_pos * 1000000 DIV n_docs").alias("precision_e6"),
            "cum_pos",
            F.expr("""CASE WHEN n_pos_total > 0
                      THEN cum_pos * 1000000 DIV n_pos_total
                      END""").alias("recall_e6"),
            # lift numerator is count^2 * 1e6 scaled — BIGINT overflows
            # past ~3e6 docs, so route through DECIMAL(38,0) (HUGEINT on
            # the oracle), the basket_part_pairs posture. The quotient
            # always fits BIGINT (lift <= n_total/n_pos_total <= n_total).
            F.expr("""CASE WHEN n_pos_total > 0
                      THEN CAST((CAST(cum_pos AS DECIMAL(38,0)) * n_total
                                 * 1000000)
                           DIV (CAST(cum_docs AS DECIMAL(38,0))
                                * n_pos_total) AS BIGINT)
                      END""").alias("lift_e6"),
        )
    )


def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    stopword-fraction quality score against the lang='en' label — the
    calibration read a filtering pipeline does before turning a
    classifier score into a keep/drop threshold (Guo et al. 2017,
    "On Calibration of Modern Neural Networks"): a score that ranks
    well (see `auc_roc_langid`) can still be mis-calibrated, and
    thresholding an uncalibrated score mis-sizes the kept corpus.

    Score = stopword OCCURRENCES * 1e6 DIV tokens (exact micro-units,
    the `quality_decile_lift` signal at occurrence granularity);
    empty-token docs are excluded on both engines. Equal-width bins on
    the score; per bin: count, positives, truncating-integer mean score
    and positive rate, |gap|; ECE = sum(n_b * gap_b) DIV n_total,
    attached from a 1-row broadcast like `embedding_anisotropy_audit`.

    Scale: one tokenize scan -> per-doc integers, one bounded
    groupBy(bin) rollup, one 1-row total. All-integer output.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )
    from hadoop_mapreduce_spark.operators.textstats import LANG_STOPWORDS

    n_bins = 10
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(normalize_text(F.col("text")))
    sw = F.lit(list(LANG_STOPWORDS["en"]))
    base = docs.select(
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .cast("long").alias("hits"),
        F.size(toks).cast("long").alias("n_tok"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    ).where(F.col("n_tok") > 0)
    scored = base.select(
        F.expr("hits * 1000000 DIV n_tok").alias("score_e6"), "pos")
    binned = scored.select(
        F.least(F.expr(f"score_e6 * {n_bins} DIV 1000000"),
                F.lit(n_bins - 1)).alias("bin"),
        "score_e6", "pos",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("CAST(sum(score_e6) DIV count(*) AS BIGINT)")
        .alias("mean_score_e6"),
        F.expr("CAST(sum(pos) * 1000000 DIV count(*) AS BIGINT)")
        .alias("pos_rate_e6"),
    ).withColumn(
        "gap_e6", F.abs(F.col("mean_score_e6") - F.col("pos_rate_e6")))
    tot = per.agg(
        F.expr("CAST(sum(n_docs * gap_e6) DIV sum(n_docs) AS BIGINT)")
        .alias("ece_e6"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(F.col("bin").cast("long").alias("bin"),
                "n_docs", "n_pos", "mean_score_e6", "pos_rate_e6",
                "gap_e6", "ece_e6")
    )


def experiment_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment assignment + sample-ratio-mismatch (SRM) audit:
    users hash into two arms with the portable md5 hash, conversion =
    any purchase event, and the output carries BOTH health checks an
    experimentation platform runs before reading any lift number —
    the SRM chi-square on arm sizes (Fabijan et al. 2019: a 50/50
    split that lands 51/49 with enough users means broken assignment,
    and every downstream metric is garbage) and the 2x2 conversion
    chi-square (is the observed lift distinguishable from noise).

    Exactness: assignment is h60(user_id) % 2; both
    chi-squares are exact-integer micro-units, the 2x2 statistic
    N*(ad-bc)^2 / (row and column margins) carried in DECIMAL(38,0)
    (HUGEINT on the oracle) because (ad-bc)^2 alone overflows int64.

    Scale: one groupBy(user_id) pass (partial-agg max over the
    purchase flag), one 2-row rollup, stats attached from a 1-row
    broadcast. Events never shuffle twice.
    """
    ev = load_table(spark, sf_dir, "events")
    h = h60(F.col("user_id").cast("string"))
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long"))
        .alias("conv"))
    arms = (
        per_user.select(F.pmod(h, F.lit(2)).alias("arm"), "conv")
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.sum("conv").cast("long").alias("n_conv"))
    )
    tot = arms.agg(
        F.sum("n_users").alias("n"),
        F.sum("n_conv").alias("conv"),
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("cb"),
    ).select(
        "na", "nb", "ca", "cb",
        F.expr("CAST((na - nb) * (na - nb) * 1000000 DIV (na + nb)"
               " AS BIGINT)").alias("srm_chi2_e6"),
        # 2x2 chi-square: a=ca, b=na-ca, c=cb, d=nb-cb; NULL when a
        # margin is empty (all users converted, or none did — the
        # statistic is undefined there, on both engines)
        F.expr("""CASE WHEN ca + cb > 0 AND (na + nb) - (ca + cb) > 0
                  THEN CAST(
            CAST(na + nb AS DECIMAL(38,0))
            * (CAST(ca AS DECIMAL(38,0)) * (nb - cb)
               - CAST(cb AS DECIMAL(38,0)) * (na - ca))
            * (CAST(ca AS DECIMAL(38,0)) * (nb - cb)
               - CAST(cb AS DECIMAL(38,0)) * (na - ca))
            * 1000000
            DIV (CAST(na AS DECIMAL(38,0)) * nb * (ca + cb)
                 * ((na + nb) - (ca + cb)))
            AS BIGINT) END""").alias("conv_chi2_e6"),
    )
    return (
        arms.crossJoin(F.broadcast(tot.select("srm_chi2_e6",
                                              "conv_chi2_e6")))
        .select(
            F.col("arm").cast("long").alias("arm"),
            "n_users", "n_conv",
            F.expr("n_conv * 1000000 DIV n_users").alias("conv_rate_e6"),
            "srm_chi2_e6", "conv_chi2_e6",
        )
    )


def kfold_strata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation fold-balance audit: assign every document to a
    fold via the portable md5 hash and verify, per (lang, source)
    stratum, that the folds received proportional shares — the hygiene
    check before trusting k-fold CV numbers (a stratum whose docs pile
    into one fold makes that fold's validation score a measurement of
    the stratum, not the model). Reports per stratum the fold min/max
    and the exact chi-square balance statistic against the uniform
    1/k expectation.

    Exactness: chi-square with E = n_s/k is sum_f (k*n_fs - n_s)^2 /
    (k*n_s) — cross-multiplied so every numerator is an exact integer;
    (k*n_fs)^2 passes BIGINT at stratum sizes ~ 2e9 so the squares ride
    DECIMAL(38,0) (HUGEINT in the oracle); one truncating micro-unit
    division per stratum. Empty folds are materialised via the
    stratum x fold grid (a stratum smaller than k MUST show zero
    folds — dropping them would understate the imbalance).

    Scale: one scan to the (lang, source, fold) counts; the grid and
    the rollup run on |strata| * k metadata-sized rows.
    """
    n_folds = 5
    docs = load_table(spark, sf_dir, "documents")
    h = h60(F.col("doc_id").cast("string"))
    counts = (
        docs.select("lang", "source",
                    F.pmod(h, F.lit(n_folds)).alias("fold"))
        .groupBy("lang", "source", "fold")
        .agg(F.count(F.lit(1)).alias("n_fs"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    counts = scoped_persist(counts)
    strata = counts.groupBy("lang", "source").agg(
        F.sum("n_fs").cast("long").alias("n_s"))
    grid = (
        strata.crossJoin(F.broadcast(
            spark.range(n_folds).select(F.col("id").alias("fold"))))
        .join(counts, ["lang", "source", "fold"], "left")
        .select("lang", "source", "n_s", "fold",
                F.coalesce("n_fs", F.lit(0)).cast("long").alias("n_fs"))
    )
    return (
        grid.groupBy("lang", "source")
        .agg(
            F.max("n_s").cast("long").alias("n_docs"),
            F.min("n_fs").cast("long").alias("min_fold_n"),
            F.max("n_fs").cast("long").alias("max_fold_n"),
            F.expr(
                f"CAST(sum(CAST({n_folds} * n_fs - n_s AS DECIMAL(38,0))"
                f"          * ({n_folds} * n_fs - n_s)) * 1000000"
                f" DIV (CAST({n_folds} AS DECIMAL(38,0)) * max(n_s))"
                " AS BIGINT)").alias("chisq_e6"),
        )
    )


def experiment_peeking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-monitoring ("peeking") audit of the md5-armed A/B
    experiment: the cumulative daily 2x2 conversion chi-square an
    impatient experimenter would read every morning, with the days
    flagged where the NAIVE fixed-horizon test crosses p<0.05 — the
    quantitative form of the peeking problem (Johari et al. 2017:
    repeated significance testing inflates false positives far above
    the nominal alpha, which is why platforms ship sequential
    boundaries instead of daily chi-squares). `experiment_srm_audit`
    reads the END state once; this operator reconstructs the whole
    daily readout an analyst would have seen, so the
    would-have-stopped-early days are auditable after the fact.

    Semantics: a user enters the denominator on the day of their FIRST
    event and converts on the day of their FIRST purchase (cumulative
    user-level conversion, the platform convention). The chi-square is
    the exact-integer 2x2 statistic of experiment_srm_audit
    (DECIMAL(38,0)/HUGEINT cross products, truncating e6 division),
    NULL while any margin is empty; significance compares against
    3841458 micro-units (the chi2_1 0.05 critical value 3.841459
    floor-truncated, embedded as the same literal on both engines).

    Scale: one groupBy(user_id) pass (min-day partial aggregates),
    then (arm, day) rollups and all cumulative windows on the
    2 x |days| calendar-bounded grid.
    """
    ev = load_table(spark, sf_dir, "events")
    day = (wall_epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    h = h60(F.col("user_id").cast("string"))
    per_user = (
        ev.select("user_id", day.alias("day"), "event_type")
        .groupBy("user_id")
        .agg(
            F.min("day").alias("entry_day"),
            F.min(F.when(F.col("event_type") == "purchase",
                         F.col("day"))).alias("conv_day"),
        )
        .select(F.pmod(h, F.lit(2)).alias("arm"), "entry_day", "conv_day")
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    per_user = scoped_persist(per_user)
    days = ev.select(day.alias("day")).distinct()
    arms = spark.range(0, 2).select(F.col("id").cast("long").alias("arm"))
    entries = per_user.groupBy("arm", F.col("entry_day").alias("day")) \
        .agg(F.count(F.lit(1)).cast("long").alias("n_enter"))
    convs = per_user.where(F.col("conv_day").isNotNull()) \
        .groupBy("arm", F.col("conv_day").alias("day")) \
        .agg(F.count(F.lit(1)).cast("long").alias("n_convert"))
    w = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0)
    grid = (
        days.crossJoin(F.broadcast(arms))
        .join(entries, ["arm", "day"], "left")
        .join(convs, ["arm", "day"], "left")
        .select(
            "arm", "day",
            F.sum(F.coalesce("n_enter", F.lit(0))).over(w)
            .cast("long").alias("n"),
            F.sum(F.coalesce("n_convert", F.lit(0))).over(w)
            .cast("long").alias("c"),
        )
    )
    daily = grid.groupBy("day").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("conv_b"),
    )
    chi2 = F.expr(
        "CASE WHEN conv_a + conv_b > 0"
        " AND (n_a + n_b) - (conv_a + conv_b) > 0"
        " AND n_a > 0 AND n_b > 0 THEN"
        " CAST((n_a + n_b)"
        " * (CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b)"
        "    - CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a))"
        " * (CAST(conv_a AS DECIMAL(38,0)) * (n_b - conv_b)"
        "    - CAST(conv_b AS DECIMAL(38,0)) * (n_a - conv_a))"
        " * 1000000"
        " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b * (conv_a + conv_b)"
        "      * ((n_a + n_b) - (conv_a + conv_b))) AS BIGINT)"
        " END")
    sig = F.when(F.col("chi2_e6").isNotNull()
                 & (F.col("chi2_e6") > 3_841_458), 1).otherwise(0) \
        .cast("long")
    out = daily.withColumn("chi2_e6", chi2).withColumn("peek_sig", sig)
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        out.select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("day").cast("int")).cast("string").alias("day"),
            "n_a", "n_b", "conv_a", "conv_b", "chi2_e6", "peek_sig",
            F.sum("peek_sig").over(wd).cast("long").alias("cum_sig_days"),
        )
    )


def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the md5-armed A/B experiment
    (Deng et al. 2013, the industry-standard pre-experiment covariate
    adjustment): split the event span into a pre-period (first
    ``pre_days`` days) and an experiment period, use each user's
    PRE-period total value as the covariate X for their EXPERIMENT-
    period total value Y, and report per arm the raw and CUPED-adjusted
    means Y' = Y - theta(X - mean(X)) with theta = cov(X,Y)/var(X)
    estimated POOLED (the standard: theta must not depend on arm or it
    biases the contrast). The variance-reduction factor rho^2 =
    cor(X,Y)^2 — the fraction of metric variance the covariate removes,
    i.e. how much longer the un-adjusted experiment would have to run
    for the same power — rides along.

    Exactness: per-user values are micro-unit BIGINTs (the sv_micros
    convention); all moment sums (Sx, Sy, Sxy, Sxx, Syy) are EXACT
    DECIMAL(38,0)/HUGEINT; theta, the adjusted means and rho^2 are the
    only float steps — single expressions over exact integers,
    floor-rounded to e6 with identical operation order on both
    engines. Users with no pre-period activity carry X = 0 (the
    standard missing-covariate convention: they contribute their own
    mean, CUPED degrades gracefully to no adjustment for them).

    Scale: one groupBy(user_id) pass with conditional partial
    aggregates, one 1-row pooled moment fold, one 2-row arm rollup.
    """
    pre_days = 15
    ev = load_table(spark, sf_dir, "events")
    day = (wall_epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    h = h60(F.col("user_id").cast("string"))
    v_us = fixed(F.col("value"), 6)
    base = ev.select("user_id", day.alias("day"), v_us.alias("v"))
    d0 = base.agg(F.min("day").alias("d0"))
    per_user = (
        base.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("d0") + pre_days,
                         F.col("v")).otherwise(0))
            .cast("long").alias("x"),
            F.sum(F.when(F.col("day") >= F.col("d0") + pre_days,
                         F.col("v")).otherwise(0))
            .cast("long").alias("y"),
        )
        .select(F.pmod(h, F.lit(2)).alias("arm"), "x", "y")
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    per_user = scoped_persist(per_user)
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sx_a"),
        F.sum("y").cast("long").alias("sy_a"),
    )
    # theta and rho^2 from the exact pooled moments; explicit operation
    # order (numerators first, one division each) mirrored in the oracle
    j = arms.crossJoin(F.broadcast(pooled))
    cov_n = F.expr("CAST(n AS DECIMAL(38,0)) * sxy"
                   " - CAST(sx AS DECIMAL(38,0)) * sy")
    var_xn = F.expr("CAST(n AS DECIMAL(38,0)) * sxx"
                    " - CAST(sx AS DECIMAL(38,0)) * sx")
    var_yn = F.expr("CAST(n AS DECIMAL(38,0)) * syy"
                    " - CAST(sy AS DECIMAL(38,0)) * sy")
    # degenerate-covariate guard (constant X and/or constant Y => no
    # adjustment, zero reduction) — both engines branch on the same
    # exact-integer zero tests, never on a float
    theta = F.when(var_xn == 0, F.lit(0.0)).otherwise(
        cov_n.cast("double") / var_xn.cast("double"))
    mean_y = F.col("sy_a").cast("double") / F.col("n_users").cast("double")
    mean_x = F.col("sx_a").cast("double") / F.col("n_users").cast("double")
    mean_x_pool = F.col("sx").cast("double") / F.col("n").cast("double")
    adj = mean_y - theta * (mean_x - mean_x_pool)
    rho2 = F.when((var_xn == 0) | (var_yn == 0), F.lit(0.0)).otherwise(
        (cov_n.cast("double") * cov_n.cast("double"))
        / (var_xn.cast("double") * var_yn.cast("double")))
    return (
        j.select(
            "arm", "n_users",
            fixed(mean_y, 0).alias("mean_y_e6"),
            fixed(adj, 0).alias("mean_y_cuped_e6"),
            fixed(theta, 6).alias("theta_e6"),
            fixed(rho2, 6).alias("var_reduction_e6"),
        )
    )


def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the stopword quality score against
    the lang='en' label — the FITTER that turns
    `quality_calibration_bins`' diagnosis (reliability gaps / ECE)
    into a usable monotone calibration map (Zadrozny & Elkan 2002:
    pool adjacent violators is the standard non-parametric calibrator
    for ranking scores). Rather than replaying PAV's sequential merge
    loop, the fit uses the exact MINIMAX identity
    iso(i) = max_{j<=i} min_{k>=i} wmean(rate over bins j..k) —
    a closed form over interval averages, which on the <= n_bins
    occupied bins is a bounded triple cross — and evaluates it on the
    e6-ROUNDED interval means (truncating integer division of exact
    prefix sums), so the whole fit is integer min/max arithmetic both
    engines replay bit-identically (equal to exact-rational PAV up to
    1 micro-unit per interval mean).

    Output per occupied bin: counts, raw positive rate, the fitted
    isotonic rate (guaranteed non-decreasing in the bin order — the
    wave test asserts it), and the absolute correction PAV applied.

    Scale: the score/label pass is quality_calibration_bins' single
    tokenize scan + bounded bin rollup; the minimax runs on the
    <= n_bins^3 interval grid — metadata at any corpus size.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )
    from hadoop_mapreduce_spark.operators.textstats import LANG_STOPWORDS
    from hadoop_mapreduce_spark.session import scoped_persist

    n_bins = 10
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(normalize_text(F.col("text")))
    sw = F.lit(list(LANG_STOPWORDS["en"]))
    base = docs.select(
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .cast("long").alias("hits"),
        F.size(toks).cast("long").alias("n_tok"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    ).where(F.col("n_tok") > 0)
    binned = base.select(
        F.least(F.expr(f"hits * 1000000 DIV n_tok * {n_bins}"
                       " DIV 1000000"),
                F.lit(n_bins - 1)).alias("bin"), "pos")
    per = scoped_persist(binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = per.select(
        "bin", "n_docs", "n_pos",
        F.sum("n_docs").over(w).cast("long").alias("cn"),
        F.sum("n_pos").over(w).cast("long").alias("cp"),
    )
    lo = pre.select(F.col("bin").alias("j"),
                    (F.col("cn") - F.col("n_docs")).alias("cn_j"),
                    (F.col("cp") - F.col("n_pos")).alias("cp_j"))
    hi = pre.select(F.col("bin").alias("k"), F.col("cn").alias("cn_k"),
                    F.col("cp").alias("cp_k"))
    # interval means on e6-rounded truncating division of exact sums
    ivl = (
        lo.crossJoin(hi).where(F.col("j") <= F.col("k"))
        .select("j", "k",
                F.expr("(cp_k - cp_j) * 1000000 DIV (cn_k - cn_j)")
                .cast("long").alias("avg_e6"))
    )
    bins_i = per.select(F.col("bin").alias("i"))
    inner = (
        ivl.crossJoin(F.broadcast(bins_i))
        .where((F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j").agg(F.min("avg_e6").alias("m"))
    )
    iso = inner.groupBy("i").agg(
        F.max("m").cast("long").alias("iso_rate_e6"))
    return (
        per.join(iso, per["bin"] == iso["i"])
        .select(
            "bin", "n_docs", "n_pos",
            F.expr("n_pos * 1000000 DIV n_docs").cast("long")
            .alias("pos_rate_e6"),
            "iso_rate_e6",
            F.abs(F.expr("n_pos * 1000000 DIV n_docs")
                  - F.col("iso_rate_e6")).cast("long")
            .alias("correction_e6"),
        )
    )
