"""Query registry: every implemented operator from SURVEY.md §2, paired
with its ANSI-SQL (DuckDB) oracle for the driver's differential check.

Contract (driver, __spark_entry__.py): each entry's Spark result and
oracle SQL result are compared at sf0.01 on row-count + schema +
order-insensitive value hash. A registered query is a pure function of
``(spark, sf_dir)``: its constants (thresholds, k, rounds, widths) live
once in its operator's body and once in its oracle, never as a default
argument that callers leave at its default (``test_operator_knobs`` pins
the few defaulted parameters that tests or other operators set to other
values). Conventions that keep the two engines bit-comparable:

  * every aggregate / computed column is aliased identically both sides;
  * integer outputs are cast to 64-bit on both sides (Spark int vs
    DuckDB BIGINT would differ);
  * float aggregates are rounded (2dp money, 4dp ratios, 6dp scores) —
    summation-order noise is ~1e-13 relative and cannot flip a rounded
    digit except on exact half boundaries;
  * fixed-point rounding has one definition, ``floor(x * 10^d + 0.5)``:
    ``fixed`` (BIGINT units of 10^-d) and ``half_up`` (a double) in
    ``functions/portable.py``, whose ``fixed_sql`` / ``half_up_sql``
    twins parse in Spark SQL and in DuckDB alike. Every operator and
    oracle that rounds at a decimal half, or scales to micro-units,
    calls them; ``round(x, d)`` remains where no fixture value sits on
    a half;
  * all hash functions are md5/sha2-derived (engine-portable), never
    engine-native hashes;
  * the portable kernels — the 60-bit md5 hash ``h60``, the portable
    HyperLogLog registers and estimator, and the Bloom filter (probe
    rows ``bloom_probes_sql``, bitmap ``bloom_bitmap_sql``, hit test
    ``bloom_hit_sql``) — live once, in their Spark form and their SQL
    twin, in ``functions/portable.py``; the
    tokenizer's twin (``TOKS_SQL``) and the n-gram window's
    (``ngrams_sql``) sit beside their Spark forms in
    ``functions/text.py``. Oracles interpolate the SQL twins;
  * so do the curation policies: the benchmark carve (``is_bench`` /
    ``is_bench_sql``) and the 10/10/80 val/test/train split
    (``doc_split`` / ``doc_split_sql``) in ``functions/portable.py``,
    and the composite quality gate (its three signals, the rounded
    score ``quality_score`` and the pass ``quality_pass``, each with a
    ``_sql`` twin) in ``functions/quality.py``. ``_QUALITY_KEPT`` below
    is the gated-documents CTE the pipeline oracles splice in;
  * so do the event-time definitions in ``functions/timeutil.py``: the
    day index (``day_index`` / ``day_index_sql`` and its inverse
    ``index_date`` / ``index_date_sql``, day 0 ``DAY_ZERO``) and the
    user session. ``sessionize(ev)`` adds ``session_id`` (a gap of
    more than ``SESSION_GAP_US`` between a user's consecutive events,
    ordered by ``(ts, event_id)``, starts a new session); every
    sessionized query calls it, and its oracle splices the
    ``SESSIONIZED_SQL`` CTE;
  * the near-dup oracle kernels live once, below, as CTE lists the
    oracles splice in: the shingle sets (``_SHINGLE_SETS``), the
    inverted-index pair counts (``_SHINGLE_PAIRS``), the exact
    shingle-Jaccard pairs at a cut (``_jaccard_pairs``; ``_NEAR_DUPS``
    is its 0.8 query), the recursive min-label components
    (``_components``), and the graph twins of dedup.py's Spark
    kernels: degrees (``_degrees_sql``), label-propagation rounds
    (``_lpa_sql``) and degree-oriented triangles (``_triangles_sql``);
  * sketches and samples run on the portable kernels (the HLL
    registers, the ``in_sample`` keep rule) and are hash-paired; the
    approximate operators no SQL can replay (IVF/PQ ANN, LSH recall,
    iterative fits, t-digest percentiles, DEFLATE) are registered
    without an oracle → their differential check is rows-only, as the
    contract allows for non-SQL-expressible ops;
  * output order is declared once per query, beside its operator, as
    SQL-style keys (``ordered(fn, "cnt DESC", "ngram")``, collected in
    ``ORDER_KEYS``), and operators return unordered frames.
    ``order_frame`` sorts the Spark frame and ``order_sql`` wraps the
    oracle as ``SELECT * FROM (<sql>) ORDER BY <keys>``, both with
    Spark's NULL placement spelled out: ASC NULLS FIRST, DESC NULLS
    LAST (DuckDB's own default is ASC NULLS LAST). Single-row and
    unordered rows-only queries declare no keys. Top-k operators and
    oracles keep their own ``ORDER BY … LIMIT k``, because there the
    order is the computation; the declared keys re-sort the k rows.

Output contract changes:

  * ``events_hierarchical_rollup`` emits the integer epoch bucket
    ``bucket_id`` (complete hours or days since 1970-01-01 00:00, by
    ``resolution``) where it once emitted a rendered ``bucket`` string;
  * ``hll_union_sources`` emits ``hll_portable_union``'s ``source`` and
    ``est_distinct`` (portable HLL), where it once emitted DataSketches
    estimates;
  * ``agg_approx_distinct``'s ``approx_users`` is the portable HLL
    estimate, where it once was Spark's native HLL estimate;
  * ``sample_seeded`` and ``sample_stratified`` keep the orders whose
    key passes ``in_sample`` (10%; F 5%, O 5%, P 100%), where they once
    drew Spark's seeded Bernoulli samples: the kept rows differ, and no
    longer depend on the file layout;
  * ``events_session_bigrams``, ``session_path_topk``,
    ``session_transition_entropy``, ``markov_absorption_steps`` and
    ``markov_attribution_removal`` split sessions on the exact gap
    (``sessionize``), where they once compared floored seconds: their
    rows change only when a gap lies in (1800 s, 1801 s) and its
    floored difference is 1800, which no fixture holds;
  * the micro-unit queries that rounded with ``round(x * 10^d)``
    (``events_hierarchical_rollup``, ``events_lttb_downsample``,
    ``events_ewma_daily``'s ``v_e6``, ``events_dow_hour_profile``,
    ``salted_aggregate_events``, ``ab_cuped_adjustment``,
    ``kneser_ney_quality``, ``pagerank_dedup_graph``,
    ``mmr_diversified_topk``, ``embedding_dim_stats``,
    ``embedding_centroid_drift`` and ``recursive_monthly_spine``) use
    ``fixed``: a value changes only on a negative exact half (-2.5
    units now gives -2, not -3) or where adding 0.5 carries
    (0.49999999999999994 units gives 1), which no fixture holds.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators import (
    advanced,
    cdc,
    curation,
    datamix,
    dedup,
    layout,
    pipeline,
    multimodal,
    relational,
    similarity,
    skew,
    sql4,
    textstats,
    timeseries,
    udfs,
)
from hadoop_mapreduce_spark.functions.portable import (
    BENCH_BLOOM_BITS,
    BENCH_BLOOM_N,
    bloom_bitmap_sql,
    bloom_hit_sql,
    bloom_probes_sql,
    doc_split_sql,
    fixed_sql,
    h60_sql,
    half_up_sql,
    hll_estimate_sql,
    hll_partials_sql,
    hll_rho_sql,
    in_sample_sql,
    is_bench_sql,
    mixture_rate_sql,
)
from hadoop_mapreduce_spark.functions.quality import (
    avg_word_len_sql,
    punct_count_sql,
    punct_ratio_sql,
    quality_pass_sql,
    quality_score_sql,
)
from hadoop_mapreduce_spark.functions.timeutil import (
    SESSION_GAP_US,
    SESSIONIZED_SQL,
    day_index_sql,
    index_date_sql,
)
from hadoop_mapreduce_spark.functions.text import (
    NORMALIZE_SQL,
    TOKS_SQL,
    collapse_ws_sql,
    ngrams_sql,
    raw_token_count_sql,
)
from hadoop_mapreduce_spark.operators.ngram import ngram_count, ngram_topk
from hadoop_mapreduce_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _sort_keys(keys: tuple[str, ...]) -> list[tuple[str, bool]]:
    """``("cnt DESC", "ngram")`` -> ``[("cnt", True), ("ngram", False)]``."""
    return [(k.removesuffix(" DESC"), k.endswith(" DESC")) for k in keys]


def order_frame(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """``df`` sorted by the declared keys: ASC NULLS FIRST (Spark's
    default), DESC NULLS LAST."""
    return df.orderBy(*[F.col(c).desc_nulls_last() if desc
                        else F.col(c).asc_nulls_first()
                        for c, desc in _sort_keys(keys)])


def order_sql(sql: str, keys: tuple[str, ...]) -> str:
    """``sql`` sorted by the declared keys, with Spark's NULL placement
    spelled out (DuckDB sorts ASC NULLS LAST by default)."""
    by = ", ".join(f'"{c}" DESC NULLS LAST' if desc else f'"{c}" ASC NULLS FIRST'
                   for c, desc in _sort_keys(keys))
    return f"SELECT * FROM (\n{sql.rstrip().rstrip(';')}\n) ORDER BY {by}"


def ordered(fn: QueryFn, *keys: str) -> QueryFn:
    """Declare a query's output order: ``fn``'s frame sorted by ``keys``.
    The oracle of the same name is sorted by the same keys (ORACLE)."""
    @functools.wraps(fn)
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return order_frame(fn(spark, sf_dir), keys)

    query.order_keys = keys
    return query


def _pyds_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: a custom distributed source with
    partition planning and doc_id-range filter pushdown
    (sources/pyds.py). The oracle replays the deterministic md5 recipe,
    so the source's rows are hash-checkable without any file input."""
    from hadoop_mapreduce_spark.sources.pyds import register

    register(spark)
    return (
        spark.read.format("synthetic_docs").option("n_docs", 200).load()
        .where((F.col("doc_id") >= 50) & (F.col("doc_id") < 150))
        .select("doc_id", "n_chars",
                F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    )

# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def _ngram_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_count(load_table(spark, sf_dir, "documents"), "text", n=3,
                       sort=False)


def _ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_topk(load_table(spark, sf_dir, "documents"), "text", n=3, k=100)


QUERIES: dict[str, QueryFn] = {
    # The driver records the first 50 entries as its per-round
    # correctness window, so an entry's place here is its priority.
    "events_hierarchical_rollup":
        ordered(timeseries.events_hierarchical_rollup,
                "resolution", "bucket_id", "event_type"),
    "split_leakage_guard": curation.split_leakage_guard,
    "dedup_components_star": ordered(dedup.dedup_components_star, "doc_id"),
    "dedup_keep_best": ordered(dedup.dedup_keep_best, "component"),
    "dedup_incremental": ordered(dedup.dedup_incremental, "doc_id"),
    "dedup_cluster_size_histogram":
        ordered(dedup.dedup_cluster_size_histogram, "cluster_size"),
    "pipeline_target_select":
        ordered(pipeline.pipeline_target_select, "source"),
    "keyphrase_rake":
        ordered(textstats.keyphrase_rake, "rake_e6 DESC", "freq DESC", "word"),
    "token_context_diversity":
        ordered(textstats.token_context_diversity, "freq DESC", "word"),
    "dedup_minhash_lsh": ordered(dedup.dedup_minhash_lsh, "id1", "id2"),
    "orders_abc_pareto":
        ordered(relational.orders_abc_pareto, "abc_class"),
    "label_propagation_communities":
        ordered(dedup.label_propagation_communities, "doc_id"),
    "sax_motifs":
        ordered(timeseries.sax_motifs, "event_type", "n DESC", "motif"),
    "dedup_chain_audit":
        ordered(dedup.dedup_chain_audit, "component"),
    "vocab_growth_heaps":
        ordered(textstats.vocab_growth_heaps, "checkpoint"),
    "embedding_outlier_scores":
        ordered(similarity.embedding_outlier_scores, "rank"),
    "order_status_flow":
        ordered(relational.order_status_flow, "from_status", "to_status"),
    "events_pattern_match":
        ordered(timeseries.events_pattern_match, "pattern"),
    "readability_scores":
        ordered(textstats.readability_scores, "source"),
    "events_acf":
        ordered(timeseries.events_acf, "event_type", "lag"),
    "compression_ratio_quality":  # rows-only (DEFLATE not SQL-expressible)
        ordered(textstats.compression_ratio_quality, "source"),
    "shard_layout_plan":
        ordered(layout.shard_layout_plan, "source"),
    "hll_portable_union":  # hash-paired (md5 registers)
        ordered(textstats.hll_portable_union, "source"),
    # 'head' < 'middle' < 'tail' alphabetically == tercile order
    "ccnet_perplexity_buckets":
        ordered(textstats.ccnet_perplexity_buckets, "lang", "bucket"),
    "vocab_coverage_curve":
        ordered(textstats.vocab_coverage_curve, "vocab_k"),
    "embedding_centroid_drift":
        ordered(similarity.embedding_centroid_drift, "label"),
    "char_trigram_langid":
        ordered(textstats.char_trigram_langid, "lang", "pred_lang"),
    "minhash_accuracy_audit":
        ordered(dedup.minhash_accuracy_audit, "err_decile"),
    "quantile_histogram_portable":
        ordered(relational.quantile_histogram_portable, "o_orderstatus", "q"),
    "events_ewma_daily":
        ordered(timeseries.events_ewma_daily, "event_type", "day"),
    "salted_aggregate_events":
        ordered(skew.salted_aggregate_events, "event_type"),
    "join_skew_audit":
        ordered(skew.join_skew_audit, "axis", "partition_id"),
    "video_meta": ordered(multimodal.video_meta, "doc_id"),
    "embedding_dim_stats": ordered(similarity.embedding_dim_stats, "dim"),
    "benford_audit":
        ordered(curation.benford_audit, "digit"),
    "pagerank_dedup_graph":  # hash-paired (recursive-CTE twin)
        ordered(dedup.pagerank_dedup_graph, "rk"),
    "pipeline_pretrain": ordered(pipeline.pipeline_pretrain, "split"),
    "dedup_threshold_sweep":
        ordered(dedup.dedup_threshold_sweep, "threshold_pct"),
    "ngram_count": ordered(_ngram_count, "ngram"),
    "q1_pricing_summary":
        ordered(relational.q1_pricing_summary, "l_returnflag", "l_linestatus"),
    "q5_local_supplier_volume":
        ordered(relational.q5_local_supplier_volume, "revenue DESC", "n_name"),
    "dedup_exact": ordered(dedup.dedup_exact, "keep_id"),
    "events_gap_fill": ordered(timeseries.events_gap_fill, "user_id", "hour"),
    "events_daily_ohlc":
        ordered(timeseries.events_daily_ohlc, "user_id", "day"),
    "events_session":
        ordered(timeseries.events_session, "user_id", "session_start"),
    "token_count": ordered(textstats.token_count, "source"),
    "text_quality": ordered(textstats.text_quality, "doc_id"),
    "unigram_logprob_quality":
        ordered(textstats.unigram_logprob_quality, "source"),
    "bloom_decontaminate": ordered(datamix.bloom_decontaminate, "source"),
    "zorder_layout": ordered(layout.zorder_layout, "file_id"),
    "recursive_monthly_spine":
        ordered(sql4.recursive_monthly_spine, "month_start"),
    "lateral_topk_orders":
        ordered(sql4.lateral_topk_orders,
                "c_custkey", "o_totalprice DESC", "o_orderkey"),
    "decontaminate_fuzzy":
        ordered(datamix.decontaminate_fuzzy, "train_id", "bench_id"),
    "decontaminate_semantic":
        ordered(datamix.decontaminate_semantic, "train_id", "bench_id"),
    "dedup_repeated_spans":
        ordered(dedup.dedup_repeated_spans, "doc_id", "span_start"),
    "dsir_importance_sample":
        ordered(datamix.dsir_importance_sample, "source"),
    "bigram_lm_quality":
        ordered(textstats.bigram_lm_quality, "bigram_lp", "doc_id"),
    "image_dhash_neardup":
        ordered(multimodal.image_dhash_neardup, "doc_a", "doc_b"),
    "bm25_search": ordered(textstats.bm25_search, "bm25 DESC", "doc_id"),
    "token_entropy_quality":
        ordered(textstats.token_entropy_quality, "token_entropy", "doc_id"),
    "jsd_lang_divergence":
        ordered(datamix.jsd_lang_divergence, "lang_a", "lang_b"),
    "hard_negative_mining":
        ordered(similarity.hard_negative_mining, "qid", "rank"),
    "events_anomaly_mad":
        ordered(timeseries.events_anomaly_mad, "event_type", "event_id"),
    "bigram_pmi_collocations":
        ordered(textstats.bigram_pmi_collocations, "pmi DESC", "w1", "w2"),
    "skipgram_cooccurrence":
        ordered(textstats.skipgram_cooccurrence, "pmi DESC", "w1", "w2"),
    "sample_weighted":
        ordered(datamix.sample_weighted, "es_key DESC", "doc_id"),
    "events_twap_daily":
        ordered(timeseries.events_twap_daily, "event_type", "day"),
    "events_winsorize_stats":
        ordered(timeseries.events_winsorize_stats, "event_type"),
    "histogram_equidepth": ordered(relational.histogram_equidepth, "bucket"),
    "bpe_merge_step": ordered(textstats.bpe_merge_step, "cnt DESC", "pair"),
    "inverted_index_topk":
        ordered(textstats.inverted_index_topk,
                "df DESC", "tf_total DESC", "term"),
    "memorization_novelty": ordered(curation.memorization_novelty, "doc_id"),
    "mixture_temperature_weights":
        ordered(datamix.mixture_temperature_weights, "source"),
    "quantile_normalize_quality":
        ordered(datamix.quantile_normalize_quality, "source"),
    "rrf_quality_fusion":
        ordered(curation.rrf_quality_fusion, "source", "fused_rank"),
    "quality_threshold_sweep":
        ordered(curation.quality_threshold_sweep, "threshold", "source"),
    "stopword_discovery":
        ordered(textstats.stopword_discovery, "lang", "rank"),
    "source_concentration_audit":
        ordered(datamix.source_concentration_audit, "axis"),
    "token_budget_fill":
        ordered(datamix.token_budget_fill, "source"),
    "curriculum_interleave":
        ordered(datamix.curriculum_interleave, "position"),
    "source_novelty_attribution":
        ordered(datamix.source_novelty_attribution, "src_rank"),
    "quality_signal_correlation":
        ordered(curation.quality_signal_correlation, "source"),
    "ngram_diversity_audit":
        ordered(textstats.ngram_diversity_audit, "source", "n"),
    "dataset_card":
        ordered(pipeline.dataset_card, "source"),
    "badwords_filter":
        ordered(curation.badwords_filter, "source"),
    "lang_source_chisq":
        ordered(datamix.lang_source_chisq, "lang", "source"),
    "events_dow_hour_profile":
        ordered(timeseries.events_dow_hour_profile, "dow", "hour"),
    "neardup_label_conflict":
        ordered(dedup.neardup_label_conflict, "component"),
    "lsh_band_tuning":
        ordered(dedup.lsh_band_tuning, "bands", "jbucket"),
    "packing_boundary_audit":
        ordered(curation.packing_boundary_audit, "source"),
    "preference_pair_build":
        ordered(curation.preference_pair_build, "source", "pair_rank"),
    "bootstrap_ci_quality":
        ordered(curation.bootstrap_ci_quality, "source"),
    "ks_drift_quality":
        ordered(datamix.ks_drift_quality, "source"),
    "session_gap_sweep":
        ordered(timeseries.session_gap_sweep, "gap_minutes"),
    "event_pair_itemsets":
        ordered(timeseries.event_pair_itemsets, "item_a", "item_b"),
    "active_user_ratios":
        ordered(timeseries.active_user_ratios, "day"),
    "customer_rfm_segments":
        ordered(relational.customer_rfm_segments,
                "r_score", "f_score", "m_score"),
    "watermark_lateness_audit":
        ordered(timeseries.watermark_lateness_audit, "event_type"),
    "join_cardinality_audit":
        ordered(skew.join_cardinality_audit, "join_name"),
    "fightin_words":
        ordered(textstats.fightin_words, "source", "rank"),
    "events_cusum_changepoint":
        ordered(timeseries.events_cusum_changepoint, "event_type", "day"),
    "kwic_concordance":
        ordered(textstats.kwic_concordance, "doc_id", "pos"),
    "ivm_orders_agg":
        ordered(cdc.ivm_orders_agg, "o_orderstatus"),
    "orders_cohort_ltv":
        ordered(relational.orders_cohort_ltv,
                "cohort_year", "cohort_month0", "k"),
    "conversion_attribution":
        ordered(timeseries.conversion_attribution, "credit"),
    "user_active_streaks":
        ordered(timeseries.user_active_streaks, "user_id"),
    "pii_redact_audit":
        ordered(textstats.pii_redact_audit, "source"),
    "orders_interarrival_profile":
        ordered(relational.orders_interarrival_profile, "o_custkey"),
    "quality_filter_agreement":
        ordered(curation.quality_filter_agreement, "sig_a", "sig_b"),
    "skyline_quality_frontier":
        ordered(relational.skyline_quality_frontier, "n_chars DESC", "doc_id"),
    "auc_roc_langid": ordered(curation.auc_roc_langid, "threshold"),
    "survival_kaplan_meier": ordered(timeseries.survival_kaplan_meier, "t"),
    "events_stl_seasonal":
        ordered(timeseries.events_stl_seasonal, "event_type", "dow"),
    "user_growth_accounting": ordered(timeseries.user_growth_accounting, "wk"),
    "basket_part_pairs":
        ordered(relational.basket_part_pairs, "support DESC", "p1", "p2"),
    "theil_sen_trend": ordered(timeseries.theil_sen_trend, "event_type"),
    "session_path_topk":
        ordered(timeseries.session_path_topk, "n_sessions DESC", "path"),
    "customer_entity_blocking":
        ordered(relational.customer_entity_blocking,
                "nationkey", "mktsegment", "id1", "id2"),
    "embedding_anisotropy_audit":
        ordered(similarity.embedding_anisotropy_audit, "bin"),
    "sparse_cosine_pairs_topk":
        ordered(similarity.sparse_cosine_pairs_topk,
                "cosine DESC", "id1", "id2"),
    "attribution_linear_credit":
        ordered(timeseries.attribution_linear_credit, "credit"),
    "term_burstiness": ordered(textstats.term_burstiness, "cf DESC", "term"),
    "doc_position_profile": ordered(textstats.doc_position_profile, "decile"),
    "dedup_containment":
        ordered(dedup.dedup_containment, "id_small", "id_big"),
    "cross_source_duplication_matrix":
        ordered(dedup.cross_source_duplication_matrix, "src_a", "src_b"),
    "text_tiling_boundaries":
        ordered(textstats.text_tiling_boundaries, "doc_id"),
    "mann_kendall_trend": ordered(timeseries.mann_kendall_trend, "event_type"),
    "minhash_bbit_estimate":
        ordered(dedup.minhash_bbit_estimate, "jaccard_e6 DESC", "id1", "id2"),
    "neyman_allocation_plan":
        ordered(datamix.neyman_allocation_plan, "source"),
    "forecast_backtest_snaive":
        ordered(timeseries.forecast_backtest_snaive, "event_type"),
    "source_rank_correlation":
        ordered(textstats.source_rank_correlation, "src_a", "src_b"),
    "runs_test_daily": ordered(timeseries.runs_test_daily, "event_type"),
    "quality_kendall_tau": ordered(curation.quality_kendall_tau, "source"),
    "lang_source_mutual_info":
        ordered(datamix.lang_source_mutual_info, "lang", "source"),
    "session_transition_entropy":
        ordered(timeseries.session_transition_entropy, "from_type"),
    "quality_flag_odds_ratio":
        ordered(curation.quality_flag_odds_ratio, "flag", "source"),
    "length_qq_drift": ordered(datamix.length_qq_drift, "source", "pct"),
    "quality_decile_lift": ordered(curation.quality_decile_lift, "decile"),
    "events_residual_anomaly":
        ordered(timeseries.events_residual_anomaly, "event_type", "d"),
    "length_hill_tail_index":
        ordered(datamix.length_hill_tail_index, "source"),
    "dedup_shingle_size_sweep":
        ordered(dedup.dedup_shingle_size_sweep, "shingle_k"),
    "dow_profile_stability":
        ordered(timeseries.dow_profile_stability, "event_type", "wk"),
    "token_mass_lorenz":
        ordered(datamix.token_mass_lorenz, "source", "decile"),
    "part_supplier_hhi":
        ordered(relational.part_supplier_hhi,
                "hhi_e6 DESC", "n_lines DESC", "partkey"),
    "part_return_rate_wilson":
        ordered(relational.part_return_rate_wilson,
                "wilson_lower DESC", "n DESC", "partkey"),
    "supply_bipartite_profile":
        ordered(relational.supply_bipartite_profile, "side", "degree"),
    "dedup_containment_prefix":
        ordered(dedup.dedup_containment_prefix, "id_small", "id_big"),
    "quality_calibration_bins":
        ordered(curation.quality_calibration_bins, "bin"),
    "partition_skew_plan": ordered(skew.partition_skew_plan, "bucket"),
    "token_positional_entropy":
        ordered(textstats.token_positional_entropy, "pos"),
    "retrieval_label_precision":
        ordered(similarity.retrieval_label_precision, "qid"),
    "embedding_quant_sqnr": ordered(similarity.embedding_quant_sqnr, "dim"),
    "algebraic_merge_audit":
        ordered(relational.algebraic_merge_audit, "source"),
    "hash_width_collision_audit":
        ordered(dedup.hash_width_collision_audit, "bits DESC"),
    "experiment_srm_audit": ordered(curation.experiment_srm_audit, "arm"),
    "graph_triangle_count":
        ordered(dedup.graph_triangle_count, "n_triangles DESC", "doc_id"),
    "graph_degree_assortativity": dedup.graph_degree_assortativity,
    "wasserstein_source_drift":
        ordered(datamix.wasserstein_source_drift, "source"),
    "shard_order_runs_audit": ordered(datamix.shard_order_runs_audit, "shard"),
    "zone_map_skipping_audit":
        ordered(layout.zone_map_skipping_audit, "layout", "probe_id"),
    "fellegi_sunter_weights":
        ordered(relational.fellegi_sunter_weights, "field"),
    "markov_absorption_steps":
        ordered(timeseries.markov_absorption_steps, "state"),
    "consistent_hash_migration_audit":
        ordered(skew.consistent_hash_migration_audit, "server"),
    "kfold_strata_audit":
        ordered(curation.kfold_strata_audit, "lang", "source"),
    "kcore_dedup_graph": ordered(dedup.kcore_dedup_graph, "k", "peel_round"),
    "rolling_distinct_users_hll":
        ordered(timeseries.rolling_distinct_users_hll, "day"),
    "er_survivorship_golden":
        ordered(relational.er_survivorship_golden, "golden_custkey"),
    "encoding_dictionary_audit":
        ordered(layout.encoding_dictionary_audit, "col_name"),
    "markov_attribution_removal":
        ordered(timeseries.markov_attribution_removal, "channel"),
    "psi_source_drift": ordered(datamix.psi_source_drift, "source"),
    "experiment_peeking_audit":
        ordered(curation.experiment_peeking_audit, "day"),
    "rle_run_length_audit": ordered(layout.rle_run_length_audit, "col_name"),
    "ab_cuped_adjustment": ordered(curation.ab_cuped_adjustment, "arm"),
    "dedup_token_savings": ordered(dedup.dedup_token_savings, "source"),
    "graph_modularity_audit": ordered(dedup.graph_modularity_audit, "method"),
    "events_burst_kleinberg":
        ordered(timeseries.events_burst_kleinberg, "event_type", "day"),
    "isotonic_calibration_pav":
        ordered(curation.isotonic_calibration_pav, "bin"),
    "embedding_jl_distortion_audit":
        ordered(similarity.embedding_jl_distortion_audit, "bin"),
    "negative_sampling_table":
        ordered(textstats.negative_sampling_table, "rank"),
    "hll_intersection_audit":
        ordered(textstats.hll_intersection_audit, "s1", "s2"),
    "bloom_join_prefilter_audit":
        ordered(relational.bloom_join_prefilter_audit, "o_orderpriority"),
    "graph_rich_club": ordered(dedup.graph_rich_club, "k"),
    "ivm_hll_registers": ordered(textstats.ivm_hll_registers, "source"),
    "attribution_time_decay":
        ordered(timeseries.attribution_time_decay, "channel"),
    "session_concurrency":
        ordered(timeseries.session_concurrency, "day"),
    "events_holt_linear":
        ordered(timeseries.events_holt_linear, "event_type", "day"),
    "padding_waste_audit": ordered(curation.padding_waste_audit, "strategy"),
    "inbatch_collision_audit":
        ordered(curation.inbatch_collision_audit, "source"),
    "ann_dim_truncation_audit":
        ordered(similarity.ann_dim_truncation_audit, "qid"),
    "sql_udf_revenue": ordered(sql4.sql_udf_revenue, "l_returnflag"),
    "dedup_jaccard_prefix": ordered(dedup.dedup_jaccard_prefix, "id1", "id2"),
    "quality_classifier_train":  # rows-only (iterative GD)
        ordered(curation.quality_classifier_train, "b"),
    "context_window_stats": ordered(curation.context_window_stats, "budget"),
    "tokenizer_fertility": ordered(textstats.tokenizer_fertility, "lang"),
    "source_overlap_matrix":
        ordered(datamix.source_overlap_matrix, "src_a", "src_b"),
    "embedding_pca_power":  # rows-only (iterative fixpoint)
        ordered(similarity.embedding_pca_power, "dim"),
    "dedup_span_chunks": ordered(dedup.dedup_span_chunks, "doc_id"),
    "audio_meta": ordered(multimodal.audio_meta, "doc_id"),
    "pipeline_pretrain_scale":
        ordered(pipeline.pipeline_pretrain_scale, "source"),
    "doc_hash_embedding": ordered(textstats.doc_hash_embedding, "doc_id"),
    "mode_median_aggs": ordered(relational.mode_median_aggs, "c_mktsegment"),
    "try_arithmetic": ordered(relational.try_arithmetic, "o_orderstatus"),
    "pyds_custom_source": ordered(_pyds_custom_source, "doc_id"),
    "udtf_polymorphic_topn":
        ordered(advanced.udtf_polymorphic_topn,
                "l_orderkey", "l_linenumber", "rank"),
    "arrow_normalize_embeddings":
        ordered(udfs.arrow_normalize_embeddings, "vec_id"),
    "events_funnel": timeseries.events_funnel,
    "events_retention_cohorts":
        ordered(timeseries.events_retention_cohorts,
                "cohort_week", "week_offset"),
    "events_session_bigrams":
        ordered(timeseries.events_session_bigrams, "cnt DESC", "bigram"),
    "triangle_count_dedup_graph": dedup.triangle_count_dedup_graph,
    "events_anomaly_zscore":
        ordered(timeseries.events_anomaly_zscore, "event_type", "hour"),
    "variant_props_stats": ordered(sql4.variant_props_stats, "event_type"),
    "collation_ci_counts": ordered(sql4.collation_ci_counts, "rep"),
    "window_ignore_nulls":
        ordered(advanced.window_ignore_nulls, "user_id", "event_id"),
    "bool_count_aggs": ordered(advanced.bool_count_aggs, "o_orderpriority"),
    "regexp_extract_all_terms":
        ordered(advanced.regexp_extract_all_terms, "cnt DESC", "term"),
    "udtf_tokens": ordered(advanced.udtf_tokens, "doc_id", "pos"),
    "string_agg_sorted": ordered(advanced.string_agg_sorted, "r_name"),
    "bitwise_aggs": ordered(advanced.bitwise_aggs, "o_orderpriority"),
    "doc_chunking": ordered(curation.doc_chunking, "doc_id", "chunk_idx"),
    "text_scrub": ordered(curation.text_scrub, "doc_id"),
    "dataset_split": ordered(curation.dataset_split, "split"),
    "dq_checks": ordered(curation.dq_checks, "check_name"),
    "cdc_merge_orders": ordered(cdc.cdc_merge_orders, "o_orderstatus"),
    "scd2_customer_history":
        ordered(cdc.scd2_customer_history, "custkey", "version"),
    "decontaminate_ngram": ordered(datamix.decontaminate_ngram, "source"),
    "quality_repetition": ordered(datamix.quality_repetition, "source"),
    "domain_mixture_sample": ordered(datamix.domain_mixture_sample, "source"),
    "embedding_quantize": ordered(datamix.embedding_quantize, "label"),
    "global_shuffle_order":
        ordered(datamix.global_shuffle_order, "shard", "pos"),
    "knn_join_lsh":  # rows-only (approximate kNN join)
        ordered(similarity.knn_join_lsh, "qid", "rank"),
    "embedding_kmeans_stats":  # hash-paired (portable exact Lloyd)
        ordered(similarity.embedding_kmeans_stats, "cluster"),
    "seq_packing":  # hash-paired (lockstep recursive first-fit twin)
        ordered(curation.seq_packing, "source", "pack_id"),
    "keyword_search":
        ordered(textstats.keyword_search, "score DESC", "doc_id"),
    "dup_ngram_rate": ordered(datamix.dup_ngram_rate, "source"),
    "sample_fixed_per_source":
        ordered(datamix.sample_fixed_per_source, "source", "rk"),
    "token_zipf_slope": textstats.token_zipf_slope,
    "ann_pq_adc":  # rows-only (quantized ranks)
        ordered(similarity.ann_pq_adc, "qid", "rank"),
    "ann_pq_rerank":  # rows-only (ADC shortlist)
        ordered(similarity.ann_pq_rerank, "qid", "rank"),
    "ann_ivfpq_rerank":  # rows-only (IVFADC)
        ordered(similarity.ann_ivfpq_rerank, "qid", "rank"),
    "hll_union_sources":  # hash-paired (hll_portable_union's estimates)
        ordered(textstats.hll_union_sources, "source"),
    "winnowing_fingerprint":
        ordered(textstats.winnowing_fingerprint, "doc_id"),
    "winnowing_neardup_pairs":
        ordered(textstats.winnowing_neardup_pairs, "id1", "id2"),
    "events_lttb_downsample":
        ordered(timeseries.events_lttb_downsample, "event_type", "rank"),
    "semdedup_ivf":  # hash-paired (portable Lloyd + recursive greedy twin)
        ordered(similarity.semdedup_ivf, "vec_id"),
    "mmr_diversified_topk":  # hash-paired (recursive greedy twin)
        ordered(similarity.mmr_diversified_topk, "qid", "rank"),
    "ngram_topk": ordered(_ngram_topk, "cnt DESC", "ngram"),
    "q3_shipping_priority":
        ordered(relational.q3_shipping_priority,
                "revenue DESC", "o_orderdate", "o_orderkey"),
    "q6_forecast_revenue": relational.q6_forecast_revenue,
    "q18_large_volume_customer":
        ordered(relational.q18_large_volume_customer,
                "o_totalprice DESC", "o_orderkey"),
    "q4_order_priority":
        ordered(relational.q4_order_priority, "o_orderpriority"),
    "q7_volume_shipping":
        ordered(relational.q7_volume_shipping,
                "supp_nation", "cust_nation", "l_year"),
    "q10_returned_items":
        ordered(relational.q10_returned_items, "revenue DESC", "c_custkey"),
    "q12_shipping_lag": ordered(relational.q12_shipping_lag, "lag_band"),
    "q14_promo_effect": relational.q14_promo_effect,
    "q19_discounted_revenue": relational.q19_discounted_revenue,
    "q22_global_sales_opportunity":
        ordered(relational.q22_global_sales_opportunity, "c_nationkey"),
    "filter_predicates": ordered(relational.filter_predicates, "p_partkey"),
    # (l_orderkey, l_linenumber) is not unique in the fixture: every
    # varying output column breaks ties
    "project_compute":
        ordered(relational.project_compute,
                "l_orderkey", "l_linenumber", "net_charge", "disc_band",
                "flag_status"),
    "string_functions": ordered(relational.string_functions, "p_partkey"),
    "date_functions": ordered(relational.date_functions, "o_orderkey"),
    # the same non-unique fixture key as project_compute
    "math_functions":
        ordered(relational.math_functions,
                "l_orderkey", "l_linenumber", "abs_dev", "qty_sqrt",
                "price_ln", "disc_sq"),
    "array_functions": ordered(relational.array_functions, "vec_id"),
    "json_functions": ordered(relational.json_functions, "event_type"),
    "json_from_json_typed":
        ordered(relational.json_from_json_typed, "event_id"),
    "array_explode_pos":
        ordered(relational.array_explode_pos, "vec_id", "pos"),
    "string_distance": ordered(relational.string_distance, "p_partkey"),
    "join_broadcast_dim":
        ordered(relational.join_broadcast_dim, "r_name", "n_name"),
    "join_outer": ordered(relational.join_outer, "c_custkey"),
    "join_semi_anti": ordered(relational.join_semi_anti, "c_custkey"),
    "join_cross": ordered(relational.join_cross, "r_name", "c_mktsegment"),
    "join_range_theta": ordered(relational.join_range_theta, "o_orderstatus"),
    "join_self_pairs": ordered(relational.join_self_pairs, "user_id"),
    "agg_distinct": ordered(relational.agg_distinct, "o_orderstatus"),
    "agg_rollup": ordered(relational.agg_rollup, "r_name", "n_name"),
    "agg_cube": ordered(relational.agg_cube, "l_returnflag", "l_linestatus"),
    "agg_having": ordered(relational.agg_having, "l_suppkey"),
    "agg_approx_distinct":  # hash-paired (md5 registers)
        ordered(relational.agg_approx_distinct, "event_type"),
    "approx_percentile_stats":  # rows-only (t-digest)
        ordered(relational.approx_percentile_stats, "o_orderstatus"),
    "pivot_status_by_segment":
        ordered(relational.pivot_status_by_segment, "c_mktsegment"),
    "grouping_sets_sales":
        ordered(relational.grouping_sets_sales,
                "l_returnflag", "l_linestatus", "gid"),
    "join_full_outer": ordered(relational.join_full_outer, "nationkey"),
    "correlated_scalar_subquery":
        ordered(relational.correlated_scalar_subquery, "o_orderkey"),
    "stats_aggregates": ordered(relational.stats_aggregates, "l_returnflag"),
    "percentile_stats": ordered(relational.percentile_stats, "o_orderstatus"),
    "q2_min_cost_supplier":
        ordered(relational.q2_min_cost_supplier,
                "unit_cost", "p_partkey", "s_name"),
    "q8_market_share": ordered(relational.q8_market_share, "o_year"),
    "q9_product_profit":
        ordered(relational.q9_product_profit, "nation", "o_year"),
    "q11_important_stock":
        ordered(relational.q11_important_stock, "value DESC", "p_partkey"),
    "q13_order_distribution":
        ordered(relational.q13_order_distribution,
                "custdist DESC", "c_count DESC"),
    "q15_top_supplier": ordered(relational.q15_top_supplier, "s_suppkey"),
    "q16_supplier_part_count":
        ordered(relational.q16_supplier_part_count,
                "supplier_cnt DESC", "p_brand", "p_type", "p_size"),
    "q17_small_qty_revenue": relational.q17_small_qty_revenue,
    "q20_excess_suppliers":
        ordered(relational.q20_excess_suppliers, "s_suppkey"),
    "q21_waiting_supplier":
        ordered(relational.q21_waiting_supplier, "numwait DESC", "s_name"),
    "window_topk_per_group":
        ordered(relational.window_topk_per_group, "o_custkey", "rn"),
    "window_rank_dense": ordered(relational.window_rank_dense, "s_suppkey"),
    "window_running_sum":
        ordered(relational.window_running_sum, "o_custkey", "o_orderkey"),
    "window_lag_lead":
        ordered(relational.window_lag_lead, "user_id", "event_id"),
    "window_range_frame":
        ordered(relational.window_range_frame, "o_custkey", "o_orderkey"),
    "window_distribution":
        ordered(relational.window_distribution, "o_orderkey"),
    "sort_multi_key_limit":
        ordered(relational.sort_multi_key_limit,
                "l_extendedprice DESC", "l_orderkey", "l_linenumber"),
    "set_operations": ordered(relational.set_operations, "custkey"),
    "union_by_name": ordered(relational.union_by_name, "kind", "nationkey"),
    "distinct_dedup_rows":
        ordered(relational.distinct_dedup_rows,
                "l_returnflag", "l_linestatus"),
    "sample_seeded":  # hash-paired (md5 keep rule)
        ordered(relational.sample_seeded, "o_orderkey"),
    "sample_stratified":  # hash-paired (md5 keep rule)
        ordered(relational.sample_stratified, "o_orderstatus"),
    "pipeline_curation": ordered(pipeline.pipeline_curation, "source"),
    "dedup_simhash": ordered(dedup.dedup_simhash, "doc_id"),
    "dedup_ngram_jaccard": ordered(dedup.dedup_ngram_jaccard, "id1", "id2"),
    "dedup_embedding_cosine":
        ordered(dedup.dedup_embedding_cosine, "id1", "id2"),
    "dedup_connected_components":
        ordered(dedup.dedup_connected_components, "doc_id"),
    "dedup_embedding_lsh":  # rows-only (SRP recall < 1)
        ordered(dedup.dedup_embedding_lsh, "id1", "id2"),
    "sim_search_topk": ordered(similarity.sim_search_topk, "qid", "rank"),
    "ann_ivf_topk": similarity.ann_ivf_topk,  # rows-only (approximate)
    "embedding_stats": ordered(similarity.embedding_stats, "label"),
    "language_id": ordered(textstats.language_id, "lang", "pred_lang"),
    "doc_fingerprint": ordered(textstats.doc_fingerprint, "doc_id"),
    "tfidf_top_terms": ordered(textstats.tfidf_top_terms, "doc_id", "rnk"),
    "heavy_hitters_cms":  # hash-paired (md5 cells -> identical sketch)
        ordered(textstats.heavy_hitters_cms, "est DESC", "term"),
    "gopher_dup_ngrams": ordered(datamix.gopher_dup_ngrams, "source"),
    "kneser_ney_quality":
        ordered(textstats.kneser_ney_quality, "kn_lp_e6", "doc_id"),
    "asof_join_nearest": ordered(timeseries.asof_join_nearest, "event_id"),
    "multimodal_decode": ordered(multimodal.multimodal_decode, "doc_id"),
    "frame_sample": ordered(multimodal.frame_sample, "doc_id"),
    "multimodal_resize": ordered(multimodal.multimodal_resize, "doc_id"),
    "multimodal_features": ordered(multimodal.multimodal_features, "doc_id"),
    "events_tumbling":
        ordered(timeseries.events_tumbling, "window_start", "event_type"),
    "events_sliding":
        ordered(timeseries.events_sliding, "window_start", "event_type"),
    "events_dedup_first":
        ordered(timeseries.events_dedup_first, "user_id", "event_type"),
    "asof_join_events_orders":
        ordered(timeseries.asof_join_events_orders, "event_id"),
    "udf_pandas_vector_norm": ordered(udfs.udf_pandas_vector_norm, "vec_id"),
    "udf_grouped_agg_mean":
        ordered(udfs.udf_grouped_agg_mean, "o_orderstatus"),
    "udf_apply_in_pandas_zscore":
        ordered(udfs.udf_apply_in_pandas_zscore, "user_id", "event_id"),
    "udf_python_scalar": ordered(udfs.udf_python_scalar, "p_partkey"),
    "map_functions": ordered(advanced.map_functions, "o_orderpriority"),
    "higher_order_array": ordered(advanced.higher_order_array, "vec_id"),
    "unpivot_measures":
        ordered(advanced.unpivot_measures, "l_returnflag", "measure"),
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (keys must match QUERIES; omissions → rows-only check)
# ---------------------------------------------------------------------------

_NGRAM3 = f"""
WITH toks AS (SELECT {TOKS_SQL} AS t FROM documents),
grams AS (SELECT unnest({ngrams_sql('t', 3)}) AS ngram FROM toks)
SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram
"""

# d0(doc_id, text, source, t): the documents that pass the quality gate
# (functions/quality.py), with their tokens; a CTE the pipelines splice in.
_QUALITY_KEPT = f"""d0 AS (
  SELECT doc_id, text, source, t
  FROM (SELECT doc_id, text, source, {TOKS_SQL} AS t FROM documents)
  WHERE {quality_pass_sql(quality_score_sql(
      "t", "length(text)", punct_count_sql("text")))}
)"""

# The near-dup oracle kernels. Each is a CTE list an oracle splices
# into its own WITH, so every exact pair base, component labelling and
# graph kernel is built from the same text.

# toks(doc_id, t); sh(doc_id, s): each document's distinct word
# 3-shingles; sizes(doc_id, n): the shingle-set sizes.
_SHINGLE_SETS = f"""
toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({ngrams_sql('t', 3)}) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""

# _SHINGLE_SETS plus inter(id1, id2, c): the shared-shingle count of
# every pair id1 < id2 that shares one (the inverted-index pair build).
_SHINGLE_PAIRS = f"""{_SHINGLE_SETS},
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _jaccard_pairs(cut: float) -> str:
    """_SHINGLE_PAIRS plus jac(id1, id2, jaccard): the pairs whose exact
    shingle Jaccard reaches ``cut``, rounded to 6 dp after the cut."""
    return f"""{_SHINGLE_PAIRS},
jac AS (
  SELECT id1, id2, round(j, 6) AS jaccard FROM (
    SELECT id1, id2, c * 1.0 / (s1.n + s2.n - c) AS j
    FROM inter JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id)
  WHERE j >= {cut}
)"""


# the near-dup pairs at the operators' 0.8 cut, as one query
_NEAR_DUPS = f"WITH {_jaccard_pairs(0.8)} SELECT id1, id2, jaccard FROM jac"


def _components(nodes: str, pairs: str) -> str:
    """Min-label connected components: cc_edges(a, b), the (id1, id2)
    rows of ``pairs`` in both directions; reach(src, node), every node
    reachable from each id the query ``nodes`` returns; and
    comp(doc_id, component), the least id reachable from each. The
    caller's WITH must be RECURSIVE."""
    return f"""cc_edges AS (
  SELECT id1 AS a, id2 AS b FROM {pairs} UNION SELECT id2, id1 FROM {pairs}
),
reach(src, node) AS (
  SELECT id, id FROM ({nodes}) n(id)
  UNION
  SELECT r.src, e.b FROM reach r JOIN cc_edges e ON r.node = e.a
),
comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src)"""


def _degrees_sql(rel: str) -> str:
    """deg(v, d): the degree of every endpoint of the undirected edge
    relation ``rel``(id1, id2), one row per unordered pair."""
    return f"""deg AS (
  SELECT v, count(*)::BIGINT AS d FROM (
    SELECT id1 AS v FROM {rel} UNION ALL SELECT id2 FROM {rel}) GROUP BY v
)"""


def _lpa_sql(rel: str, n_iter: int) -> str:
    """lpa(v, lbl): ``n_iter`` synchronous label-propagation rounds over
    the undirected relation ``rel``(id1, id2), the twin of
    dedup.lpa_labels. A fixed round count needs no recursion (and a
    recursive term may not aggregate), so the rounds are chained
    aggregation CTEs l0..l{n_iter}; self-loops damp the period-2
    oscillation and the (count DESC, label ASC) tie-break totalises the
    update."""
    rounds = "".join(f""",
l{k} AS (
  SELECT v, lbl FROM (
    SELECT e.src AS v, p.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY e.src
                              ORDER BY count(*) DESC, p.lbl) AS rn
    FROM lpa_edges e JOIN l{k - 1} p ON p.v = e.dst
    GROUP BY e.src, p.lbl)
  WHERE rn = 1
)""" for k in range(1, n_iter + 1))
    return f"""lpa_sym AS (
  SELECT id1 AS src, id2 AS dst FROM {rel} UNION ALL SELECT id2, id1 FROM {rel}
),
lpa_edges AS (
  SELECT src, dst FROM lpa_sym UNION ALL SELECT DISTINCT src, src FROM lpa_sym
),
l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM lpa_sym){rounds},
lpa AS (SELECT v, lbl FROM l{n_iter})"""


def _triangles_sql(rel: str) -> str:
    """_degrees_sql(rel) plus tri(u, v, w): every triangle of ``rel``,
    once, at its (degree, id)-minimum corner u with v < w — the
    degree-oriented wedges closed by an oriented edge."""
    return f"""{_degrees_sql(rel)},
oriented AS (
  SELECT CASE WHEN (d1.d, e.id1) < (d2.d, e.id2) THEN e.id1 ELSE e.id2 END
           AS src,
         CASE WHEN (d1.d, e.id1) < (d2.d, e.id2) THEN e.id2 ELSE e.id1 END
           AS dst
  FROM {rel} e JOIN deg d1 ON e.id1 = d1.v JOIN deg d2 ON e.id2 = d2.v
),
wedges AS (
  SELECT a.src AS u, a.dst AS v, b.dst AS w
  FROM oriented a JOIN oriented b ON a.src = b.src AND a.dst < b.dst
),
closing AS (
  SELECT least(src, dst) AS v, greatest(src, dst) AS w FROM oriented
),
tri AS (SELECT u, v, w FROM wedges JOIN closing USING (v, w))"""


ORACLE: dict[str, str] = {
    "ngram_count": _NGRAM3,
    "ngram_topk": f"{_NGRAM3} ORDER BY cnt DESC, ngram LIMIT 100",
    "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "q3_shipping_priority": """
SELECT o_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate::VARCHAR AS o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'FURNITURE'
  AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey LIMIT 10
""",
    "q5_local_supplier_volume": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    "q6_forecast_revenue": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
    "q18_large_volume_customer": """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate::VARCHAR AS o_orderdate,
  o_totalprice, round(total_qty, 2) AS total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
    "filter_predicates": """
SELECT p_partkey, p_name, p_brand, p_type, p_size::BIGINT AS p_size
FROM part
WHERE p_brand IN ('Brand#13', 'Brand#5') AND p_size BETWEEN 5 AND 25
  AND p_type LIKE 'ECONOMY%' AND p_name IS NOT NULL
""",
    "project_compute": f"""
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
  {half_up_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS net_charge,
  CASE WHEN l_discount >= 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band,
  l_returnflag || '-' || l_linestatus AS flag_status,
  year(l_shipdate)::BIGINT AS ship_year
FROM lineitem WHERE year(l_shipdate) = 1999
""",
    "string_functions": """
SELECT p_partkey,
  upper(p_name) AS name_upper,
  length(p_name)::BIGINT AS name_len,
  substr(p_name, 1, 5) AS name_pfx,
  trim(p_name) AS name_trim,
  regexp_extract(p_brand, '#(\\d+)', 1)::BIGINT AS brand_num,
  string_split(p_name, ' ')[1] AS first_word,
  lpad(p_partkey::VARCHAR, 8, '0') AS key_padded,
  replace(p_type, ' ', '_') AS type_snake
FROM part
""",
    "date_functions": """
SELECT o_orderkey,
  year(o_orderdate)::BIGINT AS yr,
  month(o_orderdate)::BIGINT AS mo,
  day(o_orderdate)::BIGINT AS dom,
  quarter(o_orderdate)::BIGINT AS qtr,
  date_trunc('month', o_orderdate)::DATE::VARCHAR AS month_start,
  date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::BIGINT AS days_to_2002,
  last_day(o_orderdate::DATE)::VARCHAR AS month_end,
  strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
""",
    "math_functions": """
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
  round(abs(l_extendedprice - 50000.0), 2) AS abs_dev,
  round(sqrt(l_quantity), 6) AS qty_sqrt,
  round(ln(l_extendedprice + 1.0), 6) AS price_ln,
  ceil(l_quantity)::BIGINT AS qty_ceil,
  floor(l_quantity)::BIGINT AS qty_floor,
  round(power(l_discount, 2), 6) AS disc_sq,
  (l_orderkey % 7)::BIGINT AS key_mod7
FROM lineitem
""",
    "array_functions": """
SELECT vec_id,
  len(embedding)::BIGINT AS dim,
  round((embedding::DOUBLE[])[1], 6) AS first_val,
  round(list_sum(embedding::DOUBLE[]), 6) AS vec_sum,
  round(list_max(embedding::DOUBLE[]), 6) AS vec_max,
  round(list_min(embedding::DOUBLE[]), 6) AS vec_min,
  len(list_filter(embedding::DOUBLE[], x -> x > 0))::BIGINT AS n_pos
FROM embeddings
""",
    "json_functions": """
SELECT event_type, count(*) AS n,
  round(avg(k), 4) AS avg_k, min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
FROM (SELECT event_type, json_extract_string(props, '$.k')::INT AS k FROM events)
GROUP BY event_type
""",
    "window_distribution": """
SELECT o_orderkey, o_orderstatus,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume,
  ntile(4) OVER w::BIGINT AS quartile
FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
    "json_from_json_typed": """
SELECT event_id,
  json_extract_string(props, '$.k')::BIGINT AS k,
  CASE WHEN json_valid(props) THEN 1 ELSE 0 END::BIGINT AS valid
FROM events
""",
    "array_explode_pos": """
SELECT vec_id, (g.ord - 1)::BIGINT AS pos, round(g.val, 6) AS val
FROM embeddings,
  LATERAL (SELECT unnest((embedding::DOUBLE[])[1:4]) AS val,
                  generate_subscripts((embedding::DOUBLE[])[1:4], 1) AS ord) g
WHERE vec_id < 100
""",
    "string_distance": """
SELECT p_partkey,
  levenshtein(p_name, p_type)::BIGINT AS lev_name_type,
  round(1 - levenshtein(p_name, p_type) * 1.0 / greatest(length(p_name), length(p_type)), 6) AS name_type_sim
FROM part
""",
    "join_broadcast_dim": """
SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
    "join_outer": """
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    "join_semi_anti": """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
    "join_cross": """
SELECT r_name, c_mktsegment
FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
""",
    "join_range_theta": """
SELECT o_orderstatus, count(*) AS n_fast_ship
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderstatus
""",
    "join_self_pairs": """
SELECT a.user_id AS user_id, count(*) AS n_pairs
FROM events a JOIN events b ON a.user_id = b.user_id AND a.event_id < b.event_id
  AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 300000000
GROUP BY a.user_id
""",
    "agg_distinct": """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total,
  round(min(o_totalprice), 2) AS min_price, round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderstatus
""",
    "agg_rollup": """
SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "agg_cube": """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "agg_having": """
SELECT l_suppkey, count(*) AS n_items, round(sum(l_extendedprice), 2) AS volume
FROM lineitem GROUP BY l_suppkey HAVING count(*) > 500
""",
    "window_topk_per_group": """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS rn
  FROM orders
) WHERE rn <= 3
""",
    "window_rank_dense": """
SELECT s_suppkey, s_nationkey::BIGINT AS s_nationkey,
  rank() OVER w::BIGINT AS rnk, dense_rank() OVER w::BIGINT AS drnk,
  row_number() OVER w::BIGINT AS rn
FROM supplier WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
""",
    "window_running_sum": """
SELECT o_custkey, o_orderkey,
  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
""",
    "window_lag_lead": """
SELECT user_id, event_id,
  lag(value, 1) OVER w AS prev_value,
  lead(value, 1) OVER w AS next_value,
  round(value - lag(value, 1) OVER w, 2) AS delta
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    "window_range_frame": """
SELECT o_custkey, o_orderkey,
  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND INTERVAL 30 DAY FOLLOWING) AS orders_within_30d
FROM orders
""",
    "sort_multi_key_limit": """
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, l_extendedprice,
  l_shipdate::VARCHAR AS l_shipdate
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50
""",
    "set_operations": """
SELECT custkey FROM (
  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
   INTERSECT
   SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
)
""",
    "union_by_name": """
SELECT kind, nationkey::BIGINT AS nationkey, count(*) AS n, round(sum(acctbal), 2) AS bal
FROM (
  SELECT 'customer' AS kind, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT 'supplier', s_nationkey, s_acctbal FROM supplier
) GROUP BY kind, nationkey
""",
    "distinct_dedup_rows": """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""",
    "pipeline_curation": f"""
WITH {_QUALITY_KEPT},
keep AS (SELECT min(doc_id) AS doc_id FROM d0 GROUP BY sha256(text)),
d1 AS (SELECT d0.* FROM d0 JOIN keep USING (doc_id)),
j AS ({_NEAR_DUPS}),
live AS (
  SELECT id2 FROM j
  WHERE id1 IN (SELECT doc_id FROM d1) AND id2 IN (SELECT doc_id FROM d1)
),
d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT id2 FROM live))
SELECT source, count(*) AS n_docs, sum(len(t))::BIGINT AS total_tokens
FROM d2 GROUP BY source
""",
    "dedup_exact": """
SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
""",
    "dedup_minhash_lsh": f"{_NEAR_DUPS}",
    "dedup_connected_components": f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")}
SELECT doc_id, component::BIGINT AS component FROM comp
""",
    "dedup_ngram_jaccard": f"{_NEAR_DUPS}",
    "dedup_simhash": rf"""
WITH toks AS (
  SELECT doc_id, list_distinct({TOKS_SQL}) AS t
  FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks WHERE len(t) > 0),
th AS (SELECT doc_id, {h60_sql("tk")} AS h FROM tok),
bits AS (
  SELECT doc_id, i, CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END AS v
  FROM th, LATERAL (SELECT unnest(generate_series(0, 59)) AS i) g
),
votes AS (SELECT doc_id, i, sum(v) AS s FROM bits GROUP BY doc_id, i)
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
""",
    "sim_search_topk": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
scored AS (
  SELECT qid, v.vec_id AS nid,
    list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS score
  FROM q, v WHERE v.vec_id <> qid
),
ranked AS (
  SELECT qid, nid, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid)::BIGINT AS rank
  FROM scored
)
SELECT qid, nid, round(score, 6) AS score, rank FROM ranked WHERE rank <= 10
""",
    "embedding_stats": """
SELECT label::BIGINT AS label, count(*) AS n,
  round(avg(sqrt(list_dot_product(e, e))), 6) AS avg_norm,
  round(max(list_dot_product(e, e)), 6) AS max_sq_norm
FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings)
GROUP BY label
""",
    "text_quality": f"""
WITH t0 AS (
  SELECT doc_id, {TOKS_SQL} AS t, length(text) AS nc,
    {punct_count_sql("text")} AS np
  FROM documents
),
t1 AS (
  SELECT doc_id, t, nc, np, len(t) AS ntok,
    len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])) AS sh
  FROM t0
)
SELECT doc_id, ntok::BIGINT AS n_tokens, nc::BIGINT AS n_chars_m,
  round({avg_word_len_sql("t")}, 4) AS avg_word_len,
  round(CASE WHEN ntok > 0 THEN sh * 1.0 / ntok ELSE 0.0 END, 4) AS stopword_ratio,
  round({punct_ratio_sql("np", "nc")}, 4) AS punct_ratio,
  {quality_score_sql("t", "nc", "np")} AS quality
FROM t1
""",
    "token_count": rf"""
WITH per_doc AS (
  SELECT source, len({TOKS_SQL})::BIGINT AS ws_tokens,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]'))::BIGINT AS bpe_tokens
  FROM documents
)
SELECT source, count(*) AS n_docs,
  sum(ws_tokens)::BIGINT AS total_ws_tokens,
  sum(bpe_tokens)::BIGINT AS total_bpe_tokens,
  round(avg(bpe_tokens), 4) AS avg_bpe_tokens
FROM per_doc GROUP BY source
""",
    "language_id": rf"""
WITH t0 AS (SELECT doc_id, lang, {TOKS_SQL} AS t FROM documents),
hits AS (
  SELECT doc_id, lang,
    len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])) AS h_en,
    len(list_intersect(t, ['el','la','de','que','y','en','un','los','se','no'])) AS h_es,
    len(list_intersect(t, ['le','la','de','et','les','des','en','un','du','que'])) AS h_fr,
    len(list_intersect(t, ['der','die','und','den','von','zu','das','mit','sich','des'])) AS h_de
  FROM t0
),
pred AS (
  SELECT lang,
    CASE WHEN greatest(h_en, h_es, h_fr, h_de) <= 0 THEN 'und'
         WHEN h_de = greatest(h_en, h_es, h_fr, h_de) THEN 'de'
         WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
         WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
         ELSE 'fr' END AS pred_lang
  FROM hits
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
""",
    "tfidf_top_terms": f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, tf * ln((n + 1.0) / (df + 1.0)) AS score
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf::BIGINT AS tf, round(score, 6) AS tfidf, rnk::BIGINT AS rnk
FROM ranked WHERE rnk <= 5
""",
    "doc_fingerprint": rf"""
WITH c AS (
  SELECT doc_id,
    {collapse_ws_sql(NORMALIZE_SQL)} AS compact
  FROM documents
),
kg AS (
  SELECT doc_id, compact,
    min({h60_sql("substr(compact, i, 8)")}) AS min_kgram_hash
  FROM c, LATERAL (SELECT unnest(generate_series(1, greatest(length(compact) - 7, 1))) AS i) g
  GROUP BY doc_id, compact
)
SELECT doc_id, md5(compact) AS content_md5, min_kgram_hash FROM kg
""",
    # The Spark side synthesises a VALID bmp/png/gif blob per document
    # (format = doc_id % 3, dims/frames derived from the text byte
    # length) and parses the actual bytes back; the oracle computes the
    # expected metadata directly, so a parser bug (endianness, offset,
    # GIF block walk) breaks the hash.
    "multimodal_decode": """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' ELSE 'gif' END AS format,
  (octet_length(encode(text)) % 64 + 1)::BIGINT AS width,
  (octet_length(encode(text)) % 48 + 1)::BIGINT AS height,
  (CASE WHEN doc_id % 3 = 2 THEN octet_length(encode(text)) % 5 + 1
        ELSE 1 END)::BIGINT AS n_frames
FROM documents
""",
    "frame_sample": """
SELECT doc_id,
  ((CASE WHEN doc_id % 3 = 2 THEN octet_length(encode(text)) % 5 ELSE 0 END)
    // 2 + 1)::BIGINT AS n_sampled
FROM documents
""",
    "multimodal_resize": """
WITH d AS (
  SELECT doc_id,
    (octet_length(encode(text)) % 64 + 1)::BIGINT AS width,
    (octet_length(encode(text)) % 48 + 1)::BIGINT AS height
  FROM documents
)
SELECT doc_id, width, height,
  CASE WHEN greatest(width, height) <= 32 THEN width
       ELSE width * 32 // greatest(width, height) END AS new_width,
  CASE WHEN greatest(width, height) <= 32 THEN height
       ELSE height * 32 // greatest(width, height) END AS new_height
FROM d
""",
    "multimodal_features": """
WITH b AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)
SELECT doc_id, 8::BIGINT AS dim,
  round(sqrt(list_sum(list_transform(generate_series(1, 8),
    i -> ((n * i) % 1000 / 1000.0) * ((n * i) % 1000 / 1000.0)))), 6) AS feat_norm
FROM b
""",
    "events_tumbling": """
SELECT time_bucket(INTERVAL '1 hour', ts)::VARCHAR AS window_start, event_type,
  count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
""",
    "events_sliding": """
WITH e2 AS (
  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR]) AS ws,
         event_type
  FROM events
)
SELECT ws::VARCHAR AS window_start, event_type, count(*) AS n
FROM e2 GROUP BY 1, 2
""",
    "events_session": f"""
WITH {SESSIONIZED_SQL}
SELECT user_id, min(ts)::VARCHAR AS session_start, count(*) AS n_events,
  round(sum(value), 2) AS session_value
FROM sessionized GROUP BY user_id, session_id
""",
    "events_dedup_first": """
SELECT user_id, event_type, event_id, first_ts FROM (
  SELECT user_id, event_type, event_id, ts::VARCHAR AS first_ts,
    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
    "asof_join_events_orders": """
SELECT e.event_id, e.user_id, o.o_orderdate::VARCHAR AS last_order_date
FROM events e ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
    "q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    "q7_volume_shipping": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate)::BIGINT AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""",
    "q10_returned_items": """
SELECT c_custkey, c_name, c_acctbal, n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
    "q12_shipping_lag": """
SELECT CASE WHEN date_diff('day', o_orderdate::DATE, l_shipdate::DATE) <= 30 THEN 'FAST'
            WHEN date_diff('day', o_orderdate::DATE, l_shipdate::DATE) <= 60 THEN 'NORMAL'
            ELSE 'SLOW' END AS lag_band,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY lag_band
""",
    "q14_promo_effect": """
SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
  * 100.0 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
""",
    "q19_discounted_revenue": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity BETWEEN 1 AND 30)
   OR (p_brand = 'Brand#2' AND p_size <= 25 AND l_quantity BETWEEN 5 AND 40)
   OR (p_brand = 'Brand#3' AND p_size <= 35 AND l_quantity BETWEEN 10 AND 50)
""",
    "q22_global_sales_opportunity": """
WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey::BIGINT AS c_nationkey, count(*) AS numcust,
  round(sum(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY 1
""",
    "pivot_status_by_segment": """
SELECT c_mktsegment,
  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o,
  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "grouping_sets_sales": """
SELECT l_returnflag, l_linestatus,
  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
  count(*) AS n, round(sum(l_extendedprice), 2) AS volume
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    "join_full_outer": """
WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
     s AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
SELECT coalesce(c.k, s.k)::BIGINT AS nationkey,
  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.k = s.k
""",
    "correlated_scalar_subquery": """
WITH ca AS (SELECT o_custkey AS k, avg(o_totalprice) AS cust_avg FROM orders GROUP BY 1)
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders JOIN ca ON o_custkey = k
WHERE o_totalprice > 1.5 * cust_avg
""",
    "stats_aggregates": """
SELECT l_returnflag, count(*) AS n,
  round(stddev_samp(l_extendedprice), 4) AS price_stddev,
  round(var_samp(l_quantity), 4) AS qty_var,
  round(corr(l_extendedprice, l_quantity), 6) + 0.0 AS price_qty_corr,
  round(covar_samp(l_discount, l_tax), 6) + 0.0 AS disc_tax_covar
FROM lineitem GROUP BY l_returnflag
""",
    "percentile_stats": """
SELECT o_orderstatus,
  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  round(quantile_cont(o_totalprice, 0.5), 4) AS median,
  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
FROM orders GROUP BY o_orderstatus
""",
    "events_gap_fill": """
WITH bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
),
observed AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.user_id, s.hour::VARCHAR AS hour, coalesce(o.n, 0) AS n
FROM spine s LEFT JOIN observed o ON s.user_id = o.user_id AND s.hour = o.hour
""",
    "q2_min_cost_supplier": f"""
WITH unit AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
best AS (SELECT l_partkey, min(unit_cost) AS best_cost FROM unit GROUP BY 1)
SELECT p_partkey, p_name, s_name, n_name,
  {half_up_sql("unit_cost", 4)} AS unit_cost
FROM unit JOIN best ON unit.l_partkey = best.l_partkey AND unit.unit_cost = best.best_cost
JOIN part ON p_partkey = unit.l_partkey
JOIN supplier ON s_suppkey = unit.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size BETWEEN 1 AND 15 AND p_type = 'STANDARD'
ORDER BY unit_cost, p_partkey, s_name LIMIT 100
""",
    "q8_market_share": """
WITH flow AS (
  SELECT year(o_orderdate)::BIGINT AS o_year,
    l_extendedprice * (1 - l_discount) AS volume,
    n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
  round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume), 6) AS mkt_share
FROM flow GROUP BY o_year
""",
    "q9_product_profit": """
SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
  round(sum(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity), 2) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
""",
    "q11_important_stock": """
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, round(value, 2) AS value FROM val
WHERE value > (SELECT avg(value) * 3.0 FROM val)
""",
    "q13_order_distribution": """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
""",
    "q15_top_supplier": """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    "q16_supplier_part_count": """
SELECT p_brand, p_type, p_size::BIGINT AS p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY 1, 2, 3
""",
    "q17_small_qty_revenue": """
WITH pa AS (SELECT l_partkey AS ap_key, 0.5 * avg(l_quantity) AS half_avg FROM lineitem GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
JOIN pa ON l_partkey = ap_key
WHERE l_quantity < half_avg
""",
    "q20_excess_suppliers": """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 50)
""",
    "q21_waiting_supplier": """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late,
    max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
  FROM per_supp GROUP BY 1
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
""",
    "dedup_embedding_cosine": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
    list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id1, id2, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.4
""",
    "events_daily_ohlc": """
SELECT user_id, date_trunc('day', ts)::TIMESTAMP::VARCHAR AS day,
  round(arg_min(value, printf('%020d|%010d', epoch_ns(ts), event_id)), 2) AS open,
  round(arg_max(value, printf('%020d|%010d', epoch_ns(ts), event_id)), 2) AS close,
  round(min(value), 2) AS low,
  round(max(value), 2) AS high,
  count(*) AS n
FROM events GROUP BY 1, 2
""",
    "events_hierarchical_rollup": f"""
WITH hourly AS (
  SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS bucket_id,
    event_type, count(*) AS n, sum({fixed_sql("value", 6)}) AS sm
  FROM events GROUP BY 1, 2
)
SELECT 'hour' AS resolution, bucket_id, event_type, n,
  (sm // 10000)::BIGINT AS total_value_cents,
  (sm // n)::BIGINT AS avg_value_micros
FROM hourly
UNION ALL
SELECT 'day', floor(bucket_id / 24)::BIGINT AS day_id, event_type,
  sum(n)::BIGINT, (sum(sm) // 10000)::BIGINT, (sum(sm) // sum(n))::BIGINT
FROM hourly GROUP BY 2, event_type
""",
    "udf_pandas_vector_norm": """
SELECT vec_id, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
FROM embeddings
""",
    "udf_grouped_agg_mean": """
SELECT o_orderstatus,
  round(CASE WHEN count(*) <= 2 THEN avg(o_totalprice)
             ELSE (sum(o_totalprice) - min(o_totalprice) - max(o_totalprice)) / (count(*) - 2)
        END, 4) AS trimmed_avg_price
FROM orders GROUP BY o_orderstatus
""",
    "udf_apply_in_pandas_zscore": """
WITH st AS (
  SELECT user_id, event_id, value,
    avg(value) OVER (PARTITION BY user_id) AS m,
    stddev_samp(value) OVER (PARTITION BY user_id) AS sd
  FROM events
)
SELECT user_id, event_id,
  round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0 ELSE (value - m) / sd END, 6) AS zscore
FROM st
""",
    "udf_python_scalar": """
SELECT p_partkey,
  list_sum(list_transform(regexp_extract_all(p_partkey::VARCHAR, '\\d'), x -> x::INT))::BIGINT AS key_digit_sum
FROM part
""",
    "map_functions": """
WITH c AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority,
  count(*)::BIGINT AS n_status,
  coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN cnt END), 0)::BIGINT AS n_f,
  coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN cnt END), 0)::BIGINT AS n_o,
  coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN cnt END), 0)::BIGINT AS n_p,
  sum(CASE WHEN cnt > 50 THEN 1 ELSE 0 END)::BIGINT AS n_big_status
FROM c GROUP BY 1
""",
    "higher_order_array": """
SELECT vec_id,
  (len(list_filter(embedding::DOUBLE[], x -> x > 0.5)) > 0)::BIGINT AS any_gt_half,
  (len(list_filter(embedding::DOUBLE[], x -> abs(x) >= 10.0)) = 0)::BIGINT AS all_small,
  round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) + 0.0 AS mean_val,
  round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS sum_sq
FROM embeddings
""",
    "unpivot_measures": """
WITH w AS (
  SELECT l_returnflag,
    round(sum(l_quantity), 2) AS sum_qty,
    round(sum(l_extendedprice), 2) AS sum_price,
    round(sum(l_discount), 2) AS sum_disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
""",
    "window_ignore_nulls": """
SELECT user_id, event_id,
  round(last_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS locf_value,
  round(first_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS first_valid
FROM events
""",
    "bool_count_aggs": """
SELECT o_orderpriority,
  bool_and(o_totalprice > 1000.0)::BIGINT AS all_over_1k,
  bool_or(o_totalprice > 400000.0)::BIGINT AS any_over_400k,
  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished
FROM orders GROUP BY 1
""",
    "regexp_extract_all_terms": """
SELECT term, count(*)::BIGINT AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]{8,}')) AS term FROM documents)
GROUP BY term HAVING count(*) >= 3
""",
    "doc_chunking": rf"""
WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t
  FROM documents
),
nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
st AS (
  SELECT doc_id, t, g.s, g.ord
  FROM nz, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS s,
           generate_subscripts(generate_series(1, greatest(len(t) - 8, 1), 24), 1) AS ord) g
)
SELECT doc_id, (ord - 1)::BIGINT AS chunk_idx,
  array_to_string(t[s:s+31], ' ') AS chunk,
  len(t[s:s+31])::BIGINT AS chunk_len
FROM st
""",
    "text_scrub": rf"""
WITH m AS (
  SELECT doc_id, text,
    regexp_replace(regexp_replace(text,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),
      'https?://[^\s]+', '<URL>', 'g') AS masked
  FROM documents
),
s AS (
  SELECT doc_id, trim({collapse_ws_sql("masked")}) AS clean,
    len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}')) AS ne,
    len(regexp_extract_all(text, 'https?://[^\s]+')) AS nu
  FROM m
)
SELECT doc_id, length(clean)::BIGINT AS clean_len,
  ne::BIGINT AS n_emails_masked, nu::BIGINT AS n_urls_masked,
  substr(clean, 1, 80) AS clean_prefix
FROM s
""",
    "dataset_split": rf"""
SELECT {doc_split_sql("doc_id")} AS split, count(*)::BIGINT AS n_docs,
  sum({raw_token_count_sql("text")})::BIGINT AS total_tokens
FROM documents GROUP BY 1
""",
    "dq_checks": r"""
WITH c AS (
  SELECT 'orders_custkey_fk' AS check_name,
    (SELECT count(*) FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
  UNION ALL SELECT 'lineitem_orderkey_fk',
    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL SELECT 'lineitem_qty_positive',
    (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
  UNION ALL SELECT 'lineitem_discount_range',
    (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
  UNION ALL SELECT 'documents_text_nonempty',
    (SELECT count(*) FROM documents WHERE text IS NULL OR length(trim(text)) = 0)
  UNION ALL SELECT 'events_ts_not_null',
    (SELECT count(*) FROM events WHERE ts IS NULL)
  UNION ALL SELECT 'orders_totalprice_positive',
    (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
)
SELECT check_name, n_violations::BIGINT AS n_violations,
  (n_violations = 0)::BIGINT AS passed
FROM c
""",
    "udtf_tokens": f"""
WITH d AS (
  SELECT doc_id, {TOKS_SQL}[1:10] AS toks
  FROM documents WHERE doc_id < 100
)
SELECT doc_id, (g.ord - 1)::INT AS pos, g.token
FROM d, LATERAL (SELECT unnest(toks) AS token, generate_subscripts(toks, 1) AS ord) g
""",
    "string_agg_sorted": """
SELECT r_name,
  string_agg(n_name, ',' ORDER BY n_name) AS nations,
  count(*)::BIGINT AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    "bitwise_aggs": """
SELECT o_orderpriority,
  bit_and(o_custkey)::BIGINT AS keys_and,
  bit_or(o_custkey)::BIGINT AS keys_or,
  bit_xor(o_custkey)::BIGINT AS keys_xor
FROM orders GROUP BY 1
""",
    "cdc_merge_orders": """
WITH orders0 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, 'U' AS op
  FROM orders0 WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D'
  FROM orders0 WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders0), o_custkey, 'N', o_totalprice, 'I'
  FROM orders0 WHERE o_orderkey % 10 = 2
),
merged AS (
  SELECT coalesce(c.o_orderkey, t.o_orderkey) AS o_orderkey,
    CASE WHEN c.op IN ('I','U') THEN c.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
    CASE WHEN c.op IN ('I','U') THEN c.o_totalprice ELSE t.o_totalprice END AS o_totalprice
  FROM orders0 t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT o_orderstatus, count(*) AS n_orders,
  round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS total_price,
  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM merged GROUP BY 1
""",
    "scd2_customer_history": """
WITH v AS (
  SELECT o_custkey AS custkey,
    row_number() OVER w AS version,
    o_orderdate::VARCHAR AS valid_from,
    (lead(o_orderdate) OVER w)::VARCHAR AS valid_to,
    o_totalprice AS balance
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT custkey, version::BIGINT AS version, valid_from, valid_to, balance
FROM v WHERE version <= 3
""",
    "decontaminate_ngram": f"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, unnest({ngrams_sql('t', 4)}) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM grams WHERE {is_bench_sql('doc_id')}),
hits AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE NOT {is_bench_sql('doc_id')} AND g IN (SELECT g FROM bench)
),
train AS (SELECT doc_id, source FROM documents WHERE NOT {is_bench_sql('doc_id')})
SELECT t.source, count(*)::BIGINT AS n_train_docs,
  count(h.doc_id)::BIGINT AS n_contaminated,
  round(count(h.doc_id) * 1.0 / count(*), 4) AS contam_rate
FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
GROUP BY t.source
""",
    "decontaminate_fuzzy": f"""
WITH {_SHINGLE_SETS},
inter AS (
  SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS c
  FROM sh t JOIN sh b ON t.s = b.s
  WHERE NOT {is_bench_sql('t.doc_id')} AND {is_bench_sql('b.doc_id')}
  GROUP BY 1, 2
),
jac AS (
  SELECT train_id, bench_id, c * 1.0 / (s1.n + s2.n - c) AS j
  FROM inter
  JOIN sizes s1 ON train_id = s1.doc_id
  JOIN sizes s2 ON bench_id = s2.doc_id
)
SELECT train_id, bench_id, round(j, 6) AS jaccard FROM jac
WHERE j >= 0.8
""",
    "decontaminate_semantic": f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
t AS (SELECT vec_id AS train_id, e AS tv FROM v WHERE NOT {is_bench_sql('vec_id')}),
b AS (SELECT vec_id AS bench_id, e AS bv FROM v WHERE {is_bench_sql('vec_id')}),
s AS (
  SELECT train_id, bench_id,
    list_dot_product(tv, bv)
      / (sqrt(list_dot_product(tv, tv)) * sqrt(list_dot_product(bv, bv))) AS c
  FROM t, b
)
SELECT train_id, bench_id, round(c, 6) AS cosine FROM s
WHERE c >= 0.4
""",
    "dedup_keep_best": f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")},
m AS (
  SELECT c.component, d.doc_id, d.n_chars,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY c.component) AS n_members
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT component::BIGINT AS component, doc_id AS keep_id,
  n_members::BIGINT AS n_members, n_chars AS keep_n_chars
FROM m WHERE rn = 1 AND n_members >= 2
""",
    "pipeline_target_select": f"""
WITH RECURSIVE
{_jaccard_pairs(0.8)},
contaminated AS (
  SELECT DISTINCT CASE WHEN {is_bench_sql('id1')} THEN id2 ELSE id1 END AS doc_id
  FROM jac WHERE {is_bench_sql('id1')} <> {is_bench_sql('id2')}
),
surv AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE NOT {is_bench_sql('doc_id')}
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sedge AS (
  SELECT id1, id2 FROM jac
  WHERE id1 IN (SELECT doc_id FROM surv) AND id2 IN (SELECT doc_id FROM surv)
),
{_components("SELECT doc_id FROM surv", "sedge")},
ranked AS (
  SELECT c.component, s.doc_id,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY s.n_chars DESC, s.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY c.component) AS nm
  FROM comp c JOIN surv s USING (doc_id)
),
dup_dropped AS (SELECT doc_id FROM ranked WHERE nm >= 2 AND rn > 1),
tok0 AS (SELECT doc_id, unnest(t) AS w FROM toks),
tokf AS (
  SELECT doc_id,
    {h60_sql("w")} % 10000 AS f
  FROM tok0
),
ct AS (SELECT f, count(*) AS ct FROM tokf WHERE {is_bench_sql('doc_id')} GROUP BY f),
cr AS (SELECT f, count(*) AS cr FROM tokf WHERE NOT {is_bench_sql('doc_id')} GROUP BY f),
nt AS (SELECT count(*) AS nt FROM tokf WHERE {is_bench_sql('doc_id')}),
nr AS (SELECT count(*) AS nr FROM tokf WHERE NOT {is_bench_sql('doc_id')}),
ratio AS (
  SELECT coalesce(ct.f, cr.f) AS f,
    ln((coalesce(ct, 0) + 1) * 1.0 / (nt + 10000))
      - ln((coalesce(cr, 0) + 1) * 1.0 / (nr + 10000)) AS llr
  FROM ct FULL OUTER JOIN cr ON ct.f = cr.f, nt, nr
),
cdf AS (
  SELECT doc_id, f, count(*) AS c FROM tokf
  WHERE NOT {is_bench_sql('doc_id')} GROUP BY 1, 2
),
lw AS (SELECT doc_id, round(sum(c * llr), 8) AS lw
       FROM cdf JOIN ratio USING (f) GROUP BY 1),
train AS (SELECT doc_id, source FROM documents WHERE NOT {is_bench_sql('doc_id')}),
flags AS (
  SELECT t.source,
    (c.doc_id IS NOT NULL) AS is_contam,
    (c.doc_id IS NULL AND d.doc_id IS NOT NULL) AS is_dup,
    (c.doc_id IS NULL AND d.doc_id IS NULL
     AND coalesce(l.lw, -1) > 0) AS is_sel
  FROM train t
  LEFT JOIN contaminated c USING (doc_id)
  LEFT JOIN dup_dropped d USING (doc_id)
  LEFT JOIN lw l USING (doc_id)
)
SELECT source, count(*)::BIGINT AS n_train_docs,
  sum(CASE WHEN is_contam THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
  sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_dropped,
  sum(CASE WHEN is_sel THEN 1 ELSE 0 END)::BIGINT AS n_selected
FROM flags GROUP BY source
""",
    "dedup_repeated_spans": f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
w AS (
  SELECT doc_id, i AS p, array_to_string(t[i:i+7], ' ') AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) g
),
r AS (
  SELECT doc_id, p,
    row_number() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn
  FROM w
),
f AS (SELECT doc_id, p FROM r WHERE rn > 1),
b AS (
  SELECT doc_id, p,
    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
         THEN 0 ELSE 1 END AS nb
  FROM f
),
isl AS (
  SELECT doc_id, p,
    sum(nb) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM b
)
SELECT doc_id, min(p)::BIGINT AS span_start, (max(p) + 7)::BIGINT AS span_end,
  (max(p) + 7 - min(p) + 1)::BIGINT AS span_tokens
FROM isl GROUP BY doc_id, island
""",
    "dsir_importance_sample": f"""
WITH tok0 AS (SELECT doc_id, source, unnest(t) AS w
              FROM (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents)),
tok AS (
  SELECT doc_id, source,
    {h60_sql("w")} % 10000 AS f
  FROM tok0
),
ct AS (SELECT f, count(*) AS ct FROM tok WHERE {is_bench_sql('doc_id')} GROUP BY f),
cr AS (SELECT f, count(*) AS cr FROM tok WHERE NOT {is_bench_sql('doc_id')} GROUP BY f),
nt AS (SELECT count(*) AS nt FROM tok WHERE {is_bench_sql('doc_id')}),
nr AS (SELECT count(*) AS nr FROM tok WHERE NOT {is_bench_sql('doc_id')}),
ratio AS (
  SELECT coalesce(ct.f, cr.f) AS f,
    ln((coalesce(ct, 0) + 1) * 1.0 / (nt + 10000))
      - ln((coalesce(cr, 0) + 1) * 1.0 / (nr + 10000)) AS llr
  FROM ct FULL OUTER JOIN cr ON ct.f = cr.f, nt, nr
),
cdf AS (
  SELECT doc_id, source, f, count(*) AS c FROM tok
  WHERE NOT {is_bench_sql('doc_id')} GROUP BY 1, 2, 3
),
lw AS (
  SELECT doc_id, source, round(sum(c * llr), 8) AS lw
  FROM cdf JOIN ratio USING (f) GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_train_docs,
  sum(CASE WHEN lw > 0 THEN 1 ELSE 0 END)::BIGINT AS n_selected,
  round(avg(lw), 6) AS avg_log_weight
FROM lw GROUP BY source
""",
    "quality_repetition": f"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
tok AS (SELECT doc_id, source, unnest(t) AS w FROM toks),
cnt AS (SELECT doc_id, source, w, count(*) AS c FROM tok GROUP BY 1, 2, 3),
m AS (
  SELECT doc_id, source, sum(c) AS n_tokens, max(c) AS top_c,
         count(*) AS n_distinct
  FROM cnt GROUP BY 1, 2
),
d AS (
  SELECT source,
    top_c * 1.0 / n_tokens AS top_token_frac,
    n_distinct * 1.0 / n_tokens AS distinct_frac
  FROM m
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(((top_token_frac > 0.125) OR (distinct_frac < 0.32))::BIGINT)::BIGINT
    AS n_flagged,
  round(avg(top_token_frac), 4) AS avg_top_token_frac,
  round(avg(distinct_frac), 4) AS avg_distinct_frac
FROM d GROUP BY source
""",
    "domain_mixture_sample": f"""
WITH s AS (
  SELECT doc_id, source, n_chars, {mixture_rate_sql("source")} AS target_pct
  FROM documents
),
d AS (
  SELECT source, n_chars, target_pct,
    {in_sample_sql("doc_id::VARCHAR", "target_pct", None)}::INT AS kept
  FROM s
)
SELECT source, target_pct::BIGINT AS target_pct,
  count(*)::BIGINT AS n_docs, sum(kept)::BIGINT AS n_sampled,
  sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END)::BIGINT AS sampled_chars
FROM d GROUP BY 1, 2
""",
    "embedding_quantize": f"""
WITH v AS (
  SELECT label::BIGINT AS label,
    list_transform(embedding, x -> x::DOUBLE) AS ve,
    len(embedding) AS d
  FROM embeddings
),
q AS (
  SELECT label, ve, d,
    greatest(list_max(list_transform(ve, x -> abs(x))), 1e-30) / 127.0 AS scale
  FROM v
),
e AS (
  SELECT label, scale,
    list_sum(list_transform(ve,
      x -> (x - {fixed_sql("x / scale", 0)} * scale)
           * (x - {fixed_sql("x / scale", 0)} * scale))) / d AS mse
  FROM q
)
SELECT label, count(*)::BIGINT AS n_vecs,
  round(avg(scale), 6) AS avg_scale,
  round(avg(mse), 8) AS avg_mse
FROM e GROUP BY label
""",
    "global_shuffle_order": f"""
WITH k AS (
  SELECT doc_id, md5(doc_id::VARCHAR) AS k,
    {h60_sql("doc_id::VARCHAR")} % 8 AS shard
  FROM documents
)
SELECT shard, pos, doc_id FROM (
  SELECT shard, row_number() OVER (PARTITION BY shard ORDER BY k) AS pos,
         doc_id
  FROM k
) WHERE pos <= 5
""",
}

# The alternating-star CC must produce bit-identical components to label
# propagation, so it shares the recursive-CTE min-reachable oracle — the
# driver hash-checks both implementations against the same SQL.
ORACLE["dedup_components_star"] = ORACLE["dedup_connected_components"]

# Compound pretraining-assembly pipeline: quality gate -> exact dedup ->
# 4-gram benchmark decontamination -> salted-hash domain mixture ->
# md5-bucket split ledger. The stages splice the twins the per-stage
# oracles use: the quality gate (_QUALITY_KEPT, as pipeline_curation),
# the benchmark carve (as decontaminate_ngram), the n-gram window and
# the split (as dataset_split); the mixture rates and keep rule are
# domain_mixture_sample's, over a salted hash.
ORACLE["pipeline_pretrain"] = f"""
WITH {_QUALITY_KEPT},
keep AS (SELECT min(doc_id) AS doc_id FROM d0 GROUP BY sha256(text)),
d1 AS (SELECT d0.* FROM d0 JOIN keep USING (doc_id)),
toks_all AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, unnest({ngrams_sql('t', 4)}) AS g
  FROM toks_all
),
bench AS (SELECT DISTINCT g FROM grams WHERE {is_bench_sql('doc_id')}),
hits AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE NOT {is_bench_sql('doc_id')} AND g IN (SELECT g FROM bench)
),
d2 AS (
  SELECT * FROM d1
  WHERE NOT {is_bench_sql('doc_id')} AND doc_id NOT IN (SELECT doc_id FROM hits)
),
d3 AS (
  SELECT * FROM d2
  WHERE {in_sample_sql("doc_id::VARCHAR", mixture_rate_sql("source"), "mix")}
)
SELECT {doc_split_sql("doc_id")} AS split,
  count(*)::BIGINT AS n_docs, sum(len(t))::BIGINT AS total_tokens
FROM d3 GROUP BY 1
"""

# Conjunctive keyword search over the same tokenisation, ranked by
# summed tf-idf with the smoothed idf tfidf_top_terms uses; ties on
# score are broken by doc_id so the emitted order is total.
ORACLE["keyword_search"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
qt AS (SELECT * FROM toks WHERE term IN ('spark', 'window', 'join')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
per_doc AS (
  SELECT doc_id, count(*) AS n_terms, sum(tf) AS total_tf,
    sum(tf * ln((n.n + 1.0) / (df.df + 1.0))) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
  GROUP BY doc_id
)
SELECT doc_id, total_tf::BIGINT AS total_tf, round(score, 6) AS score
FROM per_doc WHERE n_terms = 3
ORDER BY score DESC, doc_id LIMIT 20
"""

# Repeated-long-n-gram rate: distinct 8-grams per doc, corpus frequency
# via a window over the gram key (one exchange), per-source rollup.
ORACLE["dup_ngram_rate"] = rf"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
g AS (
  SELECT DISTINCT doc_id, source, unnest({ngrams_sql('t', 8)}) AS g
  FROM toks
),
f AS (SELECT doc_id, source, count(*) OVER (PARTITION BY g) AS nd FROM g),
pd AS (
  SELECT doc_id, source, count(*) AS n_grams, sum((nd > 1)::BIGINT) AS n_dup
  FROM f GROUP BY 1, 2
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    round(avg(n_dup * 1.0 / n_grams), 4) AS avg_dup_rate,
    sum((n_dup * 2 > n_grams)::BIGINT)::BIGINT AS n_mostly_dup
  FROM pd GROUP BY source
),
short AS (
  SELECT source, count(*) AS n_short FROM toks WHERE len(t) < 8 GROUP BY source
)
SELECT agg.source, n_docs, avg_dup_rate, n_mostly_dup,
  coalesce(n_short, 0)::BIGINT AS n_short
FROM agg LEFT JOIN short USING (source)
"""

# Deterministic per-domain cap: md5(doc_id) order, ties by doc_id.
ORACLE["sample_fixed_per_source"] = r"""
WITH r AS (
  SELECT source, doc_id,
    row_number() OVER (
      PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents
)
SELECT source, rk::BIGINT AS rk, doc_id FROM r WHERE rk <= 12
"""

# Zipf slope over the top-500 token ranks (rank ties broken by token so
# the regression inputs are bit-identical integers on both engines).
ORACLE["token_zipf_slope"] = rf"""
WITH c AS (
  SELECT tk, count(*) AS c
  FROM (SELECT unnest({TOKS_SQL}) AS tk FROM documents) GROUP BY tk
),
r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tk) AS r FROM c)
SELECT round(regr_slope(ln(c), ln(r)), 6) AS zipf_slope,
  round(regr_r2(ln(c), ln(r)), 6) AS zipf_r2,
  count(*)::BIGINT AS n_ranks, max(c)::BIGINT AS top_count
FROM r WHERE r <= 500
"""


# --- Spark-4 SQL-surface oracles (DuckDB speaks all four shapes) ---

ORACLE["recursive_monthly_spine"] = f"""
WITH RECURSIVE mon(m) AS (
  SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
  WHERE (SELECT min(o_orderdate) FROM orders) IS NOT NULL
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM mon
  WHERE m < (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
)
SELECT m::DATE AS month_start, count(o_orderkey)::BIGINT AS n_orders,
  coalesce(sum({fixed_sql("o_totalprice", 2)}), 0) / 100.0 AS total_price
FROM mon LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
"""

ORACLE["lateral_topk_orders"] = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
WHERE c.c_mktsegment = 'BUILDING'
"""

ORACLE["variant_props_stats"] = """
SELECT event_type, count(*)::BIGINT AS n,
  count(json_extract(props, '$.k'))::BIGINT AS n_with_k,
  round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
  max(json_extract(props, '$.k')::INT)::BIGINT AS max_k
FROM events GROUP BY event_type
"""

ORACLE["collation_ci_counts"] = """
WITH names AS (
  SELECT r_name AS name FROM region
  UNION ALL SELECT lower(r_name) FROM region
)
SELECT min(name) AS rep, count(*)::BIGINT AS n
FROM names GROUP BY lower(name)
"""

# Bloom-filter decontamination: the oracle rebuilds the identical
# BENCH_BLOOM_BITS-bit bitmap from the portable Bloom twin
# (functions/portable.py documents the layout). Hash-comparable because
# every hash is md5-derived, never engine-native.
ORACLE["bloom_decontaminate"] = f"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, unnest({ngrams_sql('t', BENCH_BLOOM_N)}) AS g
  FROM toks
),
bench AS (SELECT g FROM grams WHERE {is_bench_sql('doc_id')}),
train_grams AS (SELECT doc_id, g FROM grams WHERE NOT {is_bench_sql('doc_id')}),
bitmap AS ({bloom_bitmap_sql("bench", "g", BENCH_BLOOM_BITS)}),
probes AS ({bloom_probes_sql("train_grams", "g", BENCH_BLOOM_BITS,
                             "doc_id, g")}),
per_gram AS ({bloom_hit_sql("probes", "bitmap", "doc_id, g", "gram_hit")}),
hits AS (SELECT doc_id, max(gram_hit) AS flagged FROM per_gram GROUP BY doc_id),
train AS (SELECT doc_id, source FROM documents WHERE NOT {is_bench_sql('doc_id')})
SELECT t.source, count(*)::BIGINT AS n_train_docs,
  sum(coalesce(h.flagged, 0))::BIGINT AS n_flagged_bloom,
  round(sum(coalesce(h.flagged, 0)) * 1.0 / count(*), 4) AS flag_rate
FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
GROUP BY t.source
"""

# Sub-document chunk dedup: first-occurrence-wins over 8-token spans,
# dedupe key = 60-bit md5 of the chunk (same hash both engines, so the
# rebuilt-text fingerprints are bit-comparable).
ORACLE["dedup_span_chunks"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
chunks AS (
  SELECT doc_id, i AS chunk_idx, array_to_string(t[s:s+7], ' ') AS chunk
  FROM (SELECT doc_id, t FROM toks WHERE len(t) > 0),
    LATERAL (SELECT unnest(generate_series(1, len(t), 8)) AS s,
                    unnest(generate_series(0, (len(t)-1)//8)) AS i) x
),
hashed AS (
  SELECT doc_id, chunk_idx, chunk,
    {h60_sql("chunk")} AS h
  FROM chunks
),
kept AS (
  SELECT doc_id, chunk_idx, chunk,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM hashed
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(chunk, ' ' ORDER BY chunk_idx) AS rebuilt
  FROM kept WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
SELECT t.doc_id, t.n_chunks::BIGINT AS n_chunks,
  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
  md5(coalesce(r.rebuilt, '')) AS dedup_fp
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""

# Corpus-unigram LM quality proxy (CCNet/RefinedWeb perplexity filter
# without KenLM): flag cut = corpus mean doc score - 0.05, adaptive.
# Cross-engine determinism (ADVICE r5): the doc score is kept as
# a = avg(ln c) so the ln(n_total) shift cancels out of the threshold
# comparison, and both a and the cut round to 8 dp before the `<` —
# mirrors operators/textstats.py::unigram_logprob_quality exactly.
ORACLE["unigram_logprob_quality"] = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({TOKS_SQL}) AS tk FROM documents
),
vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
per_doc AS (
  SELECT doc_id, source, round(avg(ln(c * 1.0)), 8) AS ar,
         count(*) AS len
  FROM tok JOIN vocab USING (tk)
  GROUP BY doc_id, source
),
stats AS (SELECT round(avg(ar) - 0.05, 8) AS cut, sum(len) AS n_total
          FROM per_doc)
SELECT source, count(*)::BIGINT AS n_docs,
  round(avg(ar) - ln(min(n_total)), 4) AS avg_logprob,
  sum((ar < cut)::BIGINT)::BIGINT AS n_low_quality
FROM per_doc, stats
GROUP BY source
"""

# Z-order layout audit: the oracle regenerates the identical Morton
# interleave via the same magic-number bit spread as
# operators/layout.py::_spread16 (4 shift-or-mask rounds per operand).
def _spread16_sql(v: str) -> str:
    e = v
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                        (2, 0x33333333), (1, 0x55555555)):
        e = f"((({e}) | (({e}) << {shift})) & {mask})"
    return e


_MORTON_SQL = f"{_spread16_sql('x')} + ({_spread16_sql('y')} << 1)"
ORACLE["zorder_layout"] = f"""
WITH base AS (
  SELECT user_id, floor(epoch(ts) / 3600)::BIGINT AS hour FROM events
),
stats AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
                 min(hour) AS h0, max(hour) AS h1 FROM base),
keyed AS (
  SELECT ((user_id - u0) * 256 // (u1 - u0 + 1)) AS x,
         ((hour - h0) * 256 // (h1 - h0 + 1)) AS y
  FROM base, stats
),
zed AS (SELECT x, y, (@MORTON@)::BIGINT AS zval FROM keyed)
SELECT (zval >> 11)::BIGINT AS file_id, count(*)::BIGINT AS n_rows,
  min(x)::BIGINT AS min_x, max(x)::BIGINT AS max_x,
  min(y)::BIGINT AS min_y, max(y)::BIGINT AS max_y
FROM zed GROUP BY 1
""".replace("@MORTON@", _MORTON_SQL)

# Near-dup-aware split guard: cluster-keyed split assignment (recursive
# CC over the exact-Jaccard edges) vs naive per-doc hash, with straddle
# counts. grouped_leak_pairs = 0 is the operator's contract.
ORACLE["split_leakage_guard"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")},
assigned AS (
  SELECT doc_id, component AS comp,
    CASE WHEN {h60_sql("doc_id::VARCHAR")} % 10 < 8 THEN 'train'
         WHEN {h60_sql("doc_id::VARCHAR")} % 10 < 9 THEN 'val'
         ELSE 'test' END AS naive_split,
    CASE WHEN {h60_sql("component::VARCHAR")} % 10 < 8 THEN 'train'
         WHEN {h60_sql("component::VARCHAR")} % 10 < 9 THEN 'val'
         ELSE 'test' END AS grouped_split
  FROM comp
),
audited AS (
  SELECT a1.naive_split AS n1, a1.grouped_split AS g1,
         a2.naive_split AS n2, a2.grouped_split AS g2
  FROM j JOIN assigned a1 ON j.id1 = a1.doc_id
         JOIN assigned a2 ON j.id2 = a2.doc_id
),
leaks AS (
  SELECT coalesce(sum((n1 <> n2)::BIGINT), 0)::BIGINT AS naive_leak_pairs,
         coalesce(sum((g1 <> g2)::BIGINT), 0)::BIGINT AS grouped_leak_pairs
  FROM audited
),
counts AS (
  SELECT count(*)::BIGINT AS n_docs, count(DISTINCT comp)::BIGINT AS n_clusters,
         sum((grouped_split = 'train')::BIGINT)::BIGINT AS n_train_grouped
  FROM assigned
)
SELECT n_docs, n_clusters, n_train_grouped, naive_leak_pairs, grouped_leak_pairs
FROM counts, leaks
"""

# Audio modality: real RIFF/WAVE chunk-walk decode; the oracle computes
# the expected metadata from the deterministic payload recipe (rate
# cycles 8k/16k/44.1k by doc_id % 3, n_samples = text bytes * 10), so
# any parser bug breaks the hash — same contract as multimodal_decode.
ORACLE["audio_meta"] = """
WITH b AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END)::BIGINT
      AS sample_rate,
    (octet_length(encode(text)) * 10)::BIGINT AS n_samples
  FROM documents
)
SELECT doc_id, sample_rate, 1::BIGINT AS channels, 16::BIGINT AS bits,
  n_samples, round(n_samples * 1000.0 / sample_rate, 3) AS duration_ms
FROM b
"""

# Round-5 scale-path assembly: LM-quality gate -> span dedup + rebuild
# -> Bloom decontamination ON THE REBUILT TEXT -> per-source ledger.
# Every hash is md5-derived, so the chain is hash-comparable end to end.
ORACLE["pipeline_pretrain_scale"] = f"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
tok AS (SELECT doc_id, source, unnest(t) AS tk FROM toks WHERE NOT {is_bench_sql('doc_id')}),
vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
total AS (SELECT sum(c) AS n_total FROM vocab),
scored AS (
  SELECT doc_id, source, avg(ln(c * 1.0 / n_total)) AS score
  FROM tok JOIN vocab USING (tk), total GROUP BY 1, 2
),
cut AS (SELECT avg(score) - 0.05 AS cut FROM scored),
kept_q AS (SELECT doc_id, source FROM scored, cut WHERE score >= cut),
chunks AS (
  SELECT t.doc_id, t.source, x.i AS chunk_idx,
    array_to_string(t.t[x.s:x.s+7], ' ') AS chunk
  FROM toks t JOIN kept_q k USING (doc_id),
    LATERAL (SELECT unnest(generate_series(1, len(t.t), 8)) AS s,
                    unnest(generate_series(0, (len(t.t)-1)//8)) AS i) x
  WHERE len(t.t) > 0
),
hashed AS (SELECT *, {h60_sql("chunk")} AS h FROM chunks),
keptc AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn FROM hashed),
rebuilt AS (
  SELECT doc_id, source, sum((rn = 1)::BIGINT) AS n_kept,
    string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1) AS rebuilt
  FROM keptc GROUP BY 1, 2 HAVING sum((rn = 1)::BIGINT) > 0
),
bgrams AS (
  SELECT DISTINCT doc_id, unnest({ngrams_sql('t', BENCH_BLOOM_N)}) AS g
  FROM toks
  WHERE {is_bench_sql('doc_id')}
),
bitmap AS ({bloom_bitmap_sql("bgrams", "g", BENCH_BLOOM_BITS)}),
rt AS (SELECT doc_id, source, n_kept, string_split(rebuilt, ' ') AS rt FROM rebuilt),
rgrams AS (
  SELECT DISTINCT doc_id, unnest({ngrams_sql('rt', BENCH_BLOOM_N)}) AS g
  FROM rt
),
rprobes AS ({bloom_probes_sql("rgrams", "g", BENCH_BLOOM_BITS,
                              "doc_id, g")}),
pg AS ({bloom_hit_sql("rprobes", "bitmap", "doc_id, g", "hit")}),
contam AS (SELECT doc_id, max(hit) AS cont FROM pg GROUP BY 1),
final AS (
  SELECT r.doc_id, r.source, len(r.rt) AS ntok, coalesce(c.cont, 0) AS cont
  FROM rt r LEFT JOIN contam c USING (doc_id)
),
n_in AS (SELECT source, count(*) AS n_in FROM documents WHERE NOT {is_bench_sql('doc_id')} GROUP BY source),
n_q AS (SELECT source, count(*) AS n_quality FROM kept_q GROUP BY source),
outp AS (
  SELECT source, count(*) AS n_dedup, sum((cont = 0)::BIGINT) AS n_clean,
    sum(CASE WHEN cont = 0 THEN ntok ELSE 0 END) AS final_tokens
  FROM final GROUP BY source
)
SELECT i.source, i.n_in::BIGINT AS n_in,
  coalesce(q.n_quality, 0)::BIGINT AS n_quality,
  coalesce(o.n_dedup, 0)::BIGINT AS n_dedup,
  coalesce(o.n_clean, 0)::BIGINT AS n_clean,
  coalesce(o.final_tokens, 0)::BIGINT AS final_tokens
FROM n_in i LEFT JOIN n_q q USING (source) LEFT JOIN outp o USING (source)
"""

# Feature-hashing document vectors: md5-bucket counts, portable on both
# engines; argmax tie-break = lowest bucket on both sides.
ORACLE["doc_hash_embedding"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS_SQL}) AS tk FROM documents),
cells AS (
  SELECT doc_id, {h60_sql("tk")} % 32 AS b,
         count(*) AS v
  FROM tok GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, b, v,
    row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, b ASC) AS rn
  FROM cells
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS nnz,
    round(sqrt(sum(v * v)), 4) AS l2norm
  FROM cells GROUP BY doc_id
)
SELECT a.doc_id, a.nnz, a.l2norm, r.b::BIGINT AS top_bucket
FROM agg a JOIN ranked r ON a.doc_id = r.doc_id AND r.rn = 1
"""

ORACLE["mode_median_aggs"] = """
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS cnt
  FROM customer GROUP BY 1, 2
),
winners AS (
  SELECT c_mktsegment, min(c_nationkey) AS mode_nation
  FROM (
    SELECT c_mktsegment, c_nationkey, cnt,
      max(cnt) OVER (PARTITION BY c_mktsegment) AS mx
    FROM counts
  ) WHERE cnt = mx
  GROUP BY c_mktsegment
),
base AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n,
    round(median(c_acctbal), 2) AS median_bal
  FROM customer GROUP BY 1
)
SELECT b.c_mktsegment, b.n, w.mode_nation::BIGINT AS mode_nation, b.median_bal
FROM base b JOIN winners w USING (c_mktsegment)
"""

ORACLE["try_arithmetic"] = """
WITH t AS (
  SELECT o_orderstatus,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
         ELSE o_totalprice / (o_orderkey % 7) END AS per_bucket,
    CASE WHEN o_orderkey > 0 THEN NULL
         ELSE o_orderkey + 9223372036854775807 END AS overflow_add,
    try_cast(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS BIGINT) AS priority_num
  FROM orders
)
SELECT o_orderstatus, count(*)::BIGINT AS n,
  sum((per_bucket IS NULL)::BIGINT)::BIGINT AS n_div_by_zero,
  sum((overflow_add IS NULL)::BIGINT)::BIGINT AS n_overflow,
  round(avg(priority_num), 2) AS avg_priority_num
FROM t GROUP BY o_orderstatus
"""

# The custom Python data source's generation recipe, replayed in SQL:
# word i of doc d = WORDS[md5(d||'|'||i)[:4] % 19], n_tokens =
# 8 + md5(d)[:2] % 9 — identical md5 arithmetic on both engines.
ORACLE["pyds_custom_source"] = """
WITH ids AS (SELECT unnest(generate_series(50, 149)) AS doc_id),
tok AS (
  SELECT ids.doc_id, x.i,
    (['key','agg','row','scan','slow','fast','table','value','part','hash',
      'merge','batch','spark','line','sort','window','shuffle','join','filter'])
    [ (('0x' || substr(md5(ids.doc_id || '|' || x.i), 1, 4))::UBIGINT::BIGINT % 19) + 1 ] AS w
  FROM ids, LATERAL (
    SELECT unnest(generate_series(0,
      8 + ('0x' || substr(md5(ids.doc_id::VARCHAR), 1, 2))::UBIGINT::BIGINT % 9 - 1)) AS i) x
),
docs AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text FROM tok GROUP BY doc_id)
SELECT doc_id, length(text)::BIGINT AS n_chars,
  (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens
FROM docs
"""

# Polymorphic UDTF twin: unpivot the three measures, rank desc with the
# eval()'s stable-sort tie order (qty before price before disc).
ORACLE["udtf_polymorphic_topn"] = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, max(l_quantity)::DOUBLE AS qty,
         max(l_extendedprice)::DOUBLE AS price,
         max(l_discount)::DOUBLE AS disc
  FROM lineitem WHERE l_orderkey < 50 GROUP BY 1, 2
),
m AS (
  SELECT l_orderkey, l_linenumber, measure, val,
    row_number() OVER (
      PARTITION BY l_orderkey, l_linenumber
      ORDER BY val DESC,
        CASE measure WHEN 'qty' THEN 1 WHEN 'price' THEN 2 ELSE 3 END
    )::INT AS rank
  FROM (
    SELECT l_orderkey, l_linenumber, 'qty' AS measure, qty AS val FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', price FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc', disc FROM li
  )
)
SELECT l_orderkey, l_linenumber, rank, measure,
  round(val, 2) AS top2_value
FROM m WHERE rank <= 2
"""

ORACLE["arrow_normalize_embeddings"] = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT vec_id, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
             e[1] AS x0 FROM v)
SELECT vec_id, round(nrm, 4) AS l2norm,
  round(CASE WHEN nrm = 0 THEN 0.0 ELSE x0 / nrm END, 6) AS first_component
FROM n
"""

ORACLE["events_funnel"] = """
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*)::BIGINT AS n_users,
  sum((t_view IS NOT NULL)::BIGINT)::BIGINT AS n_viewed,
  sum((t_view IS NOT NULL AND t_click > t_view)::BIGINT)::BIGINT
    AS n_clicked_after_view,
  sum((t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click)::BIGINT)::BIGINT
    AS n_purchased_after_click,
  round(sum((t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click)::BIGINT)
        * 1.0 / sum((t_view IS NOT NULL)::BIGINT), 4) AS conversion
FROM per_user
"""

ORACLE["events_retention_cohorts"] = """
WITH weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id)
SELECT cohort_wk::DATE::VARCHAR AS cohort_week,
  (date_diff('day', cohort_wk, wk) // 7)::BIGINT AS week_offset,
  count(DISTINCT w.user_id)::BIGINT AS n_users
FROM weeks w JOIN first USING (user_id)
WHERE date_diff('day', cohort_wk, wk) // 7 <= 4
GROUP BY 1, 2
"""

# The flagship n-gram applied to event sequences within sessions
# (SESSIONIZED_SQL, sessionize's twin).
ORACLE["events_session_bigrams"] = f"""
WITH {SESSIONIZED_SQL},
seqs AS (
  SELECT user_id, session_id,
    list(event_type ORDER BY ts, event_id) AS types
  FROM sessionized GROUP BY user_id, session_id
),
bigrams AS (
  SELECT types[i] || ' ' || types[i + 1] AS bigram
  FROM seqs, LATERAL (SELECT unnest(generate_series(1, len(types) - 1)) AS i) x
)
SELECT bigram, count(*)::BIGINT AS cnt
FROM bigrams GROUP BY bigram
ORDER BY cnt DESC, bigram LIMIT 20
"""

# Degree-oriented triangle count (Suri & Vassilvitskii orientation):
# every triangle counted exactly once at its minimum-(degree, id) vertex.
ORACLE["triangle_count_dedup_graph"] = f"""
WITH {_jaccard_pairs(0.8)},
{_triangles_sql("jac")}
SELECT count(*)::BIGINT AS n_triangles,
  count(DISTINCT (u, v, w))::BIGINT AS n_distinct_triangles
FROM tri
"""

ORACLE["events_anomaly_zscore"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hr, n,
    avg(n) OVER w AS mu,
    stddev_pop(n) OVER w AS sigma,
    count(n) OVER w AS n_hist
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hr::VARCHAR AS hour, n::BIGINT AS n,
  round(mu, 4) AS mu,
  round(CASE WHEN sigma = 0 THEN (CASE WHEN n = mu THEN 0.0 END)
             ELSE (n - mu) / sigma END, 4) AS z,
  (abs(coalesce(CASE WHEN sigma = 0 THEN (CASE WHEN n = mu THEN 0.0 END)
                     ELSE (n - mu) / sigma END, 0.0)) > 3.0) AS is_anomaly
FROM scored
WHERE n_hist >= 3
  AND abs(coalesce(CASE WHEN sigma = 0 THEN (CASE WHEN n = mu THEN 0.0 END)
                        ELSE (n - mu) / sigma END, 0.0)) > 3.0
"""


# Collocation mining: top-k bigrams by PMI (Church & Hanks). Same
# tokenizer macro, ln ratio of joint to independent unigram estimates,
# 6 dp rounding both engines, full-key ordering so LIMIT is stable.
ORACLE["bigram_pmi_collocations"] = f"""
WITH toks AS (SELECT {TOKS_SQL} AS t FROM documents),
uc AS (SELECT w, count(*) AS cw FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
),
bc AS (SELECT w1, w2, count(*) AS cab FROM big GROUP BY w1, w2
       HAVING count(*) >= 5),
tot AS (SELECT sum(len(t)) AS n_uni, sum(greatest(len(t)-1, 0)) AS n_big
        FROM toks)
SELECT w1, w2, cab::BIGINT AS n_pair,
  round(ln((cab * 1.0 / n_big)
           / ((c1.cw * 1.0 / n_uni) * (c2.cw * 1.0 / n_uni))), 6) AS pmi
FROM bc JOIN uc c1 ON bc.w1 = c1.w JOIN uc c2 ON bc.w2 = c2.w, tot
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""

# Interpolated bigram LM perplexity filter: same tokenizer macro, the
# per-(doc, bigram) table is the shared base for every statistic, the
# per-bigram log-prob is a smooth function of exact integer counts, and
# the doc score is rounded to 6 dp before the top-k ordering (doc_id
# tie-break) — mirrors operators/textstats.py::bigram_lm_quality.
ORACLE["bigram_lm_quality"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
big AS (
  SELECT doc_id, unnest({ngrams_sql('t', 2)}) AS bg FROM tt
),
pd AS (SELECT doc_id, bg, count(*) AS cdt FROM big GROUP BY doc_id, bg),
bc AS (SELECT bg, sum(cdt) AS cab,
              string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
       FROM pd GROUP BY bg),
ctx AS (SELECT w1, sum(cab) AS cctx FROM bc GROUP BY w1),
uni AS (SELECT w2, count(*) AS cw
        FROM (SELECT unnest(t) AS w2 FROM tt) GROUP BY w2),
tot AS (SELECT sum(len(t)) AS n_uni FROM tt),
lp AS (
  SELECT bg, ln(0.7 * cab / cctx + 0.3 * cw / n_uni) AS lp
  FROM bc JOIN ctx USING (w1) JOIN uni USING (w2), tot
),
sc AS (
  SELECT doc_id, sum(cdt * lp) / sum(cdt) AS score, sum(cdt) AS nb
  FROM pd JOIN lp USING (bg) GROUP BY doc_id
)
SELECT doc_id, nb::BIGINT AS n_bigrams, round(score, 6) AS bigram_lp
FROM sc ORDER BY round(score, 6), doc_id LIMIT 50
"""

# dHash near-dup: identical stub decode (72 sampled codepoints mod 256),
# identical bit/band packing (bit n -> grid r = n//8, c = n%8; band =
# 16-bit little-endian slices), band-bucket candidate join, exact
# bit_count verify — integer arithmetic end to end, so this reproduces
# operators/multimodal.py::image_dhash_neardup bit-for-bit.
ORACLE["image_dhash_neardup"] = """
WITH g AS (
  SELECT doc_id, k,
         unicode(substring(text, ((k * length(text)) // 72) + 1, 1)) % 256 AS v
  FROM documents, LATERAL (SELECT unnest(generate_series(0, 71)) AS k) s
  WHERE length(text) >= 1
),
bits AS (
  SELECT a.doc_id, ((a.k // 9) * 8 + (a.k % 9)) AS n, (b.v > a.v)::INT AS bit
  FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.k = a.k + 1
  WHERE a.k % 9 < 8
),
h AS (
  SELECT doc_id,
    sum(CASE WHEN n < 16 THEN bit << n ELSE 0 END)::BIGINT AS b0,
    sum(CASE WHEN n BETWEEN 16 AND 31 THEN bit << (n - 16) ELSE 0 END)::BIGINT AS b1,
    sum(CASE WHEN n BETWEEN 32 AND 47 THEN bit << (n - 32) ELSE 0 END)::BIGINT AS b2,
    sum(CASE WHEN n >= 48 THEN bit << (n - 48) ELSE 0 END)::BIGINT AS b3
  FROM bits GROUP BY doc_id
),
c AS (
  SELECT doc_id, b0, b1, b2, b3, band,
         CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS val
  FROM h, LATERAL (SELECT unnest(generate_series(0, 3)) AS band) t
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM c x JOIN c y ON x.band = y.band AND x.val = y.val
                    AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
  (bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
   + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3)))::BIGINT AS hamming
FROM cand
JOIN h ha ON cand.doc_a = ha.doc_id
JOIN h hb ON cand.doc_b = hb.doc_id
WHERE (bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
       + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))) <= 3
"""

# Okapi BM25 (Lucene +1 idf variant): tf/df/dl/N are exact integers,
# score rounded to 6 dp before the top-k ordering (doc_id tie-break) —
# mirrors operators/textstats.py::bm25_search (k1=1.2, b=0.75).
ORACLE["bm25_search"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
qt AS (
  SELECT doc_id, w AS term
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
  WHERE w IN ('spark', 'window', 'join')
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
sc AS (
  SELECT tf.doc_id, count(*) AS n_terms,
         sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms::BIGINT AS n_terms, round(score, 6) AS bm25
FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 20
"""

# Token Shannon entropy H = ln(n) - sum(c ln c)/n over exact integer
# counts; Pielou evenness H/ln(d), defined 0 for single-token docs —
# mirrors operators/textstats.py::token_entropy_quality.
ORACLE["token_entropy_quality"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
cnt AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id, w
),
pd AS (
  SELECT doc_id, sum(c) AS n, count(*) AS d, sum(c * ln(c)) AS clnc
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n::BIGINT AS n_tokens, d::BIGINT AS n_distinct,
       round(ln(n) - clnc / n, 6) AS token_entropy,
       CASE WHEN d > 1 THEN round((ln(n) - clnc / n) / ln(d), 6)
            ELSE 0.0 END AS evenness
FROM pd ORDER BY round(ln(n) - clnc / n, 6), doc_id LIMIT 50
"""

# Pairwise Jensen-Shannon divergence between language unigram
# distributions: identical pivoted integer counts, identical smooth
# fold, rounded 6 dp in the output only (row identity is the lang
# pair) — mirrors operators/datamix.py::jsd_lang_divergence.
_JSD_LANGS = ("de", "en", "es", "fr", "zh")
_JSD_PAIRS = [(a, b) for i, a in enumerate(_JSD_LANGS)
              for b in _JSD_LANGS[i + 1:]]


def _jsd_pair_select(a: str, b: str) -> str:
    p = f"(c_{a} / n_{a})"
    q = f"(c_{b} / n_{b})"
    m = f"(({p} + {q}) / 2)"
    term = (f"CASE WHEN c_{a} > 0 THEN 0.5 * {p} * ln({p} / {m}) ELSE 0 END"
            f" + CASE WHEN c_{b} > 0 THEN 0.5 * {q} * ln({q} / {m}) ELSE 0 END")
    return (f"SELECT '{a}' AS lang_a, '{b}' AS lang_b,"
            f" round(sum({term}), 6) AS jsd,"
            f" sum((c_{a} > 0 OR c_{b} > 0)::INT)::BIGINT AS n_union"
            f" FROM wide, tot")


ORACLE["jsd_lang_divergence"] = f"""
WITH toks AS (SELECT lang, {TOKS_SQL} AS t FROM documents),
wide AS (
  SELECT w AS t,
         {", ".join(f"count(*) FILTER (lang = '{l}') AS c_{l}"
                    for l in _JSD_LANGS)}
  FROM (SELECT lang, unnest(t) AS w FROM toks) GROUP BY w
),
tot AS (SELECT {", ".join(f"sum(c_{l}) AS n_{l}" for l in _JSD_LANGS)}
        FROM wide)
{" UNION ALL ".join(_jsd_pair_select(a, b) for a, b in _JSD_PAIRS)}
"""

# Hard-negative mining: exact cosine (identical left-to-right fold),
# unrounded ranking with nid tie-break, label-mismatch predicate before
# the window — mirrors operators/similarity.py::hard_negative_mining.
ORACLE["hard_negative_mining"] = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe FROM v WHERE vec_id < 25),
scored AS (
  SELECT qid, v.vec_id AS nid, v.label::BIGINT AS neg_label,
    list_dot_product(qe, e)
      / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS score
  FROM q, v WHERE v.label <> qlabel
),
ranked AS (
  SELECT qid, nid, neg_label, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid)::BIGINT AS rank
  FROM scored
)
SELECT qid, nid, neg_label, round(score, 6) AS score, rank
FROM ranked WHERE rank <= 3
"""

# Median/MAD robust outliers (Iglewicz-Hoaglin modified z-score):
# percentile(0.5) and DuckDB median share linear interpolation on
# sorted doubles, but can land ulps apart — the score is computed from
# the 4-dp-ROUNDED med/mad so both engines start the score arithmetic
# from identical doubles, and the score's 4-dp rounding is
# ``half_up_sql`` — mirrors operators/timeseries.py::events_anomaly_mad.
ORACLE["events_anomaly_mad"] = f"""
WITH ev AS (SELECT event_id, event_type, value FROM events),
med AS (SELECT event_type, median(value) AS med FROM ev GROUP BY event_type),
mad AS (
  SELECT event_type, round(any_value(med), 4) AS med,
         round(median(abs(value - med)), 4) AS mad
  FROM ev JOIN med USING (event_type) GROUP BY event_type
),
scored AS (
  SELECT event_type, event_id, round(value, 2) AS value, med, mad,
         {half_up_sql("0.6745 * (value - med) / mad", 4)} AS mad_z
  FROM ev JOIN mad USING (event_type)
  WHERE mad > 0
)
SELECT * FROM scored WHERE abs(mad_z) > 3.5
"""

# Incremental ingest dedup: exact all-pairs Jaccard oracle for the
# LSH-candidate + exact-verify path (same probabilistic-equivalence
# convention as decontaminate_fuzzy: candidates are exact-verified so
# output pairs are never false positives; P(band miss | j=0.8) ~ 8e-8).
# New batch = doc_id % 10 = 0; screen 1 drops batch docs matching the
# index (match = min corpus id), screen 2 clusters the survivors
# (recursive reachability, component = min reachable survivor id) —
# mirrors operators/dedup.py::dedup_incremental.
ORACLE["dedup_incremental"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
newdocs AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
idx_hits AS (
  SELECT CASE WHEN id1 % 10 = 0 THEN id1 ELSE id2 END AS doc_id,
         min(CASE WHEN id1 % 10 = 0 THEN id2 ELSE id1 END) AS match_id
  FROM j WHERE (id1 % 10 = 0) <> (id2 % 10 = 0)
  GROUP BY 1
),
surv AS (
  SELECT doc_id FROM newdocs
  WHERE doc_id NOT IN (SELECT doc_id FROM idx_hits)
),
spairs AS (
  SELECT id1, id2 FROM j
  WHERE id1 IN (SELECT doc_id FROM surv) AND id2 IN (SELECT doc_id FROM surv)
),
{_components("SELECT doc_id FROM surv", "spairs")}
SELECT doc_id, 'dup_of_index' AS verdict, match_id::BIGINT AS match_id
FROM idx_hits
UNION ALL
SELECT doc_id,
  CASE WHEN component <> doc_id THEN 'dup_in_batch' ELSE 'kept' END
    AS verdict,
  CASE WHEN component <> doc_id THEN component ELSE NULL END::BIGINT
    AS match_id
FROM comp
"""

# Efraimidis-Spirakis weighted sampling: u from the md5-bucket
# convention, selection key ln(u)/n_tokens rounded to 8 dp (both
# engines' ln agree to ~1 ulp; rounding collapses it below the
# comparison) — mirrors operators/datamix.py::sample_weighted.
ORACLE["sample_weighted"] = f"""
WITH d AS (
  SELECT doc_id, source,
    len({TOKS_SQL})::BIGINT AS n_tokens,
    (({h60_sql("doc_id::VARCHAR")} % 1048576)
      + 0.5) / 1048576.0 AS u
  FROM documents
)
SELECT doc_id, source, n_tokens, round(ln(u) / n_tokens, 8) AS es_key
FROM d WHERE n_tokens > 0
ORDER BY es_key DESC, doc_id LIMIT 60
"""

# TWAP over irregular samples: exact microsecond epochs (epoch_us, the
# join_self_pairs portability rule) make the weights integer-exact;
# only the final weighted mean is FP, rounded to 6 dp — mirrors
# operators/timeseries.py::events_twap_daily.
ORACLE["events_twap_daily"] = """
WITH base AS (
  SELECT event_type, date_trunc('day', ts) AS day, event_id, value,
         epoch_us(ts) AS us
  FROM events
),
d AS (
  SELECT event_type, day, value,
    coalesce(lead(us) OVER (PARTITION BY event_type, day
                            ORDER BY us, event_id),
             epoch_us(day + INTERVAL 1 DAY)) - us AS dt
  FROM base
)
SELECT event_type, day::TIMESTAMP::VARCHAR AS day,
  round(sum(value * dt) / sum(dt), 6) AS twap,
  round(avg(value), 6) AS mean_unweighted,
  count(*)::BIGINT AS n, sum(dt)::BIGINT AS covered_us
FROM d GROUP BY event_type, day
"""

# Winsorized per-type stats: envelope edges rounded to 4 dp before the
# clip so both engines clamp against identical bounds — mirrors
# operators/timeseries.py::events_winsorize_stats.
ORACLE["events_winsorize_stats"] = """
WITH env AS (
  SELECT event_type,
         round(quantile_cont(value, 0.01), 4) AS lo,
         round(quantile_cont(value, 0.99), 4) AS hi
  FROM events GROUP BY event_type
)
SELECT event_type, count(*)::BIGINT AS n,
  sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_low,
  sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_high,
  round(avg(value), 6) AS mean_raw,
  round(avg(least(greatest(value, lo), hi)), 6) AS mean_winsorized,
  any_value(lo) AS lo, any_value(hi) AS hi
FROM events JOIN env USING (event_type)
GROUP BY event_type
"""

# Equi-depth histogram: decile edges rounded to 4 dp so both engines
# bin against identical boundaries; bucket = number of edges strictly
# below the value — mirrors operators/relational.py::histogram_equidepth.
ORACLE["histogram_equidepth"] = """
WITH edges AS (
  SELECT list_transform(
    quantile_cont(o_totalprice,
      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
    e -> round(e, 4)) AS ed
  FROM orders
)
SELECT len(list_filter(ed, e -> o_totalprice > e))::BIGINT AS bucket,
  count(*)::BIGINT AS n,
  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
FROM orders, edges
GROUP BY 1
"""

# --- round-6 fourth wave: tokenizer training / index build / memorization ---

ORACLE["bpe_merge_step"] = f"""
WITH toks AS (SELECT {TOKS_SQL} AS t FROM documents),
words AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM toks, LATERAL (SELECT unnest(t) AS w) x
  WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substring(w, i, 1) || ' ' || substring(w, i + 1, 1) AS pair, wc
  FROM words, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
)
SELECT pair, sum(wc)::BIGINT AS cnt FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 50
"""

ORACLE["inverted_index_topk"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
tf AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf
  FROM toks, LATERAL (SELECT unnest(t) AS term) x
  GROUP BY term, doc_id
),
ranked AS (
  SELECT term, doc_id, tf,
    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rnk
  FROM tf
)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS tf_total,
  string_agg(CASE WHEN rnk <= 20
             THEN doc_id::VARCHAR || ':' || tf::VARCHAR END, ',' ORDER BY rnk)
    AS postings
FROM ranked GROUP BY term
ORDER BY df DESC, tf_total DESC, term LIMIT 100
"""

ORACLE["memorization_novelty"] = f"""
WITH toks AS (
  SELECT doc_id, {doc_split_sql("doc_id")} AS split, {TOKS_SQL} AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, split, unnest({ngrams_sql('t', 5)}) AS g
  FROM toks
),
train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
val_g AS (SELECT doc_id, g FROM grams WHERE split = 'val')
SELECT v.doc_id, count(*)::BIGINT AS n_grams,
  sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_seen,
  1.0 - sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) / count(*)
    AS novelty
FROM val_g v LEFT JOIN train_g tg ON v.g = tg.g
GROUP BY v.doc_id
"""

ORACLE["mixture_temperature_weights"] = rf"""
WITH per_src AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum({raw_token_count_sql("text")})::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
sh AS (
  SELECT source, n_docs, n_tokens,
         n_tokens / sum(n_tokens) OVER () AS share
  FROM per_src
),
sc AS (
  SELECT *, pow(share, 0.7) AS scaled,
         sum(pow(share, 0.7)) OVER () AS z
  FROM sh
)
SELECT source, n_docs, n_tokens,
  round(share, 6) AS natural_share,
  round(scaled / z, 6) AS weight,
  round(scaled / z * 1000, 2) AS expected_docs
FROM sc
"""

ORACLE["quantile_normalize_quality"] = rf"""
WITH base AS (
  SELECT doc_id, source,
    {raw_token_count_sql("text")}::BIGINT * 1000 / n_chars AS raw
  FROM documents
),
ranked AS (
  SELECT *, percent_rank() OVER (
    PARTITION BY source ORDER BY raw, doc_id) AS q
  FROM base
)
SELECT source, count(*)::BIGINT AS n_docs,
  round(min(raw), 6) AS raw_min,
  round(quantile_cont(raw, 0.5), 6) AS raw_p50,
  round(max(raw), 6) AS raw_max,
  sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS n_above_cut,
  round(min(CASE WHEN q >= 0.8 THEN raw END), 6) AS raw_cut_equiv
FROM ranked GROUP BY source
"""

ORACLE["ann_dim_truncation_audit"] = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
vt AS (SELECT vec_id, e[1:32] AS e FROM v),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 50),
qt AS (SELECT vec_id AS qid, e AS qe FROM vt WHERE vec_id < 50),
rf AS (
  SELECT qid, v.vec_id AS nid, row_number() OVER (PARTITION BY qid ORDER BY
    list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe))
      * sqrt(list_dot_product(e, e))) DESC, v.vec_id) AS rnk
  FROM q, v WHERE v.vec_id <> qid
),
rt AS (
  SELECT qid, vt.vec_id AS nid, row_number() OVER (PARTITION BY qid ORDER BY
    list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe))
      * sqrt(list_dot_product(e, e))) DESC, vt.vec_id) AS rnk
  FROM qt, vt WHERE vt.vec_id <> qid
),
ov AS (
  SELECT f.qid, count(*)::BIGINT AS overlap_at_k
  FROM (SELECT qid, nid FROM rf WHERE rnk <= 10) f
  JOIN (SELECT qid, nid FROM rt WHERE rnk <= 10) t
    ON f.qid = t.qid AND f.nid = t.nid
  GROUP BY f.qid
)
SELECT f.qid, f.top1_full, t.top1_trunc,
  coalesce(ov.overlap_at_k, 0)::BIGINT AS overlap_at_k
FROM (SELECT qid, max(CASE WHEN rnk = 1 THEN nid END) AS top1_full
      FROM rf GROUP BY qid) f
JOIN (SELECT qid, max(CASE WHEN rnk = 1 THEN nid END) AS top1_trunc
      FROM rt GROUP BY qid) t ON f.qid = t.qid
LEFT JOIN ov ON ov.qid = f.qid
"""

ORACLE["padding_waste_audit"] = rf"""
WITH base AS (
  SELECT doc_id, {raw_token_count_sql("text")}::BIGINT AS n,
         md5(doc_id::VARCHAR) AS shuf
  FROM documents
),
shuffled AS (
  SELECT n, floor((row_number() OVER (ORDER BY shuf, doc_id) - 1) / 32)::BIGINT AS b
  FROM base
),
sorted_len AS (
  SELECT n, floor((row_number() OVER (ORDER BY n, doc_id) - 1) / 32)::BIGINT AS b
  FROM base
),
ws AS (
  SELECT 'shuffled' AS strategy, count(*)::BIGINT AS n_batches,
    sum(tok)::BIGINT AS total_tokens,
    sum(mx * rows - tok)::BIGINT AS padding_tokens
  FROM (SELECT b, count(*) AS rows, sum(n) AS tok, max(n) AS mx
        FROM shuffled GROUP BY b)
  UNION ALL
  SELECT 'length_sorted', count(*)::BIGINT, sum(tok)::BIGINT,
    sum(mx * rows - tok)::BIGINT
  FROM (SELECT b, count(*) AS rows, sum(n) AS tok, max(n) AS mx
        FROM sorted_len GROUP BY b)
)
SELECT strategy, n_batches, total_tokens, padding_tokens,
  padding_tokens / (padding_tokens + total_tokens) AS waste_frac
FROM ws
"""

ORACLE["inbatch_collision_audit"] = """
WITH batched AS (
  SELECT source,
    floor((row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1)
          / 32)::BIGINT AS b
  FROM documents
),
per AS (SELECT b, source, count(*)::BIGINT AS c FROM batched GROUP BY b, source)
SELECT source, sum(c)::BIGINT AS n_docs,
  cast(sum(c * (c - 1) / 2) AS BIGINT) AS same_source_pairs
FROM per GROUP BY source
"""

ORACLE["sql_udf_revenue"] = """
SELECT l_returnflag, count(*)::BIGINT AS n_items,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
    AS sum_charge
FROM lineitem WHERE l_quantity < 25
GROUP BY l_returnflag
"""

ORACLE["context_window_stats"] = rf"""
WITH per AS (
  SELECT {raw_token_count_sql("text")}::BIGINT AS n, b.budget
  FROM documents, (SELECT unnest([128, 512, 2048]) AS budget) b
)
SELECT budget::BIGINT AS budget, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN n > budget THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
  sum(n)::BIGINT AS tokens_total,
  sum(least(n, budget))::BIGINT AS tokens_kept,
  sum(least(n, budget)) / sum(n) AS kept_frac
FROM per GROUP BY budget
"""

ORACLE["tokenizer_fertility"] = f"""
WITH per AS (
  SELECT lang, len({TOKS_SQL})::BIGINT AS ws,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]'))::BIGINT
      AS bpe
  FROM documents
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(ws)::BIGINT AS ws_tokens,
  sum(bpe)::BIGINT AS bpe_tokens, sum(bpe) / sum(ws) AS fertility
FROM per GROUP BY lang
"""

ORACLE["source_overlap_matrix"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT DISTINCT source, unnest({ngrams_sql('t', 8)}) AS g
  FROM toks
),
sizes AS (SELECT source, count(*)::BIGINT AS n_grams FROM grams GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared_grams
  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, shared_grams,
  shared_grams / least(sa.n_grams, sb.n_grams) AS overlap_frac
FROM pairs
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""

# Prefix-filtered exact Jaccard produces the IDENTICAL qualifying-pair
# set as the inverted-index exact op - one oracle serves both.
ORACLE["dedup_jaccard_prefix"] = ORACLE["dedup_ngram_jaccard"]

# r7: pagerank_dedup_graph converts from rows-only to hash-paired — the
# fixed iteration count (10) makes the damped fixpoint a recursive CTE,
# and the operator emits integer 1e-8 rank units so the cross-engine
# compare never touches raw double ordering. In the recursive term the
# working table (previous iteration's one-row-per-doc rank relation) is
# referenced twice: once joined to edges for the inflow sum, once in a
# scalar subquery for the dangling mass — DuckDB evaluates both against
# the same working table, which is exactly the operator's semantics.
ORACLE["pagerank_dedup_graph"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
edges AS (SELECT id1 AS src, id2 AS dst FROM j UNION ALL SELECT id2, id1 FROM j),
{_degrees_sql("j")},
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
pr(it, doc_id, rank) AS (
  SELECT 0, doc_id, 1.0/(SELECT n FROM nd) FROM documents
  UNION ALL
  SELECT p.it + 1, d.doc_id,
    (1-0.85)/(SELECT n FROM nd)
    + 0.85 * (COALESCE(i.inflow, 0)
              + (SELECT COALESCE(sum(r2.rank), 0) FROM pr r2
                 LEFT JOIN deg dg2 ON r2.doc_id = dg2.v
                 WHERE dg2.v IS NULL) / (SELECT n FROM nd))
  FROM documents d
  CROSS JOIN (SELECT DISTINCT it FROM pr) p
  LEFT JOIN (
    SELECT e.dst AS doc_id, sum(r.rank / dg.d) AS inflow
    FROM pr r JOIN deg dg ON r.doc_id = dg.v
              JOIN edges e ON r.doc_id = e.src
    GROUP BY e.dst
  ) i ON d.doc_id = i.doc_id
  WHERE p.it < 10
)
SELECT doc_id, {fixed_sql("rank", 8)} AS rank_e8,
  row_number() OVER (ORDER BY {fixed_sql("rank", 8)} DESC, doc_id) AS rk
FROM pr WHERE it = 10
ORDER BY rk LIMIT 50
"""

# r7: mmr_diversified_topk converts from rows-only to hash-paired — the
# greedy argmax chain IS expressible: each recursion step carries the
# per-query selected-id list and picks the argmax of
# lam*rel - (1-lam)*max_selected(sim) via a windowed rank over the
# remaining pool (ties -> lowest nid, same as the operator's numpy
# tie-break). Pool, relevance rounding (6 dp BEFORE the greedy) and the
# unit-vector similarity all mirror the operator's arithmetic.
ORACLE["mmr_diversified_topk"] = f"""
WITH RECURSIVE
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
    round(list_dot_product(q.qv, e.embedding::DOUBLE[])
      / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
         * sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)))), 6) AS rel
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
),
pool AS (
  SELECT qid, nid, rel FROM (
    SELECT qid, nid, rel, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
    FROM scored) WHERE rn <= 20
),
unit AS (
  SELECT vec_id AS nid,
    list_transform(embedding::DOUBLE[],
      x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y)))) AS u
  FROM embeddings
),
sims AS (
  SELECT a.qid, a.nid AS n1, b.nid AS n2, list_dot_product(ua.u, ub.u) AS s
  FROM pool a JOIN pool b USING (qid)
  JOIN unit ua ON ua.nid = a.nid JOIN unit ub ON ub.nid = b.nid
),
sel(qid, step, nid, rel, mmr, picked) AS (
  SELECT qid, 1, nid, rel, 0.7*rel, [nid] FROM (
    SELECT qid, nid, rel,
      row_number() OVER (PARTITION BY qid ORDER BY 0.7*rel DESC, nid) AS rn
    FROM pool) WHERE rn = 1
  UNION ALL
  SELECT qid, step, nid, rel, obj, list_append(picked, nid) FROM (
    SELECT s.qid, s.step + 1 AS step, c.nid, c.rel,
      0.7*c.rel - 0.3 * (
        SELECT max(s2.s) FROM sims s2
        WHERE s2.qid = c.qid AND s2.n1 = c.nid
          AND list_contains(s.picked, s2.n2)) AS obj,
      s.picked,
      row_number() OVER (PARTITION BY s.qid ORDER BY
        0.7*c.rel - 0.3 * (
          SELECT max(s2.s) FROM sims s2
          WHERE s2.qid = c.qid AND s2.n1 = c.nid
            AND list_contains(s.picked, s2.n2)) DESC, c.nid) AS rn
    FROM sel s JOIN pool c
      ON c.qid = s.qid AND NOT list_contains(s.picked, c.nid)
    WHERE s.step < 10
  ) WHERE rn = 1
)
SELECT qid, nid, {fixed_sql("rel", 6)} AS relevance_e6,
  {fixed_sql("mmr", 6)} AS mmr_e6, step::BIGINT AS rank
FROM sel
"""

# r7: heavy_hitters_cms converts from rows-only to hash-paired — the
# sketch's cell hash switched from JVM-only xxhash64 to the repo's
# md5-bucket convention, so DuckDB rebuilds the bit-identical
# depth x width counter table and the min-over-rows estimates are exact
# integers on both engines.
ORACLE["heavy_hitters_cms"] = f"""
WITH toks AS (
  SELECT unnest({TOKS_SQL}) AS term FROM documents
),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
sketch AS (
  SELECT d, {h60_sql("d::VARCHAR || ':' || term")} % 256 AS c,
         count(*) AS cnt
  FROM toks CROSS JOIN ds GROUP BY 1, 2
),
terms AS (SELECT DISTINCT term FROM toks),
est AS (
  SELECT t.term, min(s.cnt)::BIGINT AS est
  FROM terms t CROSS JOIN ds
  JOIN sketch s ON s.d = ds.d
   AND s.c = {h60_sql("ds.d::VARCHAR || ':' || t.term")} % 256
  GROUP BY t.term
)
SELECT term, est FROM est ORDER BY est DESC, term LIMIT 20
"""

# r7: video_meta — the oracle replays the deterministic MP4 payload
# recipe (same convention as audio_meta's RIFF recipe-replay).
ORACLE["video_meta"] = """
WITH b AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END)::BIGINT
      AS timescale,
    (octet_length(encode(text)) * 5)::BIGINT AS duration,
    (1 + doc_id % 2)::BIGINT AS n_tracks,
    (16 * (1 + doc_id % 5))::BIGINT AS width,
    (16 * (1 + doc_id % 4))::BIGINT AS height
  FROM documents
)
SELECT doc_id, timescale, duration, n_tracks, width, height,
  duration * 1000 // timescale AS duration_ms
FROM b
"""

# r7: gopher_dup_ngrams — the within-doc duplicated-5-gram coverage
# fraction (token-unit, integer micro-units, truncating int division).
ORACLE["gopher_dup_ngrams"] = f"""
WITH toks AS (
  SELECT doc_id, source, {TOKS_SQL} AS t FROM documents
),
tt AS (SELECT doc_id, source, t FROM toks WHERE len(t) >= 5),
nt AS (SELECT doc_id, source, len(t)::BIGINT AS n_tokens FROM tt),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS g
  FROM tt, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) x
),
dup_pos AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, g) AS cnt
    FROM grams) WHERE cnt >= 2
),
covered AS (
  SELECT doc_id, count(DISTINCT idx) AS cov
  FROM dup_pos, LATERAL (SELECT unnest(generate_series(pos, pos + 4)) AS idx) x
  GROUP BY doc_id
),
per_doc AS (
  SELECT source, (coalesce(cov, 0) * 1000000) // n_tokens AS frac_e6
  FROM nt LEFT JOIN covered USING (doc_id)
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum((frac_e6 > 200000)::BIGINT)::BIGINT AS n_flagged,
  sum(frac_e6)::BIGINT AS sum_dup_frac_e6
FROM per_doc GROUP BY source
"""

# r7: kneser_ney_quality — interpolated KN bigram LM, discount 0.75.
# The arithmetic mirrors the Spark expression operand-for-operand so
# both engines build identical per-bigram doubles from identical
# integer counts; the doc score is emitted in integer micro-units.
ORACLE["kneser_ney_quality"] = f"""
WITH toks AS (
  SELECT doc_id, {TOKS_SQL} AS t FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
per_doc AS (
  SELECT doc_id, bg, count(*) AS cdt
  FROM (SELECT doc_id, unnest({ngrams_sql('t', 2)}) AS bg FROM tt)
  GROUP BY doc_id, bg
),
bc AS (
  SELECT bg, sum(cdt) AS cab,
    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM per_doc GROUP BY bg
),
ctx AS (SELECT w1, sum(cab) AS cctx, count(*) AS n1p_fwd FROM bc GROUP BY w1),
cont AS (SELECT w2, count(*) AS n1p_bwd FROM bc GROUP BY w2),
totals AS (SELECT count(*) AS n1p_all FROM bc),
lp AS (
  SELECT bg, ln((cab - 0.75) / cctx
                + 0.75 * n1p_fwd / cctx * (n1p_bwd * 1.0 / n1p_all)) AS lp
  FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN totals
),
scored AS (
  SELECT doc_id, sum(cdt * lp) / sum(cdt) AS score, sum(cdt)::BIGINT AS nb
  FROM per_doc JOIN lp USING (bg) GROUP BY doc_id
)
SELECT doc_id, nb AS n_bigrams, {fixed_sql("score", 6)} AS kn_lp_e6
FROM scored ORDER BY kn_lp_e6, doc_id LIMIT 50
"""

# r7: dedup_cluster_size_histogram — the same recursive-CTE component
# oracle as dedup_components_star, rolled up to a size histogram.
ORACLE["dedup_cluster_size_histogram"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")},
sizes AS (SELECT component, count(*) AS k FROM comp GROUP BY component)
SELECT k::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters,
  (k * count(*))::BIGINT AS n_docs,
  ((k - 1) * count(*))::BIGINT AS docs_removed_if_keep_one
FROM sizes GROUP BY k
"""

# r7: embedding_dim_stats — float32 inputs make the float64 sum exact
# (24-bit mantissas, 24 + log2(N) < 53), so sum/mean are
# order-independent and bit-identical across engines; the mean uses the
# same multiply-first integer emission as the rest of the fleet.
ORACLE["embedding_dim_stats"] = f"""
WITH cells AS (
  SELECT g.i - 1 AS dim, embedding[g.i]::DOUBLE AS x
  FROM embeddings, LATERAL (
    SELECT unnest(generate_series(1, len(embedding))) AS i) g
)
SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
  {fixed_sql("sum(x) * 1e6 / count(*)", 0)} AS mean_e6,
  min(x) AS min_x, max(x) AS max_x,
  sum((x = 0.0)::BIGINT)::BIGINT AS n_zero
FROM cells GROUP BY dim
"""

# r7: seq_packing converts from rows-only to hash-paired — first-fit
# runs as a lockstep recursive CTE (one doc per (source, bucket) group
# per iteration, bins' remaining capacities carried as a list, first
# fitting index via list_position; recursion depth = largest group).
ORACLE["seq_packing"] = f"""
WITH RECURSIVE
sized AS (
  SELECT source, doc_id,
    ({h60_sql("doc_id::VARCHAR")} % 8)::INT
      AS bucket,
    least({raw_token_count_sql("text")}, 512)::BIGINT AS t
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id)
    AS rn
  FROM sized
),
ff(source, bucket, rn, doc_id, t, pack_idx, bins) AS (
  SELECT source, bucket, rn, doc_id, t, 0, [512 - t]::BIGINT[]
  FROM ranked WHERE rn = 1
  UNION ALL
  -- not-found: DuckDB's list_position returns 0 (some builds NULL)
  SELECT r.source, r.bucket, r.rn, r.doc_id, r.t,
    CASE WHEN fit IS NULL OR fit = 0 THEN len(f.bins) ELSE fit - 1 END,
    CASE WHEN fit IS NULL OR fit = 0 THEN list_append(f.bins, 512 - r.t)
         ELSE f.bins[1:fit-1] || [f.bins[fit] - r.t] || f.bins[fit+1:] END
  FROM ff f
  JOIN ranked r
    ON r.source = f.source AND r.bucket = f.bucket AND r.rn = f.rn + 1,
  LATERAL (SELECT list_position(list_transform(f.bins, x -> x >= r.t), true)
           AS fit) z
)
SELECT source, (pack_idx * 8 + bucket)::BIGINT AS pack_id,
  count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS pack_tokens
FROM ff GROUP BY source, pack_id
"""

# r7: asof_join_nearest — pandas merge_asof(direction='nearest',
# tolerance=7d) semantics; distances in exact integer microseconds,
# equidistant ties to the backward order ('back' < 'fwd' sorts first).
ORACLE["asof_join_nearest"] = """
SELECT e.event_id, e.user_id,
  o.o_orderdate::TIMESTAMP::VARCHAR AS nearest_order_date,
  o.direction, o.dist_us
FROM events e LEFT JOIN LATERAL (
  SELECT o_orderdate,
    CASE WHEN epoch_us(o_orderdate::TIMESTAMP) <= epoch_us(e.ts)
         THEN 'back' ELSE 'fwd' END AS direction,
    abs(epoch_us(e.ts) - epoch_us(o_orderdate::TIMESTAMP))::BIGINT AS dist_us
  FROM orders
  WHERE o_custkey = e.user_id
    AND abs(epoch_us(e.ts) - epoch_us(o_orderdate::TIMESTAMP))
        <= 604800000000
  ORDER BY dist_us, direction LIMIT 1
) o ON true
"""

# r7b: hll_portable_union — the hash-paired HLL twin: the portable HLL
# registers and estimator in their SQL form. DuckDB's sum(BIGINT)
# widens to HUGEINT; the cast to DOUBLE rounds the same exact integer
# to the same nearest double as Spark's BIGINT cast.
ORACLE["hll_portable_union"] = f"""
WITH occ AS (SELECT source, unnest({TOKS_SQL}) AS tk FROM documents),
toks AS (SELECT DISTINCT source, tk FROM occ),
h AS (SELECT source, {h60_sql("tk")} AS hv FROM toks),
rb AS (SELECT source, {hll_rho_sql()} FROM h),
regs AS (SELECT source, bucket, max(rho) AS r FROM rb GROUP BY 1, 2),
uregs AS (SELECT '__all__' AS source, bucket, max(r) AS r
          FROM regs GROUP BY 2),
allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM uregs),
est AS (
  SELECT source, {hll_partials_sql("*")}
  FROM allregs GROUP BY source
)
SELECT source, n_hit::BIGINT AS n_buckets_hit,
  {hll_estimate_sql()} AS est_distinct
FROM est
"""
ORACLE["hll_union_sources"] = f"""
SELECT source, est_distinct FROM ({ORACLE["hll_portable_union"]})
"""

# Distinct users per event type by the same portable HLL, over the
# distinct (event_type, user_id) pairs.
ORACLE["agg_approx_distinct"] = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (SELECT event_type, {h60_sql("user_id::VARCHAR")} AS hv FROM du),
rb AS (SELECT event_type, {hll_rho_sql()} FROM h),
regs AS (SELECT event_type, bucket, max(rho) AS r FROM rb GROUP BY 1, 2),
est AS (SELECT event_type, {hll_partials_sql()} FROM regs GROUP BY 1)
SELECT event_type, {hll_estimate_sql()} AS approx_users FROM est
"""

# The two order samples: the md5 keep rule over the seed-42-keyed
# order key, at 10% and at a pct per order status.
ORACLE["sample_seeded"] = f"""
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE {in_sample_sql("o_orderkey::VARCHAR", 10, 42)}
"""
ORACLE["sample_stratified"] = f"""
SELECT o_orderstatus, count(*)::BIGINT AS n_sampled FROM orders
WHERE {in_sample_sql("o_orderkey::VARCHAR",
                     "CASE WHEN o_orderstatus IN ('F', 'O') THEN 5 "
                     "WHEN o_orderstatus = 'P' THEN 100 ELSE 0 END", 42)}
GROUP BY 1
"""

# r7b: winnowing_fingerprint — Schleimer et al. winnowing with the
# rightmost-min tie-break packed into one BIGINT key
# (h*2^24 + (2^24-1-i)); the oracle replays the identical window min
# over the identical 31-bit Karp-Rabin k-gram hashes (the hash the
# paper rolls; the exact-integer Horner fold of textstats._kr_expr).
ORACLE["winnowing_fingerprint"] = rf"""
WITH c AS (
  SELECT doc_id,
    list_transform(string_split(
      {collapse_ws_sql(NORMALIZE_SQL)},
      ''), x -> ascii(x)) AS cs
  FROM documents
),
kg AS (
  SELECT doc_id, i,
    ((((((((((((((CAST(coalesce(cs[(i) + 0], 0) AS BIGINT)) * 2097169 + coalesce(cs[(i) + 1], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 2], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 3], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 4], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 5], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 6], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 7], 0)) % 2147483647 AS h
  FROM c, LATERAL (SELECT unnest(generate_series(1, greatest(len(cs) - 7, 1))) AS i) g
),
keyed AS (
  SELECT doc_id, i,
    h * 16777216 + (16777215 - i) AS key
  FROM kg
),
win AS (
  SELECT doc_id, i,
    min(key) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel,
    count(*) OVER (PARTITION BY doc_id) AS n_kgrams
  FROM keyed
),
fps AS (
  SELECT DISTINCT doc_id, n_kgrams, sel
  FROM win WHERE i <= greatest(n_kgrams - 7, 1)
)
SELECT doc_id, max(n_kgrams)::BIGINT AS n_kgrams,
  count(*)::BIGINT AS n_fp,
  min(sel // 16777216)::BIGINT AS fp_min_hash,
  bit_xor(sel)::BIGINT AS fp_xor
FROM fps GROUP BY doc_id
"""

# r7b: ccnet_perplexity_buckets — per-language LM-score terciles. The
# per-doc score follows unigram_logprob_quality's proven 8-dp round,
# then scales to an exact BIGINT (``fixed_sql(x, 8)``) so the
# ntile ordering and the per-bucket averages are integer-deterministic.
ORACLE["ccnet_perplexity_buckets"] = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({TOKS_SQL}) AS tk FROM documents
),
vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
per_doc AS (
  SELECT doc_id, lang,
    {fixed_sql("round(avg(ln(c * 1.0)), 8)", 8)} AS ar_e8,
    count(*) AS len
  FROM tok JOIN vocab USING (tk)
  GROUP BY doc_id, lang
),
bucketed AS (
  SELECT lang, len, ar_e8,
    ntile(3) OVER (PARTITION BY lang ORDER BY ar_e8 DESC, doc_id) AS b
  FROM per_doc
)
SELECT lang,
  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
  count(*)::BIGINT AS n_docs, sum(len)::BIGINT AS total_tokens,
  round(sum(ar_e8) / (count(*) * 100000000.0), 4) AS avg_logprob
FROM bucketed GROUP BY lang, b
"""

# r7b: vocab_coverage_curve — deterministic (count DESC, token ASC)
# rank, coverage = exact-BIGINT ratio.
ORACLE["vocab_coverage_curve"] = f"""
WITH tok AS (SELECT unnest({TOKS_SQL}) AS tk FROM documents),
vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tk) AS rnk FROM vocab
),
tot AS (SELECT count(*)::BIGINT AS n_types, sum(c)::BIGINT AS total_occ
        FROM vocab),
ks AS (SELECT unnest([1000, 8000, 32000])::BIGINT AS vocab_k),
cov AS (
  SELECT k.vocab_k, coalesce(sum(r.c), 0)::BIGINT AS covered_occ
  FROM ks k LEFT JOIN ranked r ON r.rnk <= k.vocab_k
  GROUP BY k.vocab_k
)
SELECT c.vocab_k, least(c.vocab_k, t.n_types)::BIGINT AS n_types_kept,
  c.covered_occ, t.total_occ,
  round(c.covered_occ / t.total_occ, 6) AS coverage
FROM cov c, tot t
"""

# r7b: embedding_centroid_drift — float32 sums are exact in float64,
# scaled once to BIGINT; dot/norm accumulate in HUGEINT (the oracle's
# twin of Spark's DECIMAL(38,0)); the 1/n and 1e6 scales cancel in
# cosine so the only float steps are the final sqrt/divide/round.
ORACLE["embedding_centroid_drift"] = f"""
WITH cells AS (
  SELECT label, i - 1 AS dim, embedding[i]::DOUBLE AS x
  FROM embeddings,
    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
per AS (
  SELECT label, dim, count(*) AS n, {fixed_sql("sum(x)", 6)} AS s_e6
  FROM cells GROUP BY 1, 2
),
gctr AS (SELECT dim, sum(s_e6)::BIGINT AS g_e6 FROM per GROUP BY dim),
gn AS (SELECT sum(g_e6::HUGEINT * g_e6) AS g_ssq FROM gctr),
stats AS (
  SELECT label, max(n) AS n_vecs,
    sum(s_e6::HUGEINT * g_e6) AS dot_lg,
    sum(s_e6::HUGEINT * s_e6) AS l_ssq
  FROM per JOIN gctr USING (dim) GROUP BY label
)
SELECT label::BIGINT AS label, n_vecs::BIGINT AS n_vecs,
  round(CASE WHEN l_ssq > 0 AND g_ssq > 0
        THEN dot_lg::DOUBLE / (sqrt(l_ssq::DOUBLE) * sqrt(g_ssq::DOUBLE))
        ELSE 0.0 END, 6) AS cos_to_global,
  round(sqrt(l_ssq::DOUBLE) / (n_vecs * 1e6), 6) AS centroid_norm
FROM stats, gn
"""

# r7b: char_trigram_langid — profile-based language ID. The oracle
# rebuilds the identical top-64 trigram profiles (count DESC, trigram
# ASC rank), accumulates dot/||profile||^2 in HUGEINT (Spark:
# DECIMAL(38,0)), and resolves the per-doc argmax with the same
# (score DESC, lang ASC) row_number.
ORACLE["char_trigram_langid"] = rf"""
WITH base AS (
  SELECT doc_id, lang,
    list_transform(string_split(
      {collapse_ws_sql("lower(text)")},
      ''), x -> ascii(x)) AS cs
  FROM documents
),
tri AS (
  SELECT doc_id, lang,
    coalesce(cs[i], 0)::BIGINT * 4398046511104
      + coalesce(cs[i + 1], 0)::BIGINT * 2097152
      + coalesce(cs[i + 2], 0)::BIGINT AS tri
  FROM base, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(cs) - 2, 1))) AS i) g
),
doc_tri AS (
  SELECT doc_id, lang, tri, count(*) AS cd FROM tri GROUP BY 1, 2, 3
),
lang_tri AS (
  SELECT lang, tri, sum(cd)::BIGINT AS cl FROM doc_tri GROUP BY 1, 2
),
profile AS (
  SELECT lang AS plang, tri, cl FROM (
    SELECT lang, tri, cl,
      row_number() OVER (PARTITION BY lang ORDER BY cl DESC, tri) AS rnk
    FROM lang_tri)
  WHERE rnk <= 64
),
pnorm AS (
  SELECT plang, sum(cl::HUGEINT * cl) AS ssq FROM profile GROUP BY plang
),
scored AS (
  SELECT d.doc_id, p.plang,
    sum(d.cd::HUGEINT * p.cl) AS dot
  FROM doc_tri d JOIN profile p USING (tri)
  GROUP BY 1, 2
),
pick AS (
  SELECT doc_id, plang AS pred_lang FROM (
    SELECT s.doc_id, s.plang,
      row_number() OVER (PARTITION BY s.doc_id
        ORDER BY s.dot::DOUBLE / sqrt(n.ssq::DOUBLE) DESC, s.plang) AS r
    FROM scored s JOIN pnorm n USING (plang))
  WHERE r = 1
)
SELECT b.lang, coalesce(k.pred_lang, 'und') AS pred_lang,
  count(*)::BIGINT AS n
FROM base b LEFT JOIN pick k USING (doc_id)
GROUP BY 1, 2
"""

# r7b: minhash_accuracy_audit — portable Carter-Wegman hash family
# (dedup.MINHASH_CW, interpolated below so both engines share the same
# literals), so the oracle rebuilds identical signatures/pairs;
# thresholds compared in pure integers; decile = one float op over
# exact ints.
ORACLE["minhash_accuracy_audit"] = f"""
WITH toks AS (SELECT doc_id AS id, {TOKS_SQL} AS t FROM documents),
tt AS (SELECT id, t FROM toks WHERE len(t) >= 3),
sh AS (
  SELECT DISTINCT id, {h60_sql("unnest(" + ngrams_sql("t", 3) + ")")} AS hs
  FROM tt
),
cw AS (SELECT * FROM (VALUES (0, 188173298, 62257558), (1, 1614569235, 1541888525), (2, 1123302577, 1183693761), (3, 941201756, 612741583), (4, 1915815023, 145743895), (5, 1042332867, 1469431003), (6, 1586907769, 1724705301), (7, 1367643000, 567634413), (8, 1182429425, 1450717929), (9, 1840887320, 92282879), (10, 2033346063, 1574816040), (11, 1426551802, 1173352586), (12, 2087082879, 168846213), (13, 1825997516, 891168106), (14, 124724675, 334069097), (15, 1102350415, 1146895919)) t(i, a, b)),
minima AS (
  SELECT id, i,
    min((a * (hs % 2147483647) + b) % 2147483647) AS m
  FROM sh CROSS JOIN cw GROUP BY 1, 2
),
nsz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
cands AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM minima a JOIN minima b ON a.i = b.i AND a.m = b.m AND a.id < b.id
),
eqs AS (
  SELECT c.id1, c.id2, sum((a.m = b.m)::BIGINT)::BIGINT AS eq
  FROM cands c
  JOIN minima a ON a.id = c.id1
  JOIN minima b ON b.id = c.id2 AND b.i = a.i
  GROUP BY 1, 2
),
inters AS (
  SELECT c.id1, c.id2, count(*)::BIGINT AS inter
  FROM cands c
  JOIN sh s1 ON s1.id = c.id1
  JOIN sh s2 ON s2.id = c.id2 AND s2.hs = s1.hs
  GROUP BY 1, 2
),
paired AS (
  SELECT e.eq, coalesce(i.inter, 0) AS inter,
    n1.n + n2.n - coalesce(i.inter, 0) AS uni
  FROM eqs e
  LEFT JOIN inters i ON i.id1 = e.id1 AND i.id2 = e.id2
  JOIN nsz n1 ON n1.id = e.id1
  JOIN nsz n2 ON n2.id = e.id2
)
SELECT floor(abs(eq / 16.0 - inter * 1.0 / uni) * 10.0)::BIGINT AS err_decile,
  count(*)::BIGINT AS n_pairs,
  round(sum(eq) / (16.0 * count(*)), 6) AS mean_est,
  sum((eq * 5 >= 64)::BIGINT)::BIGINT AS n_est_pos,
  sum((inter * 5 >= uni * 4)::BIGINT)::BIGINT AS n_exact_pos
FROM paired GROUP BY 1
"""

# r7b: quantile_histogram_portable — the portable quantile sketch
# (equi-width histogram + rank interpolation). Bin edges from exact
# group min/max; counts exact BIGINT; the estimate is float ops over
# exact inputs, identical cross-engine. Quantile literals are cast to
# DOUBLE (a bare 0.25 list literal is DECIMAL in DuckDB).
ORACLE["quantile_histogram_portable"] = """
WITH stats AS (
  SELECT o_orderstatus, min(o_totalprice) AS mn, max(o_totalprice) AS mx,
         count(*) AS n
  FROM orders GROUP BY 1
),
binned AS (
  SELECT o.o_orderstatus,
    CASE WHEN s.mx = s.mn THEN 0
         ELSE least(255, floor((o.o_totalprice - s.mn) / ((s.mx - s.mn) / 256.0)))::INT
    END AS b
  FROM orders o JOIN stats s USING (o_orderstatus)
),
hist AS (SELECT o_orderstatus, b, count(*) AS cnt FROM binned GROUP BY 1, 2),
cum AS (
  SELECT o_orderstatus, b, cnt,
    sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
qs AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS q),
picked AS (
  SELECT * FROM (
    SELECT c.o_orderstatus, q.q, c.b, c.cnt, c.cum, s.mn, s.mx, s.n,
      row_number() OVER (PARTITION BY c.o_orderstatus, q.q ORDER BY c.b) AS r
    FROM cum c JOIN stats s USING (o_orderstatus) CROSS JOIN qs q
    WHERE c.cum >= q.q * s.n)
  WHERE r = 1
)
SELECT o_orderstatus, q,
  round(CASE WHEN mx = mn THEN mn
        ELSE mn + ((mx - mn) / 256.0) * (b + (q * n - (cum - cnt)) / cnt)
        END, 6) AS est_value,
  b::BIGINT AS bin_idx, cum::BIGINT AS cum_count, n::BIGINT AS n_total
FROM picked
"""

# r7b: events_ewma_daily — the oracle steps the identical EWMA
# recurrence (0.3*v + 0.7*s over exact micro-unit daily means) with a
# lockstep recursive CTE; Spark folds the same sequence with one
# higher-order aggregate, so the float chain is bit-identical.
ORACLE["events_ewma_daily"] = f"""
WITH RECURSIVE idx AS (
  SELECT event_type, day, v_e6,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM (
    SELECT event_type, date_trunc('day', ts) AS day,
      {fixed_sql("avg(value)", 6)} AS v_e6
    FROM events GROUP BY 1, 2)
),
ew AS (
  SELECT event_type, day, v_e6, t, v_e6::DOUBLE / 1000000.0 AS s
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.day, i.v_e6, i.t,
    0.3 * (i.v_e6::DOUBLE / 1000000.0) + 0.7 * e.s
  FROM ew e JOIN idx i ON i.event_type = e.event_type AND i.t = e.t + 1
)
SELECT event_type, day::TIMESTAMP::VARCHAR AS day,
  v_e6 / 1000000.0 AS day_avg,
  {half_up_sql("s", 6)} AS ewma
FROM ew
"""


# r7b: salted_aggregate_events — the oracle IS the naive GROUP BY: the
# salted two-phase plan must be answer-identical at any skew (counts
# and min/max are algebraic; the value total sums exact micro-units).
ORACLE["salted_aggregate_events"] = f"""
SELECT event_type,
  count(*)::BIGINT AS n_events,
  sum({fixed_sql("value", 6)})::BIGINT AS total_value_e6,
  min({fixed_sql("value", 6)})::BIGINT AS min_value_e6,
  max({fixed_sql("value", 6)})::BIGINT AS max_value_e6
FROM events GROUP BY event_type
"""


# r7b: winnowing_neardup_pairs — cross-doc MOSS detection over the
# same Karp-Rabin winnowing selections; boilerplate fingerprints
# (df > 256) culled before pairing, thresholds and containment in
# pure integers.
ORACLE["winnowing_neardup_pairs"] = rf"""
WITH c AS (
  SELECT doc_id,
    list_transform(string_split(
      {collapse_ws_sql(NORMALIZE_SQL)},
      ''), x -> ascii(x)) AS cs
  FROM documents
),
kg AS (
  SELECT doc_id, i,
    ((((((((((((((((((((((((((((((CAST(coalesce(cs[(i) + 0], 0) AS BIGINT)) * 2097169 + coalesce(cs[(i) + 1], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 2], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 3], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 4], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 5], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 6], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 7], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 8], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 9], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 10], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 11], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 12], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 13], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 14], 0)) % 2147483647) * 2097169 + coalesce(cs[(i) + 15], 0)) % 2147483647 AS h
  FROM c, LATERAL (SELECT unnest(generate_series(1, greatest(len(cs) - 15, 1))) AS i) g
),
keyed AS (
  SELECT doc_id, i, h * 16777216 + (16777215 - i) AS key FROM kg
),
win AS (
  SELECT doc_id, i,
    min(key) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS sel,
    count(*) OVER (PARTITION BY doc_id) AS n_kgrams
  FROM keyed
),
fsel AS (
  SELECT DISTINCT doc_id, sel FROM win
  WHERE i <= greatest(n_kgrams - 15, 1)
),
fps AS (SELECT DISTINCT doc_id, sel // 16777216 AS fph FROM fsel),
nfp AS (SELECT doc_id, count(*) AS nf FROM fps GROUP BY doc_id),
hot AS (
  SELECT fph FROM (SELECT fph, count(*) AS df FROM fps GROUP BY fph)
  WHERE df > 256
),
rare AS (SELECT f.doc_id, f.fph FROM fps f ANTI JOIN hot USING (fph)),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared_fp
  FROM rare a JOIN rare b ON a.fph = b.fph AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 8
)
SELECT p.id1, p.id2, p.shared_fp::BIGINT AS shared_fp,
  (p.shared_fp * 1000000 // least(n1.nf, n2.nf))::BIGINT AS containment_e6
FROM pairs p
JOIN nfp n1 ON n1.doc_id = p.id1
JOIN nfp n2 ON n2.doc_id = p.id2
"""

# r7c: events_lttb_downsample converts from rows-only to hash-paired —
# the kernel moved to exact integers (x = epoch microseconds, y =
# fixed(value, 6), integer floor-division bucket bounds instead of
# np.linspace, centroid-cleared area |(xa*k - Σx)(y - ya) -
# (xa - x)(Σy - k*ya)| which is 2k × the true triangle area, a positive
# rescale that preserves every argmax). The oracle replays the same
# sequential anchor recursion as a recursive CTE: one row per
# (series, bucket) level, candidates scanned once per level, HUGEINT
# products (they reach ~1e27). Ties break to the earliest point on both
# engines (ORDER BY area DESC, i ASC ≡ the kernel's strict-greater
# first-index scan). Bounds: bnd(j) = 1 + (j*(n-2))//22; a point i in
# [1, n-1) lives in bucket j(i) = (22*i - 1) // (n-2); step b's
# centroid is bucket b+1 for b<=20 and the bare last point for b=21.
ORACLE["events_lttb_downsample"] = f"""
WITH RECURSIVE
base AS (
  SELECT event_type,
         epoch_us(ts)::BIGINT AS x,
         {fixed_sql("value", 6)} AS y,
         event_id
  FROM events
),
pts AS (
  SELECT event_type, x, y, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
small AS (
  SELECT event_type, i + 1 AS rank, x, y, event_id
  FROM pts WHERE n <= 24
),
cbuck AS (
  SELECT event_type, (22 * i - 1) // (n - 2) AS j,
         count(*) AS k, sum(x) AS sx, sum(y) AS sy
  FROM pts WHERE n > 24 AND i >= 1 AND i < n - 1
  GROUP BY 1, 2
),
centro AS (
  SELECT event_type, j - 1 AS b, k, sx, sy
  FROM cbuck WHERE j BETWEEN 1 AND 21
  UNION ALL
  SELECT event_type, 21 AS b, 1 AS k, x::HUGEINT AS sx, y::HUGEINT AS sy
  FROM pts WHERE n > 24 AND i = n - 1
),
sel AS (
  SELECT event_type, -1 AS b, i, x AS ax, y AS ay
  FROM pts WHERE n > 24 AND i = 0
  UNION ALL
  SELECT event_type, b, i, x AS ax, y AS ay FROM (
    SELECT s.event_type, s.b + 1 AS b, c.i, c.x, c.y,
      row_number() OVER (PARTITION BY c.event_type ORDER BY
        abs((CAST(s.ax AS HUGEINT) * ct.k - ct.sx) * (c.y - s.ay)
            - CAST(s.ax - c.x AS HUGEINT)
              * (ct.sy - CAST(ct.k AS HUGEINT) * s.ay)) DESC,
        c.i ASC) AS rn
    FROM sel s
    JOIN pts c ON c.event_type = s.event_type
      AND c.i >= 1 + ((s.b + 1) * (c.n - 2)) // 22
      AND c.i <  1 + ((s.b + 2) * (c.n - 2)) // 22
    JOIN centro ct ON ct.event_type = s.event_type AND ct.b = s.b + 1
    WHERE s.b <= 20
  ) WHERE rn = 1
)
SELECT event_type, rank::BIGINT AS rank, x, y, event_id FROM small
UNION ALL
SELECT s.event_type, (s.b + 2)::BIGINT AS rank, p.x, p.y, p.event_id
FROM sel s JOIN pts p ON p.event_type = s.event_type AND p.i = s.i
UNION ALL
SELECT event_type, 24::BIGINT AS rank, x, y, event_id
FROM pts WHERE n > 24 AND i = n - 1
"""

# r7c: skipgram_cooccurrence — windowed (±3) co-occurrence PMI, the
# GloVe-style generalisation of bigram_pmi_collocations. The oracle
# builds the same unordered canonical pairs via a double LATERAL
# (offset d × start position i); N12 counts ALL in-window pair slots
# (pre-min_count), matching the Spark side's totals derivation.
ORACLE["skipgram_cooccurrence"] = f"""
WITH toks AS (SELECT {TOKS_SQL} AS t FROM documents),
pr AS (
  SELECT least(t[i], t[i+d]) AS w1, greatest(t[i], t[i+d]) AS w2
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g,
       LATERAL (SELECT unnest([1, 2, 3]) AS d) dd
  WHERE i + d <= len(t)
),
uc AS (SELECT w, count(*) AS cw FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
pc AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
tot AS (SELECT (SELECT sum(len(t)) FROM toks) AS n_uni,
               (SELECT count(*) FROM pr) AS n_pair)
SELECT w1, w2, c12::BIGINT AS n_cooc,
  round(ln((c12 * 1.0 / n_pair)
           / ((c1.cw * 1.0 / n_uni) * (c2.cw * 1.0 / n_uni))), 6) AS pmi
FROM pc JOIN uc c1 ON pc.w1 = c1.w JOIN uc c2 ON pc.w2 = c2.w, tot
WHERE c12 >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""

# r7c: rrf_quality_fusion — reciprocal-rank fusion of three exact-int
# quality signals (length, distinct-token ratio, distinct-bigram
# ratio), per-source windows, integer-division RRF (1e12 // (60+rank))
# so the fused score is bit-identical across engines.
ORACLE["rrf_quality_fusion"] = f"""
WITH toks AS (SELECT doc_id, source, n_chars, {TOKS_SQL} AS t FROM documents),
st AS (
  SELECT doc_id, source, n_chars,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t) ELSE 0 END AS dtok_e6,
    CASE WHEN len(t) > 1
         THEN (len(list_distinct({ngrams_sql('t', 2)})) * 1000000)
              // (len(t) - 1)
         ELSE 0 END AS dbig_e6
  FROM toks
),
rk AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS r_len,
    row_number() OVER (PARTITION BY source ORDER BY dtok_e6 DESC, doc_id) AS r_dtok,
    row_number() OVER (PARTITION BY source ORDER BY dbig_e6 DESC, doc_id) AS r_dbig
  FROM st
),
f AS (
  SELECT source, doc_id, r_len, r_dtok, r_dbig,
    1000000000000 // (60 + r_len) + 1000000000000 // (60 + r_dtok)
      + 1000000000000 // (60 + r_dbig) AS rrf_e12
  FROM rk
),
fr AS (
  SELECT source, doc_id, r_len, r_dtok, r_dbig, rrf_e12,
    row_number() OVER (PARTITION BY source
                       ORDER BY rrf_e12 DESC, doc_id) AS fused_rank
  FROM f
)
SELECT source, fused_rank::BIGINT AS fused_rank, doc_id,
  r_len::BIGINT AS r_len, r_dtok::BIGINT AS r_dtok,
  r_dbig::BIGINT AS r_dbig, rrf_e12::BIGINT AS rrf_e12
FROM fr WHERE fused_rank <= 5
"""

# r7c: quality_threshold_sweep — cutoff-calibration table for the
# distinct-token-ratio filter: per (threshold, source) docs/tokens
# retained, exact-integer fractions. Grid = 8 literal thresholds
# exploded per doc; one scan, one exchange.
ORACLE["quality_threshold_sweep"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
st AS (
  SELECT source, len(t)::BIGINT AS n_tok,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t) ELSE 0 END AS dtok_e6
  FROM toks
),
sw AS (
  SELECT source, n_tok, dtok_e6, g.threshold
  FROM st, LATERAL (SELECT unnest([300000, 350000, 400000, 450000,
                                   500000, 550000, 600000, 700000])
                    AS threshold) g
),
agg AS (
  SELECT threshold, source,
    count(*) AS n_docs,
    sum(CASE WHEN dtok_e6 >= threshold THEN 1 ELSE 0 END) AS n_docs_kept,
    sum(n_tok) AS n_tokens,
    sum(CASE WHEN dtok_e6 >= threshold THEN n_tok ELSE 0 END) AS n_tokens_kept
  FROM sw GROUP BY threshold, source
)
SELECT threshold::BIGINT AS threshold, source,
  n_docs_kept::BIGINT AS n_docs_kept,
  (n_docs_kept * 1000000 // n_docs)::BIGINT AS doc_frac_e6,
  n_tokens_kept::BIGINT AS n_tokens_kept,
  (CASE WHEN n_tokens > 0 THEN n_tokens_kept * 1000000 // n_tokens
        ELSE 0 END)::BIGINT AS token_frac_e6
FROM agg
"""

# r7c: stopword_discovery — per-language top-20 terms by document
# frequency with exact-integer df fraction; the two-level
# (lang,doc,term) -> (lang,term) aggregation mirrored in SQL.
ORACLE["stopword_discovery"] = f"""
WITH toks AS (SELECT lang, doc_id, {TOKS_SQL} AS t FROM documents),
pd AS (
  SELECT lang, doc_id, w, count(*) AS c
  FROM (SELECT lang, doc_id, unnest(t) AS w FROM toks)
  GROUP BY lang, doc_id, w
),
pt AS (
  SELECT lang, w, count(*) AS df, sum(c) AS tf FROM pd GROUP BY lang, w
),
ld AS (SELECT lang, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY lang),
rk AS (
  SELECT pt.lang, w, df, tf, n_docs,
    row_number() OVER (PARTITION BY pt.lang
                       ORDER BY df DESC, tf DESC, w ASC) AS rank
  FROM pt JOIN ld ON pt.lang = ld.lang
)
SELECT lang, rank::BIGINT AS rank, w AS term, df::BIGINT AS df,
  tf::BIGINT AS tf, (df * 1000000 // n_docs)::BIGINT AS df_frac_e6
FROM rk WHERE rank <= 20
"""

# r7c: source_concentration_audit — HHI / Gini / entropy of token mass
# per grouping axis (source, lang). HHI and Gini are HUGEINT floor
# divisions (Spark side uses decimal(38,0) `div`); entropy is the one
# 6-dp smooth float.
ORACLE["source_concentration_audit"] = f"""
WITH toks AS (SELECT source, lang, len({TOKS_SQL}) AS n_tok FROM documents),
base AS (SELECT source, lang, count(*) AS n_docs, sum(n_tok) AS t
         FROM toks GROUP BY source, lang),
gs AS (SELECT source AS grp, sum(n_docs) AS n_docs, sum(t) AS t
       FROM base GROUP BY 1),
gl AS (SELECT lang AS grp, sum(n_docs) AS n_docs, sum(t) AS t
       FROM base GROUP BY 1),
rs AS (SELECT grp, n_docs, t,
         row_number() OVER (ORDER BY t, grp) AS rank,
         sum(t) OVER () AS tot FROM gs),
rl AS (SELECT grp, n_docs, t,
         row_number() OVER (ORDER BY t, grp) AS rank,
         sum(t) OVER () AS tot FROM gl),
a_s AS (SELECT 'source' AS axis, count(*) AS n_groups,
         sum(n_docs) AS n_docs, sum(t) AS total_tokens,
         sum(t::HUGEINT * t) AS sum_t2, sum(rank::HUGEINT * t) AS sum_rt,
         round(sum(CASE WHEN t > 0
                        THEN -(t * 1.0 / tot) * ln(t * 1.0 / tot)
                        ELSE 0 END), 6) AS entropy
        FROM rs),
a_l AS (SELECT 'lang' AS axis, count(*) AS n_groups,
         sum(n_docs) AS n_docs, sum(t) AS total_tokens,
         sum(t::HUGEINT * t) AS sum_t2, sum(rank::HUGEINT * t) AS sum_rt,
         round(sum(CASE WHEN t > 0
                        THEN -(t * 1.0 / tot) * ln(t * 1.0 / tot)
                        ELSE 0 END), 6) AS entropy
        FROM rl)
SELECT axis, n_groups::BIGINT AS n_groups, n_docs::BIGINT AS n_docs,
  total_tokens::BIGINT AS total_tokens,
  ((sum_t2 * 1000000) // (total_tokens::HUGEINT * total_tokens))::BIGINT
    AS hhi_e6,
  ((2 * sum_rt * 1000000
    - (n_groups + 1)::HUGEINT * total_tokens * 1000000)
   // (n_groups::HUGEINT * total_tokens))::BIGINT AS gini_e6,
  entropy
FROM (SELECT * FROM a_s UNION ALL SELECT * FROM a_l)
"""

# r7c: token_budget_fill — equal per-source slices of a global token
# budget, prefix-filled in md5(doc_id) order; a doc is taken iff its
# inclusive running sum stays within the slice. Pure integer math.
ORACLE["token_budget_fill"] = f"""
WITH sized AS (
  SELECT source, doc_id, md5(doc_id::VARCHAR) AS h,
         len({TOKS_SQL}) AS n_tok
  FROM documents
),
tot AS (SELECT (sum(n_tok) // 5) // count(DISTINCT source) AS budget
        FROM sized),
run AS (
  SELECT source, n_tok, budget,
    sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum
  FROM sized, tot
)
SELECT source, max(budget)::BIGINT AS budget,
  sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END)::BIGINT AS n_docs_taken,
  sum(CASE WHEN cum <= budget THEN n_tok ELSE 0 END)::BIGINT AS tokens_taken,
  (CASE WHEN max(budget) > 0
        THEN sum(CASE WHEN cum <= budget THEN n_tok ELSE 0 END) * 1000000
             // max(budget) ELSE 0 END)::BIGINT AS fill_e6,
  count(*)::BIGINT AS n_docs_total,
  sum(n_tok)::BIGINT AS tokens_total
FROM run GROUP BY source
"""

# r7c: curriculum_interleave — quality-descending, round-robin-by-
# source training order; position = (q_rank-1)*n_sources + src_idx,
# all exact integers.
ORACLE["curriculum_interleave"] = f"""
WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS t FROM documents),
st AS (
  SELECT doc_id, source,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t) ELSE 0 END AS dtok_e6
  FROM toks
),
srcs AS (
  SELECT source,
    row_number() OVER (ORDER BY source) - 1 AS src_idx,
    count(*) OVER () AS n_sources
  FROM (SELECT DISTINCT source FROM documents)
),
rk AS (
  SELECT doc_id, st.source, dtok_e6,
    row_number() OVER (PARTITION BY st.source
                       ORDER BY dtok_e6 DESC, doc_id) AS q_rank
  FROM st
)
SELECT ((q_rank - 1) * n_sources + src_idx)::BIGINT AS position,
  rk.source, q_rank::BIGINT AS q_rank, doc_id, dtok_e6
FROM rk JOIN srcs ON rk.source = srcs.source
ORDER BY position LIMIT 100
"""

# r7c: source_novelty_attribution — distinct 4-grams credited to the
# first source (alphabetical rank) that contributes them; per-source
# novel/distinct gram counts with floor-divided novelty fraction.
ORACLE["source_novelty_attribution"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
srcs AS (
  SELECT source, row_number() OVER (ORDER BY source) AS src_rank
  FROM (SELECT DISTINCT source FROM documents)
),
grams AS (
  SELECT DISTINCT source, unnest({ngrams_sql('t', 4)}) AS g
  FROM toks
),
gr AS (SELECT g, grams.source, src_rank
       FROM grams JOIN srcs ON grams.source = srcs.source),
first AS (SELECT g, min(src_rank) AS first_rank FROM gr GROUP BY g),
per AS (
  SELECT gr.source, gr.src_rank,
    count(*) AS distinct_grams,
    sum(CASE WHEN gr.src_rank = first.first_rank THEN 1 ELSE 0 END)
      AS novel_grams
  FROM gr JOIN first ON gr.g = first.g
  GROUP BY gr.source, gr.src_rank
)
SELECT src_rank::BIGINT AS src_rank, source,
  distinct_grams::BIGINT AS distinct_grams,
  novel_grams::BIGINT AS novel_grams,
  (CASE WHEN distinct_grams > 0
        THEN novel_grams * 1000000 // distinct_grams
        ELSE 0 END)::BIGINT AS novelty_e6
FROM per
"""

# r7c: quality_signal_correlation — per-source Pearson + deterministic-
# rank Spearman between n_chars and the distinct-token ratio; 6-dp
# smooth-function rounding, ranks use the portable doc_id tie-break.
ORACLE["quality_signal_correlation"] = f"""
WITH toks AS (SELECT doc_id, source, n_chars, {TOKS_SQL} AS t FROM documents),
st AS (
  SELECT doc_id, source, n_chars,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t) ELSE 0 END AS dtok_e6
  FROM toks
),
rk AS (
  SELECT source, n_chars, dtok_e6,
    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r_len,
    row_number() OVER (PARTITION BY source ORDER BY dtok_e6, doc_id) AS r_dtok
  FROM st
)
SELECT source, count(*)::BIGINT AS n_docs,
  round(corr(n_chars::DOUBLE, dtok_e6::DOUBLE), 6) AS pearson,
  round(corr(r_len::DOUBLE, r_dtok::DOUBLE), 6) AS spearman
FROM rk GROUP BY source
"""

# r7d: ngram_diversity_audit — distinct-1/2/3 diversity per source,
# exact integer micro-unit ratios; the three gram windows over the same
# token arrays.
ORACLE["ngram_diversity_audit"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
g AS (
  SELECT source, 1 AS n, unnest({ngrams_sql('t', 1)}) AS gram FROM toks
  UNION ALL SELECT source, 2, unnest({ngrams_sql('t', 2)}) FROM toks
  UNION ALL SELECT source, 3, unnest({ngrams_sql('t', 3)}) FROM toks
),
pg AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
SELECT source, n::BIGINT AS n, sum(c)::BIGINT AS total_grams,
  count(*)::BIGINT AS distinct_grams,
  (count(*) * 1000000 // sum(c))::BIGINT AS distinct_frac_e6
FROM pg GROUP BY source, n
"""

# r7d: dataset_card — per-source datasheet (volumes, language spread,
# TTR, dominant language) with floor-div micro-unit ratios and the
# (count desc, lang asc) dominant-language tie-break mirrored.
ORACLE["dataset_card"] = f"""
WITH toks AS (SELECT source, lang, {TOKS_SQL} AS t FROM documents),
sized AS (SELECT source, lang, len(t) AS n_tok, t FROM toks),
vol AS (
  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
    sum(n_tok) AS total_tokens, max(n_tok) AS max_doc_tokens
  FROM sized GROUP BY source
),
terms AS (
  SELECT source, count(*) AS distinct_terms FROM (
    SELECT source, term, count(*) AS c
    FROM (SELECT source, unnest(t) AS term FROM sized)
    GROUP BY source, term)
  GROUP BY source
),
tl AS (
  SELECT source, lang AS top_lang, lc AS top_lang_docs FROM (
    SELECT source, lang, count(*) AS lc,
      row_number() OVER (PARTITION BY source
                         ORDER BY count(*) DESC, lang ASC) AS rk
    FROM sized GROUP BY source, lang)
  WHERE rk = 1
)
SELECT vol.source, n_docs::BIGINT AS n_docs, n_langs::BIGINT AS n_langs,
  total_tokens::BIGINT AS total_tokens,
  (total_tokens * 1000000 // n_docs)::BIGINT AS mean_tokens_e6,
  max_doc_tokens::BIGINT AS max_doc_tokens,
  distinct_terms::BIGINT AS distinct_terms,
  (CASE WHEN total_tokens > 0
        THEN distinct_terms * 1000000 // total_tokens
        ELSE 0 END)::BIGINT AS ttr_e6,
  top_lang, top_lang_docs::BIGINT AS top_lang_docs
FROM vol JOIN terms ON vol.source = terms.source
JOIN tl ON vol.source = tl.source
"""

# r7d: badwords_filter — C4-style blocklist audit; literal-list
# membership on both engines, threshold in integer micro-units.
ORACLE["badwords_filter"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
pd AS (
  SELECT source, len(t) AS n_tok,
    len(list_filter(t, x -> list_contains(['slow', 'dup', 'leak'], x)))
      AS n_bad
  FROM toks
),
fl AS (
  SELECT source, n_tok, n_bad, n_bad > 0 AS hit,
    CASE WHEN n_tok > 0
         THEN (n_bad * 1000000 // n_tok) > 30000 ELSE FALSE END AS flagged
  FROM pd
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS hit_docs,
  sum(CASE WHEN flagged THEN 1 ELSE 0 END)::BIGINT AS flagged_docs,
  sum(n_bad)::BIGINT AS blocked_tokens,
  (CASE WHEN sum(n_tok) > 0
        THEN sum(n_bad) * 1000000 // sum(n_tok) ELSE 0 END)::BIGINT
    AS blocked_frac_e6,
  (sum(CASE WHEN flagged THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT
    AS flagged_frac_e6
FROM fl GROUP BY source
"""

# r7d: lang_source_chisq — exact-integer chi-square contingency audit;
# zero cells materialised by the marginal cross join on both engines,
# HUGEINT floor divisions mirror Spark's decimal(38,0) `div`.
ORACLE["lang_source_chisq"] = """
WITH cells AS (
  SELECT lang, source, count(*)::HUGEINT AS o FROM documents GROUP BY 1, 2
),
r AS (SELECT lang, sum(o) AS row_t FROM cells GROUP BY lang),
c AS (SELECT source, sum(o) AS col_t FROM cells GROUP BY source),
n AS (SELECT sum(o) AS n FROM cells),
grid AS (
  SELECT r.lang, c.source, row_t, col_t, n.n,
    coalesce(cells.o, 0)::HUGEINT AS observed
  FROM r CROSS JOIN c CROSS JOIN n
  LEFT JOIN cells ON cells.lang = r.lang AND cells.source = c.source
)
SELECT lang, source, observed::BIGINT AS observed,
  (row_t * col_t * 1000000 // n)::BIGINT AS expected_e6,
  ((observed * n - row_t * col_t) * (observed * n - row_t * col_t)
   * 1000000 // (row_t * col_t * n))::BIGINT AS contrib_e6
FROM grid
"""

# r7d: events_dow_hour_profile — weekly seasonality heatmap cells;
# dow/hour from epoch-seconds arithmetic (named dayofweek functions
# disagree across engines), micro-unit shares and load factors.
ORACLE["events_dow_hour_profile"] = f"""
WITH cells AS (
  SELECT (((epoch_us(ts) // 1000000) // 86400) + 3) % 7 AS dow,
    ((epoch_us(ts) // 1000000) % 86400) // 3600 AS hour,
    count(*) AS n_events,
    sum({fixed_sql("value", 6)}) AS sv_micros
  FROM events GROUP BY 1, 2
),
t AS (SELECT sum(n_events) AS tot FROM cells)
SELECT dow::BIGINT AS dow, hour::BIGINT AS hour,
  n_events::BIGINT AS n_events,
  (n_events * 1000000 // tot)::BIGINT AS share_e6,
  (n_events * 168 * 1000000 // tot)::BIGINT AS load_e6,
  (sv_micros // n_events)::BIGINT AS mean_value_micros
FROM cells CROSS JOIN t
"""

# r7d: neardup_label_conflict — label-noise audit per near-dup cluster;
# same recursive-CTE component oracle as dedup_components_star, joined
# back to the doc labels with the (count desc, lang asc) majority rule.
ORACLE["neardup_label_conflict"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")},
m AS (
  SELECT c.component, d.doc_id, d.lang, d.source
  FROM comp c JOIN documents d USING (doc_id)
),
ml AS (
  SELECT component, lang AS majority_lang FROM (
    SELECT component, lang,
      row_number() OVER (PARTITION BY component
                         ORDER BY count(*) DESC, lang ASC) AS rk
    FROM m GROUP BY component, lang)
  WHERE rk = 1
),
ag AS (
  SELECT component, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
    count(DISTINCT source) AS n_sources
  FROM m GROUP BY component HAVING count(*) >= 2
)
SELECT ag.component::BIGINT AS component, n_docs::BIGINT AS n_docs,
  n_langs::BIGINT AS n_langs, n_sources::BIGINT AS n_sources,
  majority_lang,
  (CASE WHEN n_langs > 1 THEN 1 ELSE 0 END)::BIGINT AS lang_conflict
FROM ag JOIN ml ON ag.component = ml.component
"""

# r7d: lsh_band_tuning — S-curve detection probabilities per (b, r)
# config over the measured pair-Jaccard distribution. Same CW pair base
# as minhash_accuracy_audit; powers evaluated by REPEATED SQUARING so
# no pow()/libm enters the hash (see the operator docstring).
ORACLE["lsh_band_tuning"] = f"""
WITH toks AS (SELECT doc_id AS id, {TOKS_SQL} AS t FROM documents),
tt AS (SELECT id, t FROM toks WHERE len(t) >= 3),
sh AS (
  SELECT DISTINCT id, {h60_sql("unnest(" + ngrams_sql("t", 3) + ")")} AS hs
  FROM tt
),
cw AS (SELECT * FROM (VALUES (0, 188173298, 62257558), (1, 1614569235, 1541888525), (2, 1123302577, 1183693761), (3, 941201756, 612741583), (4, 1915815023, 145743895), (5, 1042332867, 1469431003), (6, 1586907769, 1724705301), (7, 1367643000, 567634413), (8, 1182429425, 1450717929), (9, 1840887320, 92282879), (10, 2033346063, 1574816040), (11, 1426551802, 1173352586), (12, 2087082879, 168846213), (13, 1825997516, 891168106), (14, 124724675, 334069097), (15, 1102350415, 1146895919)) t(i, a, b)),
minima AS (
  SELECT id, i,
    min((a * (hs % 2147483647) + b) % 2147483647) AS m
  FROM sh CROSS JOIN cw GROUP BY 1, 2
),
nsz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
cands AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM minima a JOIN minima b ON a.i = b.i AND a.m = b.m AND a.id < b.id
),
inters AS (
  SELECT c.id1, c.id2, count(*)::BIGINT AS inter
  FROM cands c
  JOIN sh s1 ON s1.id = c.id1
  JOIN sh s2 ON s2.id = c.id2 AND s2.hs = s1.hs
  GROUP BY 1, 2
),
paired AS (
  SELECT coalesce(i.inter, 0) AS inter,
    n1.n + n2.n - coalesce(i.inter, 0) AS uni
  FROM cands c
  LEFT JOIN inters i ON i.id1 = c.id1 AND i.id2 = c.id2
  JOIN nsz n1 ON n1.id = c.id1
  JOIN nsz n2 ON n2.id = c.id2
),
bk AS (
  SELECT least(inter * 20 // uni, 19) AS jbucket, count(*) AS n_pairs
  FROM paired GROUP BY 1
),
cfg(bands, rows_per_band) AS (VALUES (64, 2), (32, 4), (16, 8), (8, 16)),
x0 AS (
  SELECT bands, rows_per_band, jbucket, n_pairs,
    (2 * jbucket + 1) / 40.0 AS s
  FROM bk CROSS JOIN cfg
),
x1 AS (SELECT *, s * s AS s2 FROM x0),
x2 AS (SELECT *, s2 * s2 AS s4 FROM x1),
x3 AS (SELECT *, s4 * s4 AS s8 FROM x2),
x4 AS (SELECT *, s8 * s8 AS s16 FROM x3),
x5 AS (
  SELECT *, 1.0 - CASE rows_per_band WHEN 2 THEN s2 WHEN 4 THEN s4
                  WHEN 8 THEN s8 ELSE s16 END AS q
  FROM x4
),
x6 AS (SELECT *, q * q AS q2 FROM x5),
x7 AS (SELECT *, q2 * q2 AS q4 FROM x6),
x8 AS (SELECT *, q4 * q4 AS q8 FROM x7),
x9 AS (SELECT *, q8 * q8 AS q16 FROM x8),
x10 AS (SELECT *, q16 * q16 AS q32 FROM x9),
x11 AS (SELECT *, q32 * q32 AS q64 FROM x10)
SELECT bands::BIGINT AS bands, rows_per_band::BIGINT AS rows_per_band,
  jbucket::BIGINT AS jbucket, n_pairs::BIGINT AS n_pairs,
  round(s, 6) AS s_mid,
  round(1.0 - CASE bands WHEN 8 THEN q8 WHEN 16 THEN q16
              WHEN 32 THEN q32 ELSE q64 END, 6) AS p_detect
FROM x11
"""

# r7d: packing_boundary_audit — cross-document attention mass of the
# first-fit packing plan; same lockstep recursive-CTE packer as
# seq_packing, rolled up with the all-integer (S^2 - ssq)/2 identity.
ORACLE["packing_boundary_audit"] = f"""
WITH RECURSIVE
sized AS (
  SELECT source, doc_id,
    ({h60_sql("doc_id::VARCHAR")} % 8)::INT
      AS bucket,
    least({raw_token_count_sql("text")}, 512)::BIGINT AS t
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id)
    AS rn
  FROM sized
),
ff(source, bucket, rn, doc_id, t, pack_idx, bins) AS (
  SELECT source, bucket, rn, doc_id, t, 0, [512 - t]::BIGINT[]
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.source, r.bucket, r.rn, r.doc_id, r.t,
    CASE WHEN fit IS NULL OR fit = 0 THEN len(f.bins) ELSE fit - 1 END,
    CASE WHEN fit IS NULL OR fit = 0 THEN list_append(f.bins, 512 - r.t)
         ELSE f.bins[1:fit-1] || [f.bins[fit] - r.t] || f.bins[fit+1:] END
  FROM ff f
  JOIN ranked r
    ON r.source = f.source AND r.bucket = f.bucket AND r.rn = f.rn + 1,
  LATERAL (SELECT list_position(list_transform(f.bins, x -> x >= r.t), true)
           AS fit) z
),
per_pack AS (
  SELECT source, (pack_idx * 8 + bucket)::BIGINT AS pack_id,
    sum(t) AS s, sum(t * t) AS ssq, count(*) AS nd
  FROM ff GROUP BY source, pack_id
)
SELECT source, count(*)::BIGINT AS n_packs, sum(nd)::BIGINT AS n_docs,
  sum(s)::BIGINT AS packed_tokens,
  ((count(*) * 512 - sum(s)) * 1000000 // (count(*) * 512))::BIGINT
    AS waste_e6,
  sum((s * s - ssq) // 2)::BIGINT AS crossdoc_pairs,
  sum(s * (s + 1) // 2)::BIGINT AS total_pairs,
  (sum((s * s - ssq) // 2) * 1000000 // sum(s * (s + 1) // 2))::BIGINT
    AS crossdoc_frac_e6
FROM per_pack GROUP BY source
"""

# r7e: preference_pair_build — extreme-rank DPO pair construction per
# source; both rank windows and the strict-margin filter mirrored.
ORACLE["preference_pair_build"] = f"""
WITH toks AS (SELECT source, doc_id, {TOKS_SQL} AS t FROM documents),
scored AS (
  SELECT source, doc_id,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t)
         ELSE 0 END AS q_e6
  FROM toks
),
best AS (
  SELECT source, doc_id AS chosen_id, q_e6 AS chosen_q_e6,
    row_number() OVER (PARTITION BY source
                       ORDER BY q_e6 DESC, doc_id ASC) AS rk
  FROM scored
),
worst AS (
  SELECT source, doc_id AS rejected_id, q_e6 AS rejected_q_e6,
    row_number() OVER (PARTITION BY source
                       ORDER BY q_e6 ASC, doc_id DESC) AS rk
  FROM scored
)
SELECT b.source, b.rk::BIGINT AS pair_rank, chosen_id, rejected_id,
  chosen_q_e6::BIGINT AS chosen_q_e6,
  rejected_q_e6::BIGINT AS rejected_q_e6,
  (chosen_q_e6 - rejected_q_e6)::BIGINT AS margin_e6
FROM best b JOIN worst w ON b.source = w.source AND b.rk = w.rk
WHERE b.rk <= 3 AND chosen_id <> rejected_id
  AND chosen_q_e6 > rejected_q_e6
"""

# r7e: join_skew_audit — hash-partition load table for the two event
# join-key axes; portable md5 partition assignment mirrored.
ORACLE["join_skew_audit"] = f"""
WITH ax AS (
  SELECT 'event_type' AS axis, event_type::VARCHAR AS k FROM events
  UNION ALL
  SELECT 'user_id', user_id::VARCHAR FROM events
),
keys AS (SELECT axis, k, count(*) AS c FROM ax GROUP BY axis, k),
parts AS (
  SELECT axis,
    {h60_sql("k")} % 32 AS partition_id,
    count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_key_rows
  FROM keys GROUP BY 1, 2
),
t AS (SELECT axis, sum(n_rows) AS tot FROM parts GROUP BY axis)
SELECT p.axis, partition_id::BIGINT AS partition_id,
  n_keys::BIGINT AS n_keys, n_rows::BIGINT AS n_rows,
  (n_rows * 32 * 1000000 // tot)::BIGINT AS load_e6,
  max_key_rows::BIGINT AS max_key_rows
FROM parts p JOIN t ON p.axis = t.axis
"""

# r7e: shard_layout_plan — LPT greedy over the per-source token
# aggregate, replayed as a lockstep recursive CTE carrying shard loads.
ORACLE["shard_layout_plan"] = f"""
WITH RECURSIVE
toks AS (SELECT source, len({TOKS_SQL}) AS n_tok FROM documents),
m AS (
  SELECT source, sum(n_tok) AS tokens, count(*) AS n_docs
  FROM toks GROUP BY source
),
r AS (
  SELECT *, row_number() OVER (ORDER BY tokens DESC, source ASC) AS rn
  FROM m
),
ff(rn, source, tokens, n_docs, shard_id, load_after, loads) AS (
  SELECT rn, source, tokens, n_docs, 0::BIGINT, tokens,
    [tokens, 0, 0, 0]::BIGINT[]
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.source, r.tokens, r.n_docs,
    (pos - 1)::BIGINT,
    f.loads[pos] + r.tokens,
    f.loads[1:pos-1] || [f.loads[pos] + r.tokens] || f.loads[pos+1:]
  FROM ff f JOIN r ON r.rn = f.rn + 1,
  LATERAL (SELECT list_position(f.loads, list_min(f.loads)) AS pos) z
)
SELECT source, tokens::BIGINT AS tokens, n_docs::BIGINT AS n_docs,
  shard_id::BIGINT AS shard_id, load_after::BIGINT AS shard_load_after
FROM ff
"""

# r7e: bootstrap_ci_quality — md5-deterministic Poisson bootstrap CI of
# per-source mean quality; integer CDF thresholds and order-statistic
# bounds mirrored exactly (see the operator docstring).
ORACLE["bootstrap_ci_quality"] = f"""
WITH toks AS (SELECT source, doc_id, {TOKS_SQL} AS t FROM documents),
scored AS (
  SELECT source, doc_id,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t)
         ELSE 0 END AS q_e6
  FROM toks
),
pt AS (SELECT source, sum(q_e6) // count(*) AS point_e6
       FROM scored GROUP BY source),
reps AS (
  SELECT source, doc_id, q_e6, b,
    {h60_sql("b::VARCHAR || ':' || doc_id::VARCHAR")} AS u
  FROM scored CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs
),
wt AS (
  SELECT source, b, q_e6,
    (u >= 424136118829305344)::BIGINT
    + (u >= 848272237658610688)::BIGINT
    + (u >= 1060340297073263360)::BIGINT
    + (u >= 1131029650211480960)::BIGINT
    + (u >= 1148701988496035328)::BIGINT
    + (u >= 1152236456152946176)::BIGINT AS w
  FROM reps
),
means AS (
  SELECT source, b, sum(w * q_e6) // sum(w) AS m
  FROM wt GROUP BY source, b HAVING sum(w) > 0
),
rk AS (
  SELECT source, m,
    row_number() OVER (PARTITION BY source ORDER BY m ASC, b ASC) AS rn,
    count(*) OVER (PARTITION BY source) AS nb
  FROM means
),
ci AS (
  SELECT source, max(nb)::BIGINT AS n_replicas,
    max(CASE WHEN rn = (nb * 5 + 99) // 100 THEN m END) AS boot_lo_e6,
    max(CASE WHEN rn = (nb * 95 + 99) // 100 THEN m END) AS boot_hi_e6
  FROM rk GROUP BY source
)
SELECT pt.source, point_e6::BIGINT AS point_e6, n_replicas,
  boot_lo_e6::BIGINT AS boot_lo_e6, boot_hi_e6::BIGINT AS boot_hi_e6,
  (boot_hi_e6 - boot_lo_e6)::BIGINT AS ci_width_e6
FROM pt JOIN ci ON pt.source = ci.source
"""

# r7f: ks_drift_quality — exact KS statistic per source vs rest via
# integer cross-multiplication on the (source x distinct-score) grid.
ORACLE["ks_drift_quality"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
scored AS (
  SELECT source,
    CASE WHEN len(t) > 0
         THEN (len(list_distinct(t)) * 1000000) // len(t)
         ELSE 0 END AS q_e6
  FROM toks
),
counts AS (SELECT source, q_e6, count(*) AS c
           FROM scored GROUP BY source, q_e6),
qs AS (SELECT DISTINCT q_e6 FROM counts),
srcs AS (SELECT source, sum(c) AS n_src FROM counts GROUP BY source),
tot AS (SELECT sum(c) AS n_all FROM counts),
pq AS (SELECT q_e6, sum(c) AS cq FROM counts GROUP BY q_e6),
grid AS (
  SELECT s.source, q.q_e6, s.n_src, t.n_all,
    coalesce(c.c, 0) AS c, pq.cq
  FROM srcs s CROSS JOIN qs q CROSS JOIN tot t
  LEFT JOIN counts c ON c.source = s.source AND c.q_e6 = q.q_e6
  JOIN pq ON pq.q_e6 = q.q_e6
),
cum AS (
  SELECT source, q_e6, n_src, n_all - n_src AS n_rest,
    sum(c) OVER (PARTITION BY source ORDER BY q_e6
                 ROWS UNBOUNDED PRECEDING) AS cum_src,
    sum(cq) OVER (PARTITION BY source ORDER BY q_e6
                  ROWS UNBOUNDED PRECEDING)
      - sum(c) OVER (PARTITION BY source ORDER BY q_e6
                     ROWS UNBOUNDED PRECEDING) AS cum_rest
  FROM grid
)
SELECT source, max(n_src)::BIGINT AS n_src, max(n_rest)::BIGINT AS n_rest,
  max(CASE WHEN n_rest > 0
      THEN abs(cum_src * n_rest - cum_rest * n_src) * 1000000
           // (n_src * n_rest) ELSE 0 END)::BIGINT AS ks_e6
FROM cum GROUP BY source
"""

# r7f: session_gap_sweep — sessionization-timeout calibration; the gap
# relation computed once, thresholds as conditional sums.
ORACLE["session_gap_sweep"] = """
WITH g AS (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
base AS (SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM g),
th AS (SELECT unnest([5, 15, 30, 60]) AS gap_minutes),
cnt AS (
  SELECT t.gap_minutes,
    sum((g.gap_us > t.gap_minutes::BIGINT * 60000000)::BIGINT) AS ng
  FROM th t CROSS JOIN g GROUP BY 1
)
SELECT gap_minutes::BIGINT AS gap_minutes, n_users::BIGINT AS n_users,
  n_events::BIGINT AS n_events,
  (n_users + ng)::BIGINT AS n_sessions,
  ((n_users + ng) * 1000000 // n_users)::BIGINT AS sessions_per_user_e6,
  (n_events * 1000000 // (n_users + ng))::BIGINT AS events_per_session_e6
FROM cnt CROSS JOIN base
"""

# r7f: dedup_threshold_sweep — removal-volume curve per Jaccard cutoff
# over the shared CW pair base; integer threshold comparisons.
ORACLE["dedup_threshold_sweep"] = f"""
WITH toks AS (SELECT doc_id AS id, {TOKS_SQL} AS t FROM documents),
tt AS (SELECT id, t FROM toks WHERE len(t) >= 3),
sh AS (
  SELECT DISTINCT id, {h60_sql("unnest(" + ngrams_sql("t", 3) + ")")} AS hs
  FROM tt
),
cw AS (SELECT * FROM (VALUES (0, 188173298, 62257558), (1, 1614569235, 1541888525), (2, 1123302577, 1183693761), (3, 941201756, 612741583), (4, 1915815023, 145743895), (5, 1042332867, 1469431003), (6, 1586907769, 1724705301), (7, 1367643000, 567634413), (8, 1182429425, 1450717929), (9, 1840887320, 92282879), (10, 2033346063, 1574816040), (11, 1426551802, 1173352586), (12, 2087082879, 168846213), (13, 1825997516, 891168106), (14, 124724675, 334069097), (15, 1102350415, 1146895919)) t(i, a, b)),
minima AS (
  SELECT id, i,
    min((a * (hs % 2147483647) + b) % 2147483647) AS m
  FROM sh CROSS JOIN cw GROUP BY 1, 2
),
nsz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
cands AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM minima a JOIN minima b ON a.i = b.i AND a.m = b.m AND a.id < b.id
),
inters AS (
  SELECT c.id1, c.id2, count(*)::BIGINT AS inter
  FROM cands c
  JOIN sh s1 ON s1.id = c.id1
  JOIN sh s2 ON s2.id = c.id2 AND s2.hs = s1.hs
  GROUP BY 1, 2
),
paired AS (
  SELECT c.id1, c.id2, coalesce(i.inter, 0) AS inter,
    n1.n + n2.n - coalesce(i.inter, 0) AS uni
  FROM cands c
  LEFT JOIN inters i ON i.id1 = c.id1 AND i.id2 = c.id2
  JOIN nsz n1 ON n1.id = c.id1
  JOIN nsz n2 ON n2.id = c.id2
),
th AS (SELECT unnest([5, 6, 7, 8, 9]) AS t10),
qual AS (
  SELECT t.t10, p.id1, p.id2 FROM paired p CROSS JOIN th t
  WHERE p.inter * 10 >= p.uni * t.t10
),
np AS (SELECT t10, count(*) AS n_pairs FROM qual GROUP BY t10),
nd AS (
  SELECT t10, count(DISTINCT d) AS n_docs FROM (
    SELECT t10, id1 AS d FROM qual
    UNION ALL SELECT t10, id2 FROM qual)
  GROUP BY t10
)
SELECT (th.t10 * 10)::BIGINT AS threshold_pct,
  coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
  coalesce(nd.n_docs, 0)::BIGINT AS n_docs_touched
FROM th LEFT JOIN np ON th.t10 = np.t10
LEFT JOIN nd ON th.t10 = nd.t10
"""

# r7f: event_pair_itemsets — (user, day) basket pair support + lift in
# micro-units; day from epoch-us floor division (the portable rule).
ORACLE["event_pair_itemsets"] = """
WITH items AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day, event_type
  FROM events
),
nb AS (SELECT count(*) AS nb FROM
       (SELECT DISTINCT user_id, day FROM items)),
supp AS (SELECT event_type, count(*) AS s FROM items GROUP BY 1),
pairs AS (
  SELECT a.event_type AS item_a, b.event_type AS item_b,
    count(*) AS support
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, support::BIGINT AS support,
  sa.s::BIGINT AS supp_a, sb.s::BIGINT AS supp_b,
  nb.nb::BIGINT AS n_baskets,
  (support * nb.nb * 1000000 // (sa.s * sb.s))::BIGINT AS lift_e6
FROM pairs
JOIN supp sa ON sa.event_type = item_a
JOIN supp sb ON sb.event_type = item_b
CROSS JOIN nb
"""

# r7g: active_user_ratios — DAU/WAU/MAU + stickiness per observed day;
# sliding distincts via the forward contribution explode, mirrored.
ORACLE["active_user_ratios"] = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT day, count(*) AS wau FROM (
    SELECT DISTINCT user_id, u.day + g.i AS day
    FROM ud u, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g)
  GROUP BY day
),
mau AS (
  SELECT day, count(*) AS mau FROM (
    SELECT DISTINCT user_id, u.day + g.i AS day
    FROM ud u, LATERAL (SELECT unnest(generate_series(0, 29)) AS i) g)
  GROUP BY day
)
SELECT d.day::BIGINT AS day, dau::BIGINT AS dau, wau::BIGINT AS wau,
  mau::BIGINT AS mau,
  (dau * 1000000 // mau)::BIGINT AS stickiness_e6
FROM days d
JOIN dau ON d.day = dau.day
JOIN wau ON d.day = wau.day
JOIN mau ON d.day = mau.day
"""

# r7g: customer_rfm_segments — deterministic ntile(5) RFM cube; both
# engines share the (metric, custkey) total order and exact cents.
ORACLE["customer_rfm_segments"] = """
WITH pc AS (
  SELECT o_custkey,
    max(epoch_us(o_orderdate::TIMESTAMP) // 86400000000) AS last_day,
    count(*) AS freq,
    (sum(o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS spend_cents
  FROM orders GROUP BY o_custkey
),
sc AS (
  SELECT o_custkey, spend_cents,
    ntile(5) OVER (ORDER BY last_day ASC, o_custkey ASC) AS r_score,
    ntile(5) OVER (ORDER BY freq ASC, o_custkey ASC) AS f_score,
    ntile(5) OVER (ORDER BY spend_cents ASC, o_custkey ASC) AS m_score
  FROM pc
)
SELECT r_score::BIGINT AS r_score, f_score::BIGINT AS f_score,
  m_score::BIGINT AS m_score, count(*)::BIGINT AS n_customers,
  (sum(spend_cents) // count(*))::BIGINT AS mean_spend_cents
FROM sc GROUP BY 1, 2, 3
"""

# r7h: watermark_lateness_audit — lateness vs running event-time max in
# arrival (event_id) order; order-statistic percentiles at exact ranks.
ORACLE["watermark_lateness_audit"] = """
WITH late AS (
  SELECT event_type, event_id,
    max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                            ROWS UNBOUNDED PRECEDING)
      - epoch_us(ts) AS late_us
  FROM events
),
rk AS (
  SELECT event_type, late_us,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY late_us ASC, event_id ASC) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM late
)
SELECT event_type, max(n)::BIGINT AS n_events,
  sum((late_us > 0)::BIGINT)::BIGINT AS n_late,
  (sum((late_us > 0)::BIGINT) * 1000000 // max(n))::BIGINT
    AS late_frac_e6,
  max(CASE WHEN rn = (n + 1) // 2 THEN late_us END)::BIGINT
    AS p50_late_us,
  max(CASE WHEN rn = (n * 95 + 99) // 100 THEN late_us END)::BIGINT
    AS p95_late_us,
  max(late_us)::BIGINT AS max_late_us
FROM rk GROUP BY event_type
"""

# r7h: join_cardinality_audit — CBO estimate vs exact histogram-derived
# join size for the three natural joins; same formulas, exact integers.
ORACLE["join_cardinality_audit"] = """
WITH j AS (
  SELECT 'customer_orders' AS join_name, c_custkey::VARCHAR AS k,
    'a' AS side FROM customer
  UNION ALL SELECT 'customer_orders', o_custkey::VARCHAR, 'b' FROM orders
  UNION ALL SELECT 'orders_lineitem', o_orderkey::VARCHAR, 'a' FROM orders
  UNION ALL SELECT 'orders_lineitem', l_orderkey::VARCHAR, 'b' FROM lineitem
  UNION ALL SELECT 'events_orders', user_id::VARCHAR, 'a' FROM events
  UNION ALL SELECT 'events_orders', o_custkey::VARCHAR, 'b' FROM orders
),
h AS (SELECT join_name, side, k, count(*) AS c FROM j GROUP BY 1, 2, 3),
s AS (
  SELECT join_name,
    sum(CASE WHEN side = 'a' THEN c END) AS rows_a,
    sum(CASE WHEN side = 'b' THEN c END) AS rows_b,
    sum(CASE WHEN side = 'a' THEN 1 END) AS ndv_a,
    sum(CASE WHEN side = 'b' THEN 1 END) AS ndv_b
  FROM h GROUP BY join_name
),
act AS (
  SELECT a.join_name, coalesce(sum(a.c * b.c), 0) AS actual_rows
  FROM h a JOIN h b ON a.join_name = b.join_name AND a.k = b.k
   AND a.side = 'a' AND b.side = 'b'
  GROUP BY a.join_name
)
SELECT s.join_name, rows_a::BIGINT AS rows_a, rows_b::BIGINT AS rows_b,
  ndv_a::BIGINT AS ndv_a, ndv_b::BIGINT AS ndv_b,
  (rows_a * rows_b // greatest(ndv_a, ndv_b))::BIGINT AS est_rows,
  coalesce(act.actual_rows, 0)::BIGINT AS actual_rows,
  (CASE WHEN rows_a * rows_b // greatest(ndv_a, ndv_b) > 0 THEN
    coalesce(act.actual_rows, 0) * 1000000
      // (rows_a * rows_b // greatest(ndv_a, ndv_b))
   ELSE 0 END)::BIGINT AS err_ratio_e6
FROM s LEFT JOIN act ON s.join_name = act.join_name
"""

# r7h: fightin_words — Monroe et al. prior-smoothed log-odds z per
# source; rank on the 6-dp-rounded z (term asc ties), formulas mirrored.
ORACLE["fightin_words"] = f"""
WITH toks AS (SELECT source, {TOKS_SQL} AS t FROM documents),
counts AS (
  SELECT source, w, count(*) AS y_iw
  FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY source, w
),
totals AS (SELECT w, sum(y_iw) AS y_w FROM counts GROUP BY w),
ns AS (SELECT source, sum(y_iw) AS n_i FROM counts GROUP BY source),
na AS (SELECT sum(y_iw) AS n FROM counts),
grid AS (
  SELECT s.source, t.w, s.n_i, t.y_w, na.n,
    coalesce(c.y_iw, 0) AS y_iw
  FROM ns s CROSS JOIN totals t CROSS JOIN na
  LEFT JOIN counts c ON c.source = s.source AND c.w = t.w
),
sc AS (
  SELECT source, w, y_iw,
    CASE WHEN (n_i + 1000.0 - y_iw - 1000.0 * y_w / n) > 0
          AND (n - n_i + 1000.0 - (y_w - y_iw) - 1000.0 * y_w / n) > 0
    THEN round(
      (ln((y_iw + 1000.0 * y_w / n)
          / (n_i + 1000.0 - y_iw - 1000.0 * y_w / n))
       - ln((y_w - y_iw + 1000.0 * y_w / n)
            / (n - n_i + 1000.0 - (y_w - y_iw) - 1000.0 * y_w / n)))
      / sqrt(1.0 / (y_iw + 1000.0 * y_w / n)
             + 1.0 / (y_w - y_iw + 1000.0 * y_w / n)), 6)
    ELSE 0.0 END AS z
  FROM grid
),
rk AS (
  SELECT source, w, y_iw, z,
    row_number() OVER (PARTITION BY source ORDER BY z DESC, w ASC)
      AS rank
  FROM sc
)
SELECT source, rank::BIGINT AS rank, w AS term, y_iw::BIGINT AS y_iw, z
FROM rk WHERE rank <= 5
"""

# r7i: events_cusum_changepoint — all-integer Page CUSUM over daily
# counts, lockstep recursive-CTE recurrence, no float anywhere.
ORACLE["events_cusum_changepoint"] = """
WITH RECURSIVE
daily AS (
  SELECT event_type, date_trunc('day', ts)::TIMESTAMP::VARCHAR AS day,
    count(*) AS x
  FROM events GROUP BY 1, 2
),
meta AS (
  SELECT event_type, sum(x) AS t_total, count(*) AS n_days
  FROM daily GROUP BY event_type
),
idx AS (
  SELECT d.event_type, d.day, d.x, m.t_total, m.n_days,
    row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t
  FROM daily d JOIN meta m ON d.event_type = m.event_type
),
cu AS (
  SELECT event_type, day, x, t_total, n_days, t,
    greatest(0, x * n_days - t_total) AS s
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.day, i.x, i.t_total, i.n_days, i.t,
    greatest(0, c.s + (i.x * i.n_days - i.t_total))
  FROM cu c JOIN idx i
    ON i.event_type = c.event_type AND i.t = c.t + 1
)
SELECT event_type, day, x::BIGINT AS daily_count,
  s::BIGINT AS cusum_scaled,
  (s > 2 * t_total)::BIGINT AS shift_flag
FROM cu
"""

# r7i: kwic_concordance — keyword-in-context page for 'spark', width 3;
# 1-based DuckDB slices mirrored to Spark's slice() bounds, 0-based pos.
ORACLE["kwic_concordance"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
hits AS (
  SELECT doc_id, t, p
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS p) g
  WHERE t[p] = 'spark'
)
SELECT doc_id, (p - 1)::BIGINT AS pos,
  coalesce(array_to_string(t[greatest(1, p - 3):p - 1], ' '), '')
    AS left_ctx,
  t[p] AS term,
  coalesce(array_to_string(t[p + 1:p + 3], ' '), '') AS right_ctx
FROM hits ORDER BY doc_id, pos LIMIT 50
"""

# r7i: ivm_orders_agg — the oracle recomputes the view FROM SCRATCH on
# the merged snapshot; the Spark side only applies deltas. A hash match
# certifies the self-maintainability algebra (see the docstring).
ORACLE["ivm_orders_agg"] = """
WITH orders0 AS (
  SELECT o_orderkey, o_orderstatus,
    (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS cents
  FROM orders
),
changes AS (
  SELECT o_orderkey, o_orderstatus, cents + 1000 AS cents, 'U' AS op
  FROM orders0 WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, cents, 'D'
  FROM orders0 WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders0),
    'N', cents, 'I'
  FROM orders0 WHERE o_orderkey % 10 = 2
),
merged AS (
  SELECT coalesce(c.o_orderkey, t.o_orderkey) AS o_orderkey,
    CASE WHEN c.op IN ('I','U') THEN c.o_orderstatus
         ELSE t.o_orderstatus END AS o_orderstatus,
    CASE WHEN c.op IN ('I','U') THEN c.cents ELSE t.cents END AS cents
  FROM orders0 t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
  sum(cents)::BIGINT AS total_cents
FROM merged GROUP BY 1
"""

# r7j: orders_cohort_ltv — cohort LTV triangle; integer year*12+month
# arithmetic (months_between differs across engines), exact cents.
ORACLE["orders_cohort_ltv"] = """
WITH o AS (
  SELECT o_custkey,
    year(o_orderdate) * 12 + month(o_orderdate) AS ym,
    (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS cents
  FROM orders
),
f AS (SELECT o_custkey, min(ym) AS ym0 FROM o GROUP BY o_custkey),
cells AS (
  SELECT ym0 AS cohort_ym, o.ym - f.ym0 AS k,
    count(DISTINCT o.o_custkey) AS n_active, sum(cents) AS spend_cents
  FROM o JOIN f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT (cohort_ym // 12)::BIGINT AS cohort_year,
  (cohort_ym % 12)::BIGINT AS cohort_month0,
  k::BIGINT AS k, n_active::BIGINT AS n_active,
  spend_cents::BIGINT AS spend_cents,
  sum(spend_cents) OVER (PARTITION BY cohort_ym ORDER BY k
                         ROWS UNBOUNDED PRECEDING)::BIGINT
    AS cum_spend_cents
FROM cells
"""

# r7j: conversion_attribution — last-touch credit via the one-shuffle
# union window (asof pattern), exact order-statistic lag percentiles.
ORACLE["conversion_attribution"] = """
WITH u AS (
  SELECT user_id AS k, epoch_us(ts) AS t_us, 0 AS side,
    event_type, event_id
  FROM events
  UNION ALL
  SELECT o_custkey, epoch_us(o_orderdate::TIMESTAMP), 1, NULL, NULL
  FROM orders
),
tagged AS (
  SELECT k, t_us, side,
    last_value(event_type IGNORE NULLS) OVER w AS last_type,
    last_value(CASE WHEN side = 0 THEN t_us END IGNORE NULLS) OVER w
      AS last_ev_us
  FROM u
  WINDOW w AS (PARTITION BY k ORDER BY t_us, side, event_id
               ROWS UNBOUNDED PRECEDING)
),
conv AS (
  SELECT coalesce(last_type, '(none)') AS credit,
    t_us - last_ev_us AS lag_us
  FROM tagged WHERE side = 1
),
rk AS (
  SELECT credit, lag_us,
    row_number() OVER (PARTITION BY credit
                       ORDER BY lag_us ASC NULLS LAST) AS rn,
    count(*) OVER (PARTITION BY credit) AS n
  FROM conv
)
SELECT credit, max(n)::BIGINT AS n_conversions,
  max(CASE WHEN rn = (n + 1) // 2 THEN lag_us END)::BIGINT
    AS p50_lag_us,
  max(CASE WHEN rn = (n * 95 + 99) // 100 THEN lag_us END)::BIGINT
    AS p95_lag_us
FROM rk GROUP BY credit
"""

# r7k: user_active_streaks — gaps-and-islands on exact integer day
# numbers; the argmax tie (earliest start among equal-longest islands)
# is a filtered min on both engines.
ORACLE["user_active_streaks"] = f"""
WITH days AS (
  SELECT DISTINCT user_id,
         {day_index_sql('ts')} AS d
  FROM events
),
isl AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
),
islands AS (
  SELECT user_id, grp, min(d) AS start_d, count(*)::BIGINT AS len
  FROM isl GROUP BY 1, 2
),
m AS (
  SELECT user_id, grp, start_d, len,
         max(len) OVER (PARTITION BY user_id) AS mx
  FROM islands
)
SELECT user_id,
       count(*)::BIGINT AS n_streaks,
       sum(len)::BIGINT AS n_active_days,
       max(len)::BIGINT AS longest_streak,
       {index_date_sql(
           'min(CASE WHEN len = mx THEN start_d END)::INTEGER')
       }::DATE::VARCHAR AS longest_streak_start
FROM m GROUP BY user_id
"""

# r7k: events_acf — Pearson sums are exact BIGINT (daily counts are
# integers); only the final ratio divides in DOUBLE and floor-rounds at
# 6 dp, the repo's cross-engine float convention.
ORACLE["events_acf"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7])::BIGINT AS lag),
pairs AS (
  SELECT a.event_type, lags.lag, a.x AS x, b.x AS y
  FROM daily a
  CROSS JOIN lags
  JOIN daily b ON b.event_type = a.event_type AND b.d = a.d - lags.lag
),
g AS (
  SELECT event_type, lag, count(*)::BIGINT AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sx2, sum(y * y) AS sy2
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag, n AS n_pairs,
       CASE WHEN (n * sx2 - sx * sx) * (n * sy2 - sy * sy) > 0 THEN
         {half_up_sql('''(n * sxy - sx * sy)::DOUBLE
               / sqrt(((n * sx2 - sx * sx) * (n * sy2 - sy * sy))::DOUBLE)''', 6)}
       END AS acf
FROM g
"""

# r7k: session_concurrency — the oracle rebuilds the same ±1 boundary
# stream (sessionized's sessions, live on [first, last + gap)) plus the
# midnight delta-0 probes, and takes one global running sum; ties order
# by (t_us, delta) on both engines, so ends release before starts
# acquire at the same microsecond.
ORACLE["session_concurrency"] = f"""
WITH {SESSIONIZED_SQL},
sess AS (
  SELECT epoch_us(min(ts)) AS s_us,
         epoch_us(max(ts)) + {SESSION_GAP_US} AS e_us
  FROM sessionized GROUP BY user_id, session_id
),
b AS (
  SELECT s_us AS t_us, 1::BIGINT AS delta FROM sess
  UNION ALL
  SELECT e_us AS t_us, -1::BIGINT AS delta FROM sess
),
rng AS (
  SELECT min(t_us) // 86400000000 AS d0, max(t_us) // 86400000000 AS d1
  FROM b
),
probes AS (
  SELECT unnest(range(d0, d1 + 1)) * 86400000000 AS t_us, 0::BIGINT AS delta
  FROM rng
),
allb AS (SELECT * FROM b UNION ALL SELECT * FROM probes),
c AS (
  SELECT t_us, delta,
         sum(delta) OVER (ORDER BY t_us, delta ROWS UNBOUNDED PRECEDING) AS conc
  FROM allb
)
SELECT (DATE '1970-01-01' + to_days((t_us // 86400000000)::INTEGER))::DATE::VARCHAR AS day,
       max(conc)::BIGINT AS max_concurrency,
       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_sessions_started,
       sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)::BIGINT AS n_sessions_ended
FROM c GROUP BY 1
"""

# r7k: events_holt_linear — lockstep recursive CTE stepping the exact
# Holt recurrence (seed l_1 = x_1, b_1 = 0) in the same multiply-add
# order as the Spark fold; inputs are exact BIGINT daily counts, so the
# float chain is bit-identical and floor-rounds at 6 dp.
ORACLE["events_holt_linear"] = f"""
WITH RECURSIVE idx AS (
  SELECT event_type, d, x,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS t
  FROM (
    SELECT event_type,
           {day_index_sql('ts')} AS d,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1, 2)
),
h AS (
  SELECT event_type, d, x, t,
         x::DOUBLE AS l, 0.0::DOUBLE AS b, NULL::DOUBLE AS f
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.d, i.x, i.t,
         0.5 * i.x::DOUBLE + 0.5 * (h.l + h.b),
         0.3 * ((0.5 * i.x::DOUBLE + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b,
         h.l + h.b
  FROM h JOIN idx i ON i.event_type = h.event_type AND i.t = h.t + 1
)
SELECT event_type,
       {index_date_sql('d::INTEGER')}::DATE::VARCHAR AS day,
       x AS n_events,
       {half_up_sql("l", 6)} AS level,
       {half_up_sql("b", 6)} AS trend,
       {half_up_sql("f", 6)} AS forecast,
       {half_up_sql("abs(x::DOUBLE - f)", 6)} AS abs_error
FROM h
"""

# r7l: pii_redact_audit — the oracle replays the md5 contact-string
# recipe byte-identically (DuckDB string literals do not unescape
# backslashes, so the shared regex constants paste verbatim).
from hadoop_mapreduce_spark.operators.textstats import (  # noqa: E402
    PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE)

_PII_MASS = ("coalesce(list_sum(list_transform("
             "regexp_extract_all(ftxt, '{p}'), x -> length(x))), 0)")
ORACLE["pii_redact_audit"] = f"""
WITH base AS (
  SELECT source, doc_id, text, md5(doc_id::VARCHAR) AS h,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT AS n1,
    ('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::UBIGINT::BIGINT AS n2,
    ('0x' || substr(md5(doc_id::VARCHAR), 17, 8))::UBIGINT::BIGINT AS n3,
    ('0x' || substr(md5(doc_id::VARCHAR), 25, 8))::UBIGINT::BIGINT AS n4
  FROM documents
),
full_t AS (
  SELECT source,
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || substr(h, 1, 6)
              || '@mail' || substr(h, 7, 4) || '.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call +1-'
              || (n1 % 900 + 100)::VARCHAR || '-'
              || (n2 % 900 + 100)::VARCHAR || '-'
              || (n3 % 9000 + 1000)::VARCHAR ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' host '
              || (n1 % 256)::VARCHAR || '.' || (n2 % 256)::VARCHAR || '.'
              || (n3 % 256)::VARCHAR || '.' || (n4 % 256)::VARCHAR
            ELSE '' END AS ftxt
  FROM base
),
pd AS (
  SELECT source,
    len(regexp_extract_all(ftxt, '{PII_EMAIL_RE}'))::BIGINT AS n_email,
    len(regexp_extract_all(ftxt, '{PII_PHONE_RE}'))::BIGINT AS n_phone,
    len(regexp_extract_all(ftxt, '{PII_IP_RE}'))::BIGINT AS n_ip,
    ({_PII_MASS.format(p=PII_EMAIL_RE)}
     + {_PII_MASS.format(p=PII_PHONE_RE)}
     + {_PII_MASS.format(p=PII_IP_RE)})::BIGINT AS pii_chars
  FROM full_t
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)::BIGINT
    AS docs_with_pii,
  sum(n_email)::BIGINT AS n_emails,
  sum(n_phone)::BIGINT AS n_phones,
  sum(n_ip)::BIGINT AS n_ips,
  sum(pii_chars)::BIGINT AS pii_chars
FROM pd GROUP BY source
"""

# r7l: readability_scores — integer totals per source, one float
# division site (the Flesch formula), floor-rounded at 6 dp.
ORACLE["readability_scores"] = f"""
WITH pd AS (
  SELECT source,
    len(toks)::BIGINT AS w,
    coalesce(list_sum(list_transform(toks,
      t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))), 0)
      ::BIGINT AS sy,
    len(list_filter(list_transform(toks,
      t -> len(regexp_extract_all(t, '[aeiouy]+'))), c -> c >= 3))
      ::BIGINT AS poly
  FROM (SELECT source, {{toks}} AS toks FROM documents)
),
g AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS words,
         sum(sy)::BIGINT AS syllables, sum(poly)::BIGINT AS polysyllables,
         sum((w + 15) // 16)::BIGINT AS sentences
  FROM pd GROUP BY source
)
SELECT source, n_docs, words, syllables, polysyllables, sentences,
  CASE WHEN words > 0 THEN
    {half_up_sql('''206.835 - 1.015 * (words::DOUBLE / sentences::DOUBLE)
           - 84.6 * (syllables::DOUBLE / words::DOUBLE)''', 6)}
  END AS flesch,
  CASE WHEN words > 0 THEN (syllables * 1000000 // words) END
    AS syl_per_word_e6,
  CASE WHEN words > 0 THEN (polysyllables * 1000000 // words) END
    AS poly_rate_e6
FROM g
""".replace("{toks}", TOKS_SQL)

# r7l: benford_audit — shares/counts exact integers; the Benford
# expectation and chi2 contribution are the only floats (per-digit
# transcendental constants, 6-dp floor; identical expression trees —
# the deviation is squared by plain multiplication, never pow()).
ORACLE["benford_audit"] = f"""
WITH g AS (
  SELECT substr(ac::VARCHAR, 1, 1)::BIGINT AS digit,
         count(*)::BIGINT AS n
  FROM (SELECT abs((o_totalprice::DECIMAL(18,2) * 100)::BIGINT) AS ac
        FROM orders)
  WHERE ac > 0 GROUP BY 1
),
t AS (SELECT sum(n)::BIGINT AS total FROM g)
SELECT digit, n,
  (n * 1000000 // total)::BIGINT AS share_e6,
  {half_up_sql("log10(1.0 + 1.0 / digit::DOUBLE)", 6)} AS benford_share,
  {half_up_sql('''((n::DOUBLE - total::DOUBLE * log10(1.0 + 1.0 / digit::DOUBLE))
         * (n::DOUBLE - total::DOUBLE * log10(1.0 + 1.0 / digit::DOUBLE)))
        / (total::DOUBLE * log10(1.0 + 1.0 / digit::DOUBLE))''', 6)}
    AS chi2_contrib
FROM g, t
"""

# r7l: orders_abc_pareto — all-integer 1e-4-dollar revenue units
# (HUGEINT on this side, DECIMAL(38,0) on Spark's), integer class
# boundaries, floor micro-unit shares.
ORACLE["orders_abc_pareto"] = """
WITH pp AS (
  SELECT l_partkey,
         sum(((l_extendedprice::DECIMAL(18,2) * 100)::BIGINT)
             * (100 - (l_discount::DECIMAL(4,2) * 100)::BIGINT))::HUGEINT
           AS rev
  FROM lineitem GROUP BY 1
),
rk AS (
  SELECT l_partkey, rev,
         row_number() OVER (ORDER BY rev DESC, l_partkey) AS rnk,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM pp
),
t AS (SELECT sum(rev)::HUGEINT AS total FROM pp)
SELECT CASE WHEN 100 * cum <= 80 * total THEN 'A'
            WHEN 100 * cum <= 95 * total THEN 'B'
            ELSE 'C' END AS abc_class,
       count(*)::BIGINT AS n_parts,
       sum(rev)::BIGINT AS revenue_e4,
       (sum(rev) * 1000000 // max(total))::BIGINT AS share_e6,
       min(rnk)::BIGINT AS first_rank,
       max(rnk)::BIGINT AS last_rank
FROM rk, t
GROUP BY 1
"""

# r7m: label_propagation_communities — 4 rounds of the LPA twin.
ORACLE["label_propagation_communities"] = f"""
WITH j AS ({_NEAR_DUPS}),
{_lpa_sql("j", 4)}
SELECT v AS doc_id, lbl AS community,
       count(*) OVER (PARTITION BY lbl)::BIGINT AS community_size
FROM lpa
"""

# r7m: sax_motifs — symbols from comparisons over an identically-built
# z expression (exact BIGINT window sums -> one double expression
# tree); breakpoint ties are measure-zero, zero-variance series -> 'b'.
ORACLE["sax_motifs"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, d, x,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(x) OVER (PARTITION BY event_type) AS s,
         sum(x * x) OVER (PARTITION BY event_type) AS s2
  FROM daily
),
symd AS (
  SELECT event_type, d,
    CASE
      WHEN (s2::DOUBLE / n::DOUBLE)
           - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE) <= 0
        THEN 'b'
      WHEN (x::DOUBLE - s::DOUBLE / n::DOUBLE)
           / sqrt((s2::DOUBLE / n::DOUBLE)
                  - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
           < -0.6745 THEN 'a'
      WHEN (x::DOUBLE - s::DOUBLE / n::DOUBLE)
           / sqrt((s2::DOUBLE / n::DOUBLE)
                  - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
           < 0 THEN 'b'
      WHEN (x::DOUBLE - s::DOUBLE / n::DOUBLE)
           / sqrt((s2::DOUBLE / n::DOUBLE)
                  - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
           < 0.6745 THEN 'c'
      ELSE 'd' END AS sym
  FROM stats
),
mot AS (
  SELECT event_type,
         sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w AS motif,
         d,
         lead(d, 1) OVER w AS d1,
         lead(d, 2) OVER w AS d2
  FROM symd
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, motif, count(*)::BIGINT AS n
FROM mot WHERE d1 = d + 1 AND d2 = d + 2
GROUP BY 1, 2
"""

# r7n: dedup_chain_audit — the oracle rebuilds the exact edge set and
# the min-label closure, then the same cluster-keyed rollups; density
# is integer micro-units, the weakest edge reuses the pair base's 6-dp
# rounding (round is monotone, so min-then-round == round-then-min).
ORACLE["dedup_chain_audit"] = f"""
WITH RECURSIVE
j AS ({_NEAR_DUPS}),
{_components("SELECT id1 FROM j UNION SELECT id2 FROM j", "j")},
sizes AS (SELECT component, count(*)::BIGINT AS size FROM comp GROUP BY 1),
e2 AS (
  SELECT c.component, j.jaccard
  FROM j JOIN comp c ON c.doc_id = j.id1
)
SELECT e2.component, max(s.size)::BIGINT AS size,
       count(*)::BIGINT AS n_edges,
       round(min(jaccard), 6) AS min_edge_jaccard,
       (count(*) * 2000000 // (max(s.size) * (max(s.size) - 1)))::BIGINT
         AS density_e6,
       count(*) * 2 < max(s.size) * (max(s.size) - 1) AS chained
FROM e2 JOIN sizes s ON s.component = e2.component
GROUP BY 1
"""

# r7n: vocab_growth_heaps — md5-bucket nested prefixes replace "first k
# docs in some global order"; totals exact BIGINT, beta the one float.
ORACLE["vocab_growth_heaps"] = f"""
WITH base AS (
  SELECT {h60_sql("doc_id::VARCHAR")} % 16
           AS b,
         {TOKS_SQL} AS t
  FROM documents
),
per_bucket AS (
  SELECT b, count(*)::BIGINT AS docs, sum(len(t))::BIGINT AS tokens
  FROM base GROUP BY b
),
term_min AS (
  SELECT term, min(b) AS bmin FROM (
    SELECT b, unnest(t) AS term FROM base) GROUP BY term
),
nv AS (SELECT bmin AS b, count(*)::BIGINT AS nv FROM term_min GROUP BY 1),
cum AS (
  SELECT p.b AS checkpoint,
         sum(p.docs) OVER w AS docs_cum,
         sum(p.tokens) OVER w AS tokens_cum,
         sum(coalesce(nv.nv, 0)) OVER w AS vocab_cum
  FROM per_bucket p LEFT JOIN nv ON nv.b = p.b
  WINDOW w AS (ORDER BY p.b ROWS UNBOUNDED PRECEDING)
)
SELECT checkpoint, docs_cum::BIGINT AS docs_cum,
       tokens_cum::BIGINT AS tokens_cum, vocab_cum::BIGINT AS vocab_cum,
       CASE WHEN vocab_cum > 1 AND tokens_cum > 1 THEN
         {half_up_sql("ln(vocab_cum::DOUBLE) / ln(tokens_cum::DOUBLE)", 6)}
       END AS heaps_beta
FROM cum
"""

# r7o: embedding_outlier_scores — float32-exact per-dim stats (a
# constant dimension's variance is exactly 0.0), order-fixed left fold
# per vector (list() ORDER BY i -> list_reduce == Spark's aggregate
# chain starting 0.0 + t1), micro-unit ranking.
ORACLE["embedding_outlier_scores"] = f"""
WITH ex AS (
  SELECT vec_id, i, e[i]::DOUBLE AS x
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g
),
dims AS (
  SELECT i, sum(x) / count(*) AS m,
         sum(x * x) / count(*) - (sum(x) / count(*)) * (sum(x) / count(*))
           AS v
  FROM ex GROUP BY i
),
terms AS (
  SELECT ex.vec_id,
         CASE WHEN d.v > 0 THEN (ex.x - d.m) * (ex.x - d.m) / d.v
              ELSE 0.0 END AS t,
         ex.i
  FROM ex JOIN dims d ON d.i = ex.i
),
scored AS (
  SELECT t.vec_id, e.label,
         list_reduce(list_prepend(0.0, list(t.t ORDER BY t.i)),
                     (a, b) -> a + b) AS score
  FROM terms t JOIN embeddings e ON e.vec_id = t.vec_id
  GROUP BY t.vec_id, e.label
)
SELECT row_number() OVER (ORDER BY {fixed_sql("score", 6)} DESC,
                          vec_id)::BIGINT AS rank,
       vec_id, label::BIGINT AS label,
       {fixed_sql("score", 6)} AS score_e6
FROM scored
ORDER BY rank LIMIT 20
"""

# r7p: orders_interarrival_profile — exact integer day gaps, floor
# micro-day mean; single-order customers are real NULL-gap rows.
ORACLE["orders_interarrival_profile"] = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         epoch_us(o_orderdate) // 86400000000 AS day
  FROM orders
),
g AS (
  SELECT o_custkey, day,
         day - lag(day) OVER (PARTITION BY o_custkey
                              ORDER BY day, o_orderkey) AS gap
  FROM o
)
SELECT o_custkey,
       count(*)::BIGINT AS n_orders,
       min(day)::BIGINT AS first_day,
       max(day)::BIGINT AS last_day,
       count(gap)::BIGINT AS n_gaps,
       min(gap)::BIGINT AS min_gap_days,
       max(gap)::BIGINT AS max_gap_days,
       CASE WHEN count(gap) > 0
            THEN (sum(gap) * 1000000 // count(gap))::BIGINT END
         AS mean_gap_micro_days
FROM g GROUP BY o_custkey
"""

# r7p: order_status_flow — |statuses|^2 rollup, micro-unit rows.
ORACLE["order_status_flow"] = """
WITH p AS (
  SELECT o_orderstatus AS from_status,
         lead(o_orderstatus) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
           AS to_status
  FROM orders
),
g AS (
  SELECT from_status, to_status, count(*)::BIGINT AS n
  FROM p WHERE to_status IS NOT NULL GROUP BY 1, 2
)
SELECT from_status, to_status, n,
       (n * 1000000 // sum(n) OVER (PARTITION BY from_status))::BIGINT
         AS p_e6
FROM g
"""

# r7q: events_pattern_match — MATCH_RECOGNIZE/CEP twin: sessions
# symbolized to one char per event in (ts, event_id) order, patterns
# evaluated as regexes (Java == RE2 on these explicit classes).
ORACLE["events_pattern_match"] = f"""
WITH {SESSIONIZED_SQL},
sess AS (
  SELECT string_agg(
    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
         WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
         ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
  FROM sessionized GROUP BY user_id, session_id
),
pats AS (
  SELECT * FROM (VALUES ('browse_abandon', 'vc+$'),
                        ('direct_convert', 'vc*p'),
                        ('error_retry', 'e[^e]*p'),
                        ('signup_activate', 's[vc]*p'))
    AS t(pattern, re)
),
per AS (
  SELECT p.pattern, len(regexp_extract_all(sess.seq, p.re))::BIGINT AS m
  FROM sess CROSS JOIN pats p
),
tot AS (SELECT count(*)::BIGINT AS n_sessions FROM sess)
SELECT pattern,
       sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_sessions_matched,
       sum(m)::BIGINT AS n_matches,
       (sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) * 1000000
        // max(tot.n_sessions))::BIGINT AS session_share_e6
FROM per, tot
GROUP BY pattern
"""

# r7r: quality_filter_agreement — exact BIGINT contingency cells, one
# float division site per pair (Cohen's kappa), 6-dp floored; the six
# pair rows are generated from the same 1-row aggregate both sides.
_QFA_SIGS = ["f_short", "f_lowdiv", "f_longw", "f_dupbi"]
_QFA_PAIR = f"""
SELECT '{{a_name}}' AS sig_a, '{{b_name}}' AS sig_b,
  both_{{a}}_{{b}} AS n_both,
  {{a}} - both_{{a}}_{{b}} AS n_only_a,
  {{b}} - both_{{a}}_{{b}} AS n_only_b,
  n_docs - {{a}} - {{b}} + both_{{a}}_{{b}} AS n_neither,
  CASE WHEN (({{a}} * {{b}} + (n_docs - {{a}}) * (n_docs - {{b}}))::DOUBLE
             / (n_docs * n_docs)::DOUBLE) < 1.0 THEN
    {half_up_sql('''(((both_{a}_{b} + n_docs - {a} - {b} + both_{a}_{b})::DOUBLE
            / n_docs::DOUBLE)
           - (({a} * {b} + (n_docs - {a}) * (n_docs - {b}))::DOUBLE
              / (n_docs * n_docs)::DOUBLE))
          / (1.0 - (({a} * {b} + (n_docs - {a}) * (n_docs - {b}))::DOUBLE
                    / (n_docs * n_docs)::DOUBLE))''', 6)}
  END AS kappa
FROM agg"""
ORACLE["quality_filter_agreement"] = (
    f"""
WITH base0 AS (
  SELECT {TOKS_SQL} AS t FROM documents
),
base AS (
  SELECT len(t) AS n,
         len(list_distinct(t)) AS nd,
         coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS chars,
         len(list_distinct({ngrams_sql('t', 2)})) AS ndb
  FROM base0
),
flags AS (
  SELECT (n < 20)::INT AS f_short,
         (nd * 2 < n)::INT AS f_lowdiv,
         (chars > n * 8)::INT AS f_longw,
         (CASE WHEN n > 1 THEN ndb * 4 < (n - 1) * 3
               ELSE false END)::INT AS f_dupbi
  FROM base
),
agg AS (
  SELECT count(*)::BIGINT AS n_docs,
"""
    + ",\n".join(f"    sum({s})::BIGINT AS {s}" for s in _QFA_SIGS)
    + ",\n"
    + ",\n".join(
        f"    sum({a} * {b})::BIGINT AS both_{a}_{b}"
        for i, a in enumerate(_QFA_SIGS) for b in _QFA_SIGS[i + 1:])
    + "\n  FROM flags\n)\nSELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _QFA_PAIR.format(a=a, b=b, a_name=a[2:], b_name=b[2:])
        for i, a in enumerate(_QFA_SIGS) for b in _QFA_SIGS[i + 1:])
    + "\n)")

# r7s: skyline_quality_frontier — the oracle spells the SKYLINE
# definition directly (NOT EXISTS dominance anti-join, O(n^2) — fine at
# oracle scale); the Spark plan is the bounded-domain groupBy + prefix
# -max frontier (see operators/relational.py).  Identical outputs
# including ties on both coordinates.
ORACLE["skyline_quality_frontier"] = f"""
WITH scored AS (
  SELECT doc_id, source, n_chars::BIGINT AS n_chars,
         len(list_distinct({TOKS_SQL}))::BIGINT AS distinct_tokens
  FROM documents
)
SELECT s.doc_id, s.source, s.n_chars, s.distinct_tokens
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM scored q
  WHERE q.n_chars >= s.n_chars AND q.distinct_tokens >= s.distinct_tokens
    AND (q.n_chars > s.n_chars OR q.distinct_tokens > s.distinct_tokens)
)
"""

# r7s: auc_roc_langid — exact BIGINT Mann-Whitney with doubled-unit tie
# credit; ROC confusion counts per threshold.  Score domain is 0..10 so
# every window runs on a bounded grid.
ORACLE["auc_roc_langid"] = f"""
WITH base AS (
  SELECT len(list_intersect({TOKS_SQL},
         ['the','and','of','to','a','in','is','it','you','that']))::BIGINT AS s,
         (lang = 'en')::BIGINT AS pos
  FROM documents
),
grid AS (
  SELECT s, sum(pos)::BIGINT AS p, (count(*) - sum(pos))::BIGINT AS n
  FROM base GROUP BY s
),
enr AS (
  SELECT s, p, n,
    coalesce(sum(n) OVER (ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_below,
    sum(p) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
    sum(n) OVER (ORDER BY s DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM grid
),
tot AS (
  SELECT sum(2 * p * n_below + p * n)::BIGINT AS u2,
         sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg
  FROM enr
)
SELECT e.s AS threshold, e.tp::BIGINT AS tp, e.fp::BIGINT AS fp,
       (t.n_pos - e.tp)::BIGINT AS fn, (t.n_neg - e.fp)::BIGINT AS tn,
       CASE WHEN t.n_pos > 0
            THEN (e.tp * 1000000 // t.n_pos)::BIGINT END AS tpr_e6,
       CASE WHEN t.n_neg > 0
            THEN (e.fp * 1000000 // t.n_neg)::BIGINT END AS fpr_e6,
       t.u2,
       CASE WHEN t.n_pos > 0 AND t.n_neg > 0
            THEN (t.u2 * 1000000 // (2 * t.n_pos * t.n_neg))::BIGINT
       END AS auc_e6
FROM enr e CROSS JOIN tot t
"""

# r7s: survival_kaplan_meier — counts are exact BIGINT on a day-span
# -bounded grid; the survival product is the deterministic exp-sum-ln
# fold over ORDER BY t (identical doubles, identical order on both
# engines), floor-rounded 6 dp; a zero-survivor step forces exact 0.0.
ORACLE["survival_kaplan_meier"] = f"""
WITH per_user AS (
  SELECT user_id,
         min({day_index_sql('ts')}) AS first_d,
         max({day_index_sql('ts')}) AS last_d
  FROM events GROUP BY user_id
),
gmax AS (SELECT max(last_d) AS corpus_end FROM per_user),
durs AS (
  SELECT (last_d - first_d)::BIGINT AS t,
         (last_d < corpus_end - 7)::BIGINT AS churned
  FROM per_user CROSS JOIN gmax
),
grid AS (
  SELECT t, sum(churned)::BIGINT AS d,
         (count(*) - sum(churned))::BIGINT AS c
  FROM durs GROUP BY t
),
tot AS (SELECT sum(d + c) AS n_total FROM grid),
km AS (
  SELECT t, d, c,
    (n_total - coalesce(sum(d + c) OVER (ORDER BY t
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
      AS n_at_risk
  FROM grid CROSS JOIN tot
),
km2 AS (
  SELECT t, d, c, n_at_risk,
    CASE WHEN d > 0
         THEN ln((n_at_risk - d)::DOUBLE / n_at_risk)
         ELSE 0.0 END AS lnf,
    min(n_at_risk - d) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_surv
  FROM km
)
SELECT t, d AS n_churned, c AS n_censored, n_at_risk,
  CASE WHEN min_surv = 0 THEN 0.0
       ELSE {half_up_sql('''exp(sum(lnf) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))''', 6)}
  END AS survival
FROM km2
"""

# r7t: keyphrase_rake — RAKE word scores; phrase segmentation is the
# running-stopword-count trick on both engines; degree/freq/score are
# exact BIGINT (positive, so DIV == // here).
ORACLE["keyphrase_rake"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS w,
         generate_subscripts({TOKS_SQL}, 1) AS pos
  FROM documents
),
marked AS (
  SELECT doc_id, pos, w,
    (w IN ('the','and','of','to','a','in','is','it','you','that'))::INT
      AS is_stop
  FROM toks
),
phrased AS (
  SELECT doc_id, w,
    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
    is_stop
  FROM marked
),
words AS (
  SELECT w,
    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM phrased WHERE is_stop = 0
),
scored AS (
  SELECT w AS word, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS degree
  FROM words GROUP BY w
)
SELECT word, freq, degree,
       (degree * 1000000 // freq)::BIGINT AS rake_e6
FROM scored
ORDER BY rake_e6 DESC, freq DESC, word
LIMIT 100
"""

# r7t: events_stl_seasonal — detrended-by-7x integers (d7 = 7n - sum7)
# summed exactly per (type, dow); one final double division, floor-
# rounded 6 dp.  Full centered windows only (cnt7 = 7).
ORACLE["events_stl_seasonal"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
det AS (
  SELECT event_type, d % 7 AS dow,
    7 * n - sum(n) OVER w AS d7,
    count(n) OVER w AS cnt7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT event_type, dow::BIGINT AS dow,
  count(*)::BIGINT AS n_days,
  sum(d7)::BIGINT AS sum_d7,
  {half_up_sql("sum(d7)::DOUBLE / (7.0 * count(*))", 6)} AS seasonal
FROM det WHERE cnt7 = 7
GROUP BY event_type, dow
"""

# r7t: user_growth_accounting — lag/lead classification on per-user
# ordered distinct weeks; churn charged to wk+1, observable weeks only;
# quick ratio in exact micro-units (operands positive).
ORACLE["user_growth_accounting"] = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         ({day_index_sql('ts')} // 7)::INT AS wk
  FROM events
),
cl AS (
  SELECT user_id, wk,
    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
  FROM uw
),
per_week AS (
  SELECT wk,
    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
    sum(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END)::BIGINT AS n_retained,
    sum(CASE WHEN prev < wk - 1 THEN 1 ELSE 0 END)::BIGINT
      AS n_resurrected
  FROM cl GROUP BY wk
),
gmax AS (SELECT max(wk) AS max_wk FROM uw),
churn AS (
  SELECT wk + 1 AS wk, count(*)::BIGINT AS n_churned
  FROM cl CROSS JOIN gmax
  WHERE (nxt IS NULL OR nxt > wk + 1) AND wk + 1 <= max_wk
  GROUP BY wk + 1
)
SELECT coalesce(p.wk, c.wk)::BIGINT AS wk,
  coalesce(n_new, 0)::BIGINT AS n_new,
  coalesce(n_retained, 0)::BIGINT AS n_retained,
  coalesce(n_resurrected, 0)::BIGINT AS n_resurrected,
  coalesce(n_churned, 0)::BIGINT AS n_churned,
  (coalesce(n_new, 0) + coalesce(n_retained, 0)
   + coalesce(n_resurrected, 0))::BIGINT AS n_active,
  CASE WHEN coalesce(n_churned, 0) > 0
       THEN ((coalesce(n_new, 0) + coalesce(n_resurrected, 0))
             * 1000000 // n_churned)::BIGINT END AS quick_ratio_e6
FROM per_week p FULL OUTER JOIN churn c ON p.wk = c.wk
"""

# r7u: basket_part_pairs — pair fan-out rides the order key, bounded by
# basket size; lift in micro-units via HUGEINT/DECIMAL(38,0) integer
# division (count^2-scaled numerator overflows int64 at cluster scale).
ORACLE["basket_part_pairs"] = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
no AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM baskets),
pc AS (SELECT l_partkey, count(*)::BIGINT AS cnt FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS support
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p1, p2, support, c1.cnt AS cnt1, c2.cnt AS cnt2,
  ((support::HUGEINT * n_orders * 1000000)
   // (c1.cnt::HUGEINT * c2.cnt))::BIGINT AS lift_e6
FROM pairs
JOIN pc c1 ON p1 = c1.l_partkey
JOIN pc c2 ON p2 = c2.l_partkey
CROSS JOIN no
ORDER BY support DESC, p1, p2
LIMIT 100
"""

# r7u: theil_sen_trend — pairwise slopes on the bounded daily grid;
# median = quantile_cont(0.5) == Spark percentile(0.5); the slope is
# 6dp-floor-rounded BEFORE the intercept residual pass so both engines
# median identical doubles.
ORACLE["theil_sen_trend"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         (b.n - a.n)::DOUBLE / (b.d - a.d) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
per_type AS (
  SELECT event_type, count(*)::BIGINT AS n_pairs,
         {half_up_sql("quantile_cont(s, 0.5)", 6)} AS slope
  FROM slopes GROUP BY event_type
),
resid AS (
  SELECT d.event_type, p.n_pairs, p.slope,
         d.n::DOUBLE - p.slope * d.d AS r
  FROM daily d JOIN per_type p USING (event_type)
)
SELECT event_type, count(*)::BIGINT AS n_days, n_pairs, slope,
       {half_up_sql("quantile_cont(r, 0.5)", 6)} AS intercept
FROM resid GROUP BY event_type, n_pairs, slope
"""

# r7u: session_path_topk — sessionized's sessions, as in
# events_session_bigrams; paths are list-ordered by (ts, event_id) and
# truncated to 12 steps on both engines.
ORACLE["session_path_topk"] = f"""
WITH {SESSIONIZED_SQL},
ranked AS (
  SELECT user_id, session_id, event_type,
    row_number() OVER (PARTITION BY user_id, session_id
                       ORDER BY ts, event_id) AS rn
  FROM sessionized
),
paths AS (
  SELECT user_id, session_id,
    string_agg(CASE WHEN rn <= 12 THEN event_type END, '>'
               ORDER BY rn) AS path,
    count(*)::BIGINT AS len
  FROM ranked GROUP BY user_id, session_id
)
SELECT path, count(*)::BIGINT AS n_sessions,
       min(len)::BIGINT AS min_len, max(len)::BIGINT AS max_len
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 50
"""

# r7v: customer_entity_blocking — blocked ER candidate pairs; identical
# Wagner-Fischer levenshtein on both engines; balance proximity on
# exact cent-scaled BIGINTs.
ORACLE["customer_entity_blocking"] = f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         {fixed_sql("c_acctbal", 2)} AS bal_cents
  FROM customer
)
SELECT a.c_nationkey::BIGINT AS nationkey, a.c_mktsegment AS mktsegment,
       a.c_custkey AS id1, b.c_custkey AS id2,
       levenshtein(a.c_name, b.c_name)::BIGINT AS name_lev,
       (abs(a.bal_cents - b.bal_cents) <= 10000) AS balance_close
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""

# r7v: embedding_anisotropy_audit — id-adjacent pair cosines floor-
# rounded to e6 BEFORE binning/summation, so the histogram and the
# BIGINT mean are order-independent and engine-identical.
ORACLE["embedding_anisotropy_audit"] = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT {fixed_sql('''list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e))
         * sqrt(list_dot_product(b.e, b.e)))''', 6)}
    AS cos_e6
  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
  WHERE list_dot_product(a.e, a.e) > 0 AND list_dot_product(b.e, b.e) > 0
),
binned AS (
  SELECT cos_e6,
    least(CAST(floor((cos_e6 + 1000000) * 40.0 / 2000000) AS BIGINT), 39)
      AS bin
  FROM pairs
),
hist AS (
  SELECT bin, count(*)::BIGINT AS n, sum(cos_e6)::BIGINT AS sum_cos_e6
  FROM binned GROUP BY bin
),
tot AS (
  -- Spark DIV truncates toward zero; DuckDB // floors. sum_cos_e6 can
  -- be negative (cosines span [-1,1]), so emulate truncation here —
  -- the lang_source_mutual_info treatment.
  SELECT sum(n)::BIGINT AS n_pairs,
         CASE WHEN sum(sum_cos_e6) >= 0
              THEN (sum(sum_cos_e6) // sum(n))::BIGINT
              ELSE -((-sum(sum_cos_e6)) // sum(n))::BIGINT END AS mean_cos_e6
  FROM hist
)
SELECT bin, n, sum_cos_e6, n_pairs, mean_cos_e6
FROM hist CROSS JOIN tot
"""

# r7v: sparse_cosine_pairs_topk — TF-IDF weights e6-floor-rounded
# before pairing; dot/norms are exact BIGINT; one double division per
# surviving pair, 6 dp.  df cap (200) mirrors the Spark stop-term
# guard.
ORACLE["sparse_cosine_pairs_topk"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
weighted AS (
  SELECT doc_id, term,
    {fixed_sql("tf * ln((n + 1.0) / (df + 1.0))", 6)} AS w_e6
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE df <= 200
),
norms AS (
  SELECT doc_id, sum(w_e6 * w_e6) AS norm2 FROM weighted GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         sum(a.w_e6 * b.w_e6) AS dot,
         count(*)::BIGINT AS n_shared_terms
  FROM weighted a JOIN weighted b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_shared_terms,
  CASE WHEN n1.norm2 > 0 AND n2.norm2 > 0
       THEN {half_up_sql(
           "dot::DOUBLE / sqrt(n1.norm2::DOUBLE * n2.norm2::DOUBLE)", 6)}
  END AS cosine
FROM dots
JOIN norms n1 ON id1 = n1.doc_id
JOIN norms n2 ON id2 = n2.doc_id
ORDER BY cosine DESC, id1, id2
LIMIT 50
"""

# r7w: attribution_linear_credit — user-keyed equi-join with lookback
# range filter; credit in truncated micro-units (operands positive).
ORACLE["attribution_linear_credit"] = """
WITH ev AS (
  SELECT user_id AS k, epoch_us(ts::TIMESTAMP) AS t_us,
         event_type, event_id
  FROM events
),
conv AS (
  SELECT k AS ck, t_us AS c_us, event_id AS conv_id
  FROM ev WHERE event_type = 'purchase'
),
touches AS (
  SELECT c.conv_id, t.event_type
  FROM conv c LEFT JOIN (SELECT * FROM ev
                         WHERE event_type <> 'purchase') t
    ON c.ck = t.k AND t.t_us <= c.c_us
   AND t.t_us > c.c_us - 7::BIGINT * 86400 * 1000000
),
per_conv AS (
  SELECT conv_id, count(event_type) AS n_touches
  FROM touches GROUP BY conv_id
),
pot AS (
  SELECT conv_id, coalesce(event_type, '(none)') AS credit,
         count(*) AS n_type
  FROM touches GROUP BY 1, 2
),
credited AS (
  SELECT credit,
    CASE WHEN n_touches = 0 THEN 1000000
         ELSE n_type * 1000000 // n_touches END AS credit_e6,
    CASE WHEN n_touches = 0 THEN 0 ELSE n_type END AS n_type_touches
  FROM pot JOIN per_conv USING (conv_id)
)
SELECT credit, count(*)::BIGINT AS n_conversions_credited,
       sum(credit_e6)::BIGINT AS total_credit_e6,
       sum(n_type_touches)::BIGINT AS n_touches_total
FROM credited GROUP BY credit
"""
# r7w: term_burstiness — zero-inclusive VMR from three exact BIGINTs,
# one double division, 6 dp.
ORACLE["term_burstiness"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM documents),
stats AS (
  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
         sum(tf * tf)::BIGINT AS s2
  FROM tf GROUP BY term HAVING sum(tf) >= 20
)
SELECT term, df, cf, s2,
  {half_up_sql("(s2::DOUBLE * n - cf::DOUBLE * cf) / (cf::DOUBLE * n)", 6)}
    AS burstiness
FROM stats CROSS JOIN n
ORDER BY cf DESC, term
LIMIT 200
"""

# r7w: doc_position_profile — 0-based position decile via exact integer
# division; micro-unit rates of positive BIGINTs.
ORACLE["doc_position_profile"] = f"""
WITH toks AS (
  SELECT len({TOKS_SQL}) AS len, unnest({TOKS_SQL}) AS w,
         generate_subscripts({TOKS_SQL}, 1) - 1 AS pos0
  FROM documents
),
graded AS (
  SELECT (pos0 * 10 // len) AS decile, length(w) AS wlen,
    (w IN ('the','and','of','to','a','in','is','it','you','that'))::BIGINT
      AS is_stop
  FROM toks WHERE len > 0
)
SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_tokens,
  sum(wlen)::BIGINT AS sum_chars, sum(is_stop)::BIGINT AS n_stop,
  (sum(wlen) * 1000000 // count(*))::BIGINT AS avg_wlen_e6,
  (sum(is_stop) * 1000000 // count(*))::BIGINT AS stop_rate_e6
FROM graded GROUP BY decile
"""

# r7x: dedup_containment — directed Broder containment (the shared
# count is symmetric, so each unordered pair is read in both
# directions); the qualifying test and the emitted ratio are pure
# integers.
ORACLE["dedup_containment"] = f"""
WITH {_SHINGLE_PAIRS},
directed AS (
  SELECT id1 AS id_small, id2 AS id_big, c FROM inter
  UNION ALL SELECT id2, id1, c FROM inter
)
SELECT id_small, id_big, c::BIGINT AS n_shared,
       s1.n::BIGINT AS n_small, s2.n::BIGINT AS n_big,
       (c * 1000000 // s1.n)::BIGINT AS containment_e6
FROM directed
JOIN sizes s1 ON id_small = s1.doc_id
JOIN sizes s2 ON id_big = s2.doc_id
WHERE c * 1000 >= 900 * s1.n
"""

# r7x: cross_source_duplication_matrix — near-dup pairs (exact Jaccard
# >= 0.5) rolled to the unordered source-pair matrix with exact
# micro-unit rates.
ORACLE["cross_source_duplication_matrix"] = f"""
WITH {_jaccard_pairs(0.5)},
labeled AS (
  SELECT least(d1.source, d2.source) AS src_a,
         greatest(d1.source, d2.source) AS src_b
  FROM jac JOIN documents d1 ON id1 = d1.doc_id
           JOIN documents d2 ON id2 = d2.doc_id
),
counts AS (
  SELECT src_a, src_b, count(*)::BIGINT AS n_pairs
  FROM labeled GROUP BY 1, 2
),
per_src AS (SELECT source, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY source)
SELECT src_a, src_b, n_pairs,
       ca.n_docs AS docs_a, cb.n_docs AS docs_b,
       CASE WHEN src_a = src_b
            THEN (n_pairs * 2000000 // (ca.n_docs * (ca.n_docs - 1)))::BIGINT
            ELSE (n_pairs * 1000000 // (ca.n_docs * cb.n_docs))::BIGINT
       END AS dup_rate_e6
FROM counts
JOIN per_src ca ON src_a = ca.source
JOIN per_src cb ON src_b = cb.source
"""

# r7x: text_tiling_boundaries — all-integer lexical-cohesion gaps; the
# gap grid is built first so zero-overlap boundaries survive.
ORACLE["text_tiling_boundaries"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS w,
         generate_subscripts({TOKS_SQL}, 1) - 1 AS pos0
  FROM documents
),
bt AS (SELECT DISTINCT doc_id, pos0 // 20 AS b, w FROM toks),
bsizes AS (SELECT doc_id, b, count(*) AS nv FROM bt GROUP BY 1, 2),
gaps AS (
  SELECT l.doc_id, l.b, l.nv AS nv_l, r.nv AS nv_r
  FROM bsizes l JOIN bsizes r
    ON l.doc_id = r.doc_id AND r.b = l.b + 1
  WHERE r.nv >= 5
),
shared AS (
  SELECT x.doc_id, x.b, count(*) AS shared
  FROM bt x JOIN bt y
    ON x.doc_id = y.doc_id AND y.b = x.b + 1 AND x.w = y.w
  GROUP BY 1, 2
),
scored AS (
  SELECT g.doc_id, g.b, coalesce(s.shared, 0) AS shared,
         coalesce(s.shared, 0) * 1000000 // least(g.nv_l, g.nv_r)
           AS overlap_e6
  FROM gaps g LEFT JOIN shared s ON g.doc_id = s.doc_id AND g.b = s.b
)
SELECT doc_id, count(*)::BIGINT AS n_gaps,
  sum((overlap_e6 < 300000)::INT)::BIGINT AS n_boundaries,
  min(overlap_e6)::BIGINT AS min_overlap_e6,
  min(CASE WHEN overlap_e6 < 300000 THEN b END)::BIGINT
    AS first_boundary_block
FROM scored GROUP BY doc_id
"""


# r7y: mann_kendall_trend — S and the tie-corrected variance numerator
# are pure BIGINT polynomial sums on the bounded daily grid; the
# continuity-corrected z divides exact integers, 6 dp.
ORACLE["mann_kendall_trend"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
s_tab AS (
  SELECT a.event_type,
         sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
                  ELSE 0 END)::BIGINT AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY a.event_type
),
counts AS (
  SELECT event_type, count(*)::BIGINT AS n_days FROM daily GROUP BY 1
),
ties AS (
  SELECT event_type,
         sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
  FROM (SELECT event_type, n, count(*) AS t FROM daily
        GROUP BY 1, 2 HAVING count(*) > 1)
  GROUP BY event_type
),
j AS (
  SELECT s.event_type, c.n_days, s.s,
    (c.n_days * (c.n_days - 1) * (2 * c.n_days + 5)
     - coalesce(t.tie18, 0))::BIGINT AS var18
  FROM s_tab s JOIN counts c USING (event_type)
  LEFT JOIN ties t USING (event_type)
)
SELECT event_type, n_days, s, var18,
  CASE WHEN var18 <= 0 THEN NULL
       WHEN s > 0 THEN {half_up_sql(
           "(s - 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)", 6)}
       WHEN s < 0 THEN {half_up_sql(
           "(s + 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)", 6)}
       ELSE 0.0 END AS z
FROM j
"""

# r7y: minhash_bbit_estimate — the integer universal-hash family over
# the 30-bit md5 base makes signatures bit-identical; the estimator
# numerator clamps at 0 before integer division.
ORACLE["minhash_bbit_estimate"] = f"""
WITH {_SHINGLE_PAIRS},
hashed AS (
  SELECT doc_id,
    ({h60_sql("s")}
     % 1073741824) AS x
  FROM sh
),
fam AS (
  SELECT i, ua[i + 1] AS ai, ub[i + 1] AS bi
  FROM (SELECT [3, 9, 19, 33, 51, 73, 99, 129, 163, 201, 243, 289, 339, 393, 451, 513, 579, 649, 723, 801, 883, 969, 1059, 1153, 1251, 1353, 1459, 1569, 1683, 1801, 1923, 2049]::BIGINT[] AS ua, [1, 8, 15, 22, 29, 36, 43, 50, 57, 64, 71, 78, 85, 92, 99, 106, 113, 120, 127, 134, 141, 148, 155, 162, 169, 176, 183, 190, 197, 204, 211, 218]::BIGINT[] AS ub),
       LATERAL (SELECT unnest(generate_series(0, 31)) AS i) g
),
sigs AS (
  SELECT doc_id, i, (min((x * ai + bi) % 2147483647) % 16)::BIGINT AS mb
  FROM hashed CROSS JOIN fam
  GROUP BY doc_id, i
),
coll AS (
  SELECT c.id1, c.id2, c.c,
         sum((s1.mb = s2.mb)::INT)::BIGINT AS n_coll
  FROM inter c
  JOIN sigs s1 ON c.id1 = s1.doc_id
  JOIN sigs s2 ON c.id2 = s2.doc_id AND s1.i = s2.i
  GROUP BY 1, 2, 3
)
SELECT id1, id2, c::BIGINT AS n_shared,
  (c * 1000000 // (z1.n + z2.n - c))::BIGINT AS jaccard_e6,
  n_coll,
  (greatest(0, n_coll * 16 - 32) * 1000000 // (32 * 15))::BIGINT
    AS est_e6,
  abs(c * 1000000 // (z1.n + z2.n - c)
      - greatest(0, n_coll * 16 - 32) * 1000000 // (32 * 15))::BIGINT
    AS abs_err_e6
FROM coll
JOIN sizes z1 ON id1 = z1.doc_id
JOIN sizes z2 ON id2 = z2.doc_id
ORDER BY jaccard_e6 DESC, id1, id2
LIMIT 200
"""

# r7y: neyman_allocation_plan — exact BIGINT moment sums; the sqrt is
# floor-rounded into the e6 weight BEFORE the cross-strata total so
# every downstream number is integer.
ORACLE["neyman_allocation_plan"] = f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS sx,
         sum(n_chars * n_chars)::BIGINT AS sx2
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, sx, sx2,
    {fixed_sql('''n_docs * sqrt((sx2::DOUBLE * n_docs - sx::DOUBLE * sx)
                             / (n_docs::DOUBLE * n_docs))''', 6)} AS w_e6
  FROM per
),
tot AS (SELECT sum(w_e6)::BIGINT AS tot_w_e6 FROM w)
SELECT source, n_docs, sx, sx2, w_e6, tot_w_e6,
       CASE WHEN tot_w_e6 > 0
            THEN (w_e6 * 1000 // tot_w_e6)::BIGINT
            ELSE 0 END AS n_alloc
FROM w CROSS JOIN tot
"""

# r7z: forecast_backtest_snaive — exact integer error sums on the
# bounded grid; MAE/MAPE in truncated micro-units (operands positive).
ORACLE["forecast_backtest_snaive"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT a.event_type, a.n - b.n AS err, a.n AS actual
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - 7
)
SELECT event_type, count(*)::BIGINT AS n_points,
  sum(abs(err))::BIGINT AS sum_abs_err,
  sum(err)::BIGINT AS sum_err,
  (sum(abs(err)) * 1000000 // count(*))::BIGINT AS mae_e6,
  (sum(abs(err) * 1000000 // actual) // count(*))::BIGINT AS mape_e6
FROM scored GROUP BY event_type
"""

# r7z: source_rank_correlation — deterministic (count DESC, term)
# ranks; absent top-N terms take rank top_n + 1; exact-BIGINT Σd².
ORACLE["source_rank_correlation"] = f"""
WITH toks AS (
  SELECT source, unnest({TOKS_SQL}) AS term FROM documents
),
gtop AS (
  SELECT term FROM (
    SELECT term, count(*) AS cnt FROM toks GROUP BY term
    ORDER BY cnt DESC, term LIMIT 100)
),
st AS (
  SELECT source, term, count(*) AS cnt
  FROM toks JOIN gtop USING (term)
  GROUP BY 1, 2
),
ranked AS (
  SELECT source, term,
    row_number() OVER (PARTITION BY source
                       ORDER BY cnt DESC, term) AS rk
  FROM st
),
grid AS (
  SELECT s.source, g.term
  FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN gtop g
),
fullr AS (
  SELECT g.source, g.term, coalesce(r.rk, 101) AS rk
  FROM grid g LEFT JOIN ranked r
    ON g.source = r.source AND g.term = r.term
)
SELECT a.source AS src_a, b.source AS src_b,
  count(*)::BIGINT AS m,
  sum((a.rk - b.rk) * (a.rk - b.rk))::BIGINT AS sum_d2,
  CASE WHEN count(*) > 1
       THEN {half_up_sql('''1.0 - 6.0 * sum((a.rk - b.rk) * (a.rk - b.rk))
                   / (count(*)::DOUBLE * (count(*) * count(*) - 1))''', 6)}
  END AS spearman_rho
FROM fullr a JOIN fullr b
  ON a.term = b.term AND a.source < b.source
GROUP BY 1, 2
"""

# r7z: runs_test_daily — median-dichotomised runs with continuity
# correction; the median is the interpolating percentile(0.5) ==
# quantile_cont on both engines.
ORACLE["runs_test_daily"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(n, 0.5) AS med
  FROM daily GROUP BY event_type
),
marked AS (
  SELECT d.event_type, d.d, (d.n > m.med)::INT AS hi
  FROM daily d JOIN med m USING (event_type)
  WHERE d.n <> m.med
),
lagged AS (
  SELECT event_type, hi,
    (coalesce(lag(hi) OVER (PARTITION BY event_type ORDER BY d), -1)
     <> hi)::BIGINT AS new_run
  FROM marked
),
runs AS (
  SELECT event_type, sum(new_run)::BIGINT AS runs,
         sum(hi)::BIGINT AS n1, sum(1 - hi)::BIGINT AS n2
  FROM lagged GROUP BY event_type
)
SELECT event_type, n1, n2, runs,
  CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 <= 1
         OR 2 * n1 * n2 = n1 + n2 THEN NULL
       ELSE {half_up_sql('''
         (CASE WHEN runs >= 2.0 * n1 * n2 / (n1 + n2) + 1.0
               THEN runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0) - 0.5
               ELSE runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0) + 0.5 END)
         / sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))
                / ((n1 + n2)::DOUBLE * (n1 + n2) * (n1 + n2 - 1)))''', 6)}
  END AS z
FROM runs
"""

# r8a: quality_kendall_tau — exact tau-b from the bucketed joint grid;
# C/D/tie counts are BIGINT cell-pair sums; one double division.
ORACLE["quality_kendall_tau"] = f"""
WITH cells AS (
  SELECT source, n_chars // 50 AS x,
         len(list_distinct({TOKS_SQL})) // 5 AS y,
         count(*) AS n
  FROM documents GROUP BY 1, 2, 3
),
cd AS (
  SELECT a.source,
    sum(CASE WHEN a.x < b.x AND a.y < b.y THEN a.n * b.n ELSE 0 END)
      ::BIGINT AS c,
    sum(CASE WHEN a.x < b.x AND a.y > b.y THEN a.n * b.n ELSE 0 END)
      ::BIGINT AS d
  FROM cells a JOIN cells b
    ON a.source = b.source
   AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
  GROUP BY a.source
),
tot AS (SELECT source, sum(n)::BIGINT AS nn FROM cells GROUP BY source),
tx AS (
  SELECT source, sum(mx * (mx - 1) // 2)::BIGINT AS tx
  FROM (SELECT source, x, sum(n) AS mx FROM cells GROUP BY 1, 2)
  GROUP BY source
),
ty AS (
  SELECT source, sum(my * (my - 1) // 2)::BIGINT AS ty
  FROM (SELECT source, y, sum(n) AS my FROM cells GROUP BY 1, 2)
  GROUP BY source
)
SELECT cd.source, nn, c, d,
  (nn * (nn - 1) // 2)::BIGINT AS n0, tx, ty,
  CASE WHEN nn * (nn - 1) // 2 - tx <= 0
         OR nn * (nn - 1) // 2 - ty <= 0 THEN NULL
       ELSE {half_up_sql('''(c - d)::DOUBLE
            / sqrt((nn * (nn - 1) // 2 - tx)::DOUBLE
                   * (nn * (nn - 1) // 2 - ty))''', 6)}
  END AS tau_b
FROM cd JOIN tot USING (source) JOIN tx USING (source)
JOIN ty USING (source)
"""

# r8a: lang_source_mutual_info — per-cell terms e6-floor-rounded before
# the exact integer total; pmi can be negative so it uses plain DIV of
# the (possibly negative) term by the positive cell count on BOTH
# engines... except negative DIV truncates in Spark and floors in
# DuckDB, so pmi divides term_e6 (one engine-identical BIGINT) by n_ls
# with explicit floor semantics via the CASE below.
ORACLE["lang_source_mutual_info"] = f"""
WITH joint AS (
  SELECT lang, source, count(*)::BIGINT AS n_ls
  FROM documents GROUP BY 1, 2
),
ml AS (SELECT lang, sum(n_ls)::BIGINT AS n_l FROM joint GROUP BY lang),
ms AS (SELECT source, sum(n_ls)::BIGINT AS n_s FROM joint GROUP BY source),
tot AS (SELECT sum(n_ls)::BIGINT AS nn FROM joint),
cells AS (
  SELECT lang, source, n_ls, n_l, n_s,
    {fixed_sql("n_ls * ln(n_ls::DOUBLE * nn / (n_l::DOUBLE * n_s))", 6)}
      AS term_e6,
    nn
  FROM joint JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot
),
mi AS (SELECT (greatest(0, sum(term_e6)) // max(nn))::BIGINT AS mi_e6 FROM cells)
SELECT lang, source, n_ls, n_l, n_s,
  CASE WHEN term_e6 >= 0 THEN (term_e6 // n_ls)::BIGINT
       ELSE -((-term_e6) // n_ls)::BIGINT END AS pmi_e6,
  mi_e6
FROM cells CROSS JOIN mi
"""

# r8a: session_transition_entropy — sessionized's sessions, as in
# session_path_topk; per-cell e6 terms summed as BIGINT; two-level
# integer fold for the rate.
ORACLE["session_transition_entropy"] = f"""
WITH {SESSIONIZED_SQL},
trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS to_type
  FROM sessionized
),
tcnt AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_ft
  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2
),
terms AS (
  SELECT from_type, n_ft,
    sum(n_ft) OVER (PARTITION BY from_type) AS n_f
  FROM tcnt
),
per_from AS (
  SELECT from_type, max(n_f)::BIGINT AS n_from,
    count(*)::BIGINT AS n_distinct_to,
    (sum({fixed_sql("n_ft * ln(n_f::DOUBLE / n_ft)", 6)})
      // max(n_f))::BIGINT AS entropy_e6
  FROM terms GROUP BY from_type
),
rate AS (
  SELECT (sum(n_from * entropy_e6) // sum(n_from))::BIGINT AS rate_e6
  FROM per_from
)
SELECT from_type, n_from, n_distinct_to, entropy_e6, rate_e6
FROM per_from CROSS JOIN rate
"""

# r8b: quality_flag_odds_ratio — exact 2x2 cells; Haldane-Anscombe +0.5
# correction exactly when any cell is zero (rule mirrored on both
# engines); one double division, 6 dp.
ORACLE["quality_flag_odds_ratio"] = f"""
WITH base AS (
  SELECT source, len({TOKS_SQL}) AS n,
         len(list_distinct({TOKS_SQL})) AS nd,
         coalesce(list_sum(list_transform({TOKS_SQL},
                  x -> length(x))), 0) AS chars
  FROM documents
),
flags AS (
  SELECT source,
         (n < 20)::BIGINT AS f_short,
         (nd * 2 < n)::BIGINT AS f_lowdiv,
         (chars > n * 8)::BIGINT AS f_longw
  FROM base
),
stacked AS (
  SELECT 'short' AS flag, source, f_short AS f FROM flags
  UNION ALL SELECT 'lowdiv', source, f_lowdiv FROM flags
  UNION ALL SELECT 'longw', source, f_longw FROM flags
),
per AS (
  SELECT flag, source, sum(f)::BIGINT AS a,
         (count(*) - sum(f))::BIGINT AS b
  FROM stacked GROUP BY 1, 2
),
tot AS (
  SELECT flag, sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb
  FROM per GROUP BY flag
)
SELECT p.flag, p.source, a AS n_flagged, b AS n_clean,
       (ta - a)::BIGINT AS rest_flagged, (tb - b)::BIGINT AS rest_clean,
       {half_up_sql('''CASE WHEN a = 0 OR b = 0 OR ta - a = 0 OR tb - b = 0
                  THEN (a + 0.5) * ((tb - b) + 0.5)
                       / ((b + 0.5) * ((ta - a) + 0.5))
                  ELSE (a * (tb - b))::DOUBLE / (b * (ta - a))
             END''', 6)} AS odds_ratio
FROM per p JOIN tot t USING (flag)
"""

# r8b: length_qq_drift — interpolating decile vectors on both engines;
# differences floor-rounded 6 dp.
ORACLE["length_qq_drift"] = f"""
WITH per_src AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                            0.6, 0.7, 0.8, 0.9]) AS qs
  FROM documents GROUP BY source
),
corpus AS (
  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS qc
  FROM documents
),
exploded AS (
  SELECT source, n_docs, i, qs[i] AS q_s, qc[i] AS q_c
  FROM per_src CROSS JOIN corpus,
       LATERAL (SELECT unnest(generate_series(1, 9)) AS i) g
)
SELECT source, n_docs, (i * 10)::BIGINT AS pct,
  {half_up_sql("q_s", 6)} AS q_source,
  {half_up_sql("q_c", 6)} AS q_corpus,
  {half_up_sql("q_s - q_c", 6)} AS drift
FROM exploded
"""

# r8b: quality_decile_lift — global rank decomposed into bounded-grid
# prefix counts + per-score partitioned row_numbers; all-integer
# precision / recall / lift micro-units.
ORACLE["quality_decile_lift"] = f"""
WITH base AS (
  SELECT doc_id,
    len(list_intersect({TOKS_SQL},
        ['the','and','of','to','a','in','is','it','you','that']))::BIGINT
      AS s,
    (lang = 'en')::BIGINT AS pos
  FROM documents
),
tot AS (
  SELECT count(*)::BIGINT AS n_total, sum(pos)::BIGINT AS n_pos_total
  FROM base
),
grid AS (SELECT s, count(*) AS cnt FROM base GROUP BY s),
above AS (
  SELECT s, coalesce(sum(cnt) OVER (ORDER BY s DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_above
  FROM grid
),
ranked AS (
  SELECT (a.n_above
          + row_number() OVER (PARTITION BY b.s ORDER BY b.doc_id)
          - 1) * 10 // t.n_total AS decile,
         b.pos, t.n_total, t.n_pos_total
  FROM base b JOIN above a USING (s) CROSS JOIN tot t
),
per AS (
  SELECT decile, n_total, n_pos_total,
         count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_pos
  FROM ranked GROUP BY 1, 2, 3
)
SELECT decile::BIGINT AS decile, n_docs, n_pos,
  (n_pos * 1000000 // n_docs)::BIGINT AS precision_e6,
  sum(n_pos) OVER w::BIGINT AS cum_pos,
  CASE WHEN n_pos_total > 0
       THEN (sum(n_pos) OVER w * 1000000 // n_pos_total)::BIGINT
  END AS recall_e6,
  CASE WHEN n_pos_total > 0
       THEN ((sum(n_pos) OVER w)::HUGEINT * n_total * 1000000
             // ((sum(n_docs) OVER w)::HUGEINT * n_pos_total))::BIGINT
  END AS lift_e6
FROM per
WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
"""

# r8c: token_context_diversity — distinct left/right neighbor counts
# from one bigram pass; all-integer diversity ratio.
ORACLE["token_context_diversity"] = f"""
WITH toked AS (SELECT {TOKS_SQL} AS t FROM documents),
bi AS (
  SELECT t[i] AS l, t[i + 1] AS r
  FROM toked, LATERAL (SELECT unnest(generate_series(1, len(t) - 1))
                       AS i) g
),
freq2 AS (
  SELECT w, count(*)::BIGINT AS freq
  FROM (SELECT unnest(t) AS w FROM toked)
  GROUP BY w ORDER BY freq DESC, w LIMIT 100
),
rd AS (
  SELECT l AS w, count(DISTINCT r)::BIGINT AS n_right
  FROM bi JOIN freq2 ON bi.l = freq2.w GROUP BY l
),
ld AS (
  SELECT r AS w, count(DISTINCT l)::BIGINT AS n_left
  FROM bi JOIN freq2 ON bi.r = freq2.w GROUP BY r
)
SELECT f.w AS word, f.freq,
  coalesce(ld.n_left, 0)::BIGINT AS n_left,
  coalesce(rd.n_right, 0)::BIGINT AS n_right,
  ((coalesce(ld.n_left, 0) + coalesce(rd.n_right, 0)) * 1000000
   // (2 * f.freq))::BIGINT AS diversity_e6
FROM freq2 f
LEFT JOIN ld ON f.w = ld.w
LEFT JOIN rd ON f.w = rd.w
"""

# r8c: events_residual_anomaly — exact integer seasonal-difference
# residuals; the anomaly flag compares squared integers so the
# boundary can't flip on float noise.
ORACLE["events_residual_anomaly"] = f"""
WITH daily AS (
  SELECT event_type,
         {day_index_sql('ts')} AS d,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
resid AS (
  SELECT a.event_type, a.d, (a.n - b.n)::BIGINT AS r
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - 7
),
stats AS (
  SELECT event_type, count(*)::BIGINT AS m, sum(r)::BIGINT AS sr,
         sum(r * r)::BIGINT AS sr2
  FROM resid GROUP BY event_type
)
SELECT r.event_type, r.d::BIGINT AS d, r.r AS residual,
  CASE WHEN m * sr2 - sr * sr <= 0 THEN NULL
       ELSE {half_up_sql('''(r.r * m - sr)::DOUBLE
                  / sqrt((m * sr2 - sr * sr)::DOUBLE * m)''', 6)} END AS z,
  CASE WHEN m * sr2 - sr * sr <= 0 THEN false
       ELSE (r.r * m - sr) * (r.r * m - sr) * m
            > 4 * (m * sr2 - sr * sr) END AS is_anomaly
FROM resid r JOIN stats s USING (event_type)
"""

# r8c: length_hill_tail_index — top-k order stats on the portable
# (n_chars DESC, doc_id) order; per-term e6 rounding before the exact
# sum; one inversion, 6 dp.
ORACLE["length_hill_tail_index"] = f"""
WITH topk AS (
  SELECT source, n_chars, doc_id,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE n_chars > 0
),
lim AS (SELECT * FROM topk WHERE rk <= 100),
kth AS (
  SELECT source, max(rk)::BIGINT AS k_eff, min(n_chars)::BIGINT AS x_k
  FROM lim GROUP BY source
),
terms AS (
  SELECT l.source, k.k_eff, k.x_k,
    {fixed_sql("ln(l.n_chars::DOUBLE / k.x_k)", 6)} AS t_e6
  FROM lim l JOIN kth k USING (source)
  WHERE l.rk < k.k_eff
)
SELECT source, k_eff, x_k,
  sum(t_e6)::BIGINT AS sum_ln_e6, count(*)::BIGINT AS n_terms,
  CASE WHEN sum(t_e6) <= 0 THEN NULL
       ELSE {half_up_sql("count(*)::DOUBLE * 1e6 / sum(t_e6)", 6)}
  END AS hill_alpha
FROM terms GROUP BY source, k_eff, x_k
"""

# r8d: dedup_shingle_size_sweep — one token pass, three k-grids, pure
# integer qualify tests; 3-row output.
_SWEEP_K = """
sh{k} AS (
  SELECT DISTINCT doc_id AS id, unnest({grams}) AS s
  FROM toked WHERE len(t) >= {k}
),
sz{k} AS (SELECT id, count(*) AS n FROM sh{k} GROUP BY id),
cold{k} AS (
  SELECT sh{k}.* FROM sh{k}
  WHERE s NOT IN (SELECT s FROM sh{k} GROUP BY s HAVING count(*) > 256)
),
q{k} AS (
  SELECT count(*) AS n_pairs, count(DISTINCT id1) AS n_id1 FROM (
    SELECT i.id1, i.id2
    FROM (SELECT a.id AS id1, b.id AS id2, count(*) AS c
          FROM cold{k} a JOIN cold{k} b ON a.s = b.s AND a.id < b.id
          GROUP BY 1, 2) i
    JOIN sz{k} s1 ON i.id1 = s1.id
    JOIN sz{k} s2 ON i.id2 = s2.id
    WHERE i.c * 1000 >= 500 * (s1.n + s2.n - i.c))
)"""
ORACLE["dedup_shingle_size_sweep"] = (
    f"\nWITH toked AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),"
    + ",".join(_SWEEP_K.format(k=k, grams=ngrams_sql("t", k))
               for k in (2, 3, 4))
    + """
SELECT 2::BIGINT AS shingle_k, n_pairs::BIGINT AS n_pairs,
       n_id1::BIGINT AS n_id1 FROM q2
UNION ALL SELECT 3, n_pairs, n_id1 FROM q3
UNION ALL SELECT 4, n_pairs, n_id1 FROM q4
""")
# r8d: dow_profile_stability — consecutive-week ZERO-PADDED 7-vector
# cosine: full-outer dow axis (a dow present in one week only adds 0 to
# the dot but its count^2 stays in that week's norm); days are
# day_index values. Dot and norms are exact BIGINT folds, one division
# per pair.
ORACLE["dow_profile_stability"] = f"""
WITH grid AS (
  SELECT event_type,
         {day_index_sql('ts')} // 7 AS wk,
         {day_index_sql('ts')} % 7 AS dow,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2, 3
),
padded AS (
  SELECT coalesce(a.event_type, b.event_type) AS event_type,
         coalesce(a.wk, b.wk - 1) AS wk,
         coalesce(a.n, 0) AS n_a, coalesce(b.n, 0) AS n_b
  FROM grid a FULL OUTER JOIN grid b
    ON a.event_type = b.event_type AND b.wk = a.wk + 1
   AND a.dow = b.dow
)
SELECT event_type, wk::BIGINT AS wk,
  sum(CASE WHEN n_a > 0 AND n_b > 0 THEN 1 ELSE 0 END)::BIGINT
    AS n_shared_dows,
  sum(n_a * n_b)::BIGINT AS dot,
  sum(n_a * n_a)::BIGINT AS na,
  sum(n_b * n_b)::BIGINT AS nb,
  {half_up_sql('''sum(n_a * n_b)::DOUBLE
        / sqrt(sum(n_a * n_a)::DOUBLE * sum(n_b * n_b))''', 6)} AS cosine
FROM padded GROUP BY 1, 2
HAVING sum(n_a * n_a) > 0 AND sum(n_b * n_b) > 0
"""

# r8d: token_mass_lorenz — rank decomposed through the counts-of-counts
# grid (the quality_decile_lift pattern, per source); exact BIGINT
# cumulative token shares.
ORACLE["token_mass_lorenz"] = f"""
WITH base AS (
  SELECT source, doc_id, len({TOKS_SQL})::BIGINT AS tk FROM documents
),
tot AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(tk)::BIGINT AS total_tk
  FROM base GROUP BY source
),
grid AS (SELECT source, tk, count(*) AS cnt FROM base GROUP BY 1, 2),
above AS (
  SELECT source, tk,
    coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY tk DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_above
  FROM grid
),
ranked AS (
  SELECT b.source, b.tk, t.n_docs, t.total_tk,
    (a.n_above
     + row_number() OVER (PARTITION BY b.source, b.tk ORDER BY b.doc_id)
     - 1) * 10 // t.n_docs AS decile
  FROM base b
  JOIN above a ON b.source = a.source AND b.tk = a.tk
  JOIN tot t ON b.source = t.source
),
per AS (
  SELECT source, decile, n_docs, total_tk,
         count(*)::BIGINT AS docs_in_decile,
         sum(tk)::BIGINT AS tk_in_decile
  FROM ranked GROUP BY 1, 2, 3, 4
)
SELECT source, decile::BIGINT AS decile, docs_in_decile, tk_in_decile,
  sum(tk_in_decile) OVER w::BIGINT AS cum_tk,
  CASE WHEN total_tk > 0
       THEN (tk_in_decile * 1000000 // total_tk)::BIGINT
       ELSE 0 END AS share_e6,
  CASE WHEN total_tk > 0
       THEN (sum(tk_in_decile) OVER w * 1000000 // total_tk)::BIGINT
       ELSE 0 END AS cum_share_e6
FROM per
WINDOW w AS (PARTITION BY source ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# r8e: part_supplier_hhi — per-part supplier-share HHI in exact
# micro-units; positive operands so DIV == //.
ORACLE["part_supplier_hhi"] = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, count(*)::BIGINT AS cnt
  FROM lineitem GROUP BY 1, 2
),
per AS (
  SELECT l_partkey AS partkey,
         count(*)::BIGINT AS n_suppliers,
         sum(cnt)::BIGINT AS n_lines,
         sum(cnt * cnt)::BIGINT AS s2
  FROM ps GROUP BY 1 HAVING sum(cnt) >= 5
)
SELECT partkey, n_suppliers, n_lines,
       (s2 * 1000000 // (n_lines * n_lines))::BIGINT AS hhi_e6
FROM per ORDER BY hhi_e6 DESC, n_lines DESC, partkey
LIMIT 100
"""

# r8e: part_return_rate_wilson — Wilson lower bound from exact integer
# (n, r) with z in milli-units; one sqrt, 6 dp.
ORACLE["part_return_rate_wilson"] = f"""
WITH per AS (
  SELECT l_partkey AS partkey, count(*)::BIGINT AS n,
         sum((l_returnflag = 'R')::INT)::BIGINT AS r
  FROM lineitem GROUP BY 1 HAVING count(*) >= 10
)
SELECT partkey, n, r,
  (r * 1000000 // n)::BIGINT AS rate_e6,
  {half_up_sql('''(r + 1.96 * 1.96 / 2
          - 1.96 * sqrt(r * (n - r)::DOUBLE / n + 1.96 * 1.96 / 4))
         / (n + 1.96 * 1.96)''', 6)} AS wilson_lower
FROM per ORDER BY wilson_lower DESC, n DESC, partkey
LIMIT 100
"""

# r8e: supply_bipartite_profile — two-sided count-of-counts of the
# distinct part x supplier edge set; all BIGINT.
ORACLE["supply_bipartite_profile"] = """
WITH edges AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pd AS (SELECT l_partkey, count(*) AS d FROM edges GROUP BY 1),
sd AS (SELECT l_suppkey, count(*) AS d FROM edges GROUP BY 1)
SELECT 'part' AS side, d::BIGINT AS degree, count(*)::BIGINT AS n_nodes
FROM pd GROUP BY d
UNION ALL
SELECT 'supplier', d::BIGINT, count(*)::BIGINT FROM sd GROUP BY d
"""

# r8f: dedup_containment_prefix — identical OUTPUT to the quadratic
# twin (prefix filtering is lossless), so it shares its oracle; the
# Spark plan is the asymmetric-prefix candidate join + confined verify.
ORACLE["dedup_containment_prefix"] = ORACLE["dedup_containment"]


# r8: embedding_kmeans_stats converts from rows-only to hash-paired —
# the fixed Lloyd schedule replays as chained CTEs (the
# label_propagation_communities precedent). Components are e6-quantized
# integer-valued doubles, so every dot/norm is an exact integer and the
# single float expression per pair (dot / (sqrt(na)*sqrt(nb)), the
# functions/vectors.py form verbatim) is IEEE-identical; assignment
# argmax compares e6-ROUNDED cosines with a lowest-list-id tie-break
# (packed scalar key c*16 - list_id: exact BIGINT, list keys are not
# arg_max-able in DuckDB; max(c) is the argmax row's c by primacy);
# means are truncating integer division (CASE emulates Spark's DIV on
# negative sums); emptied clusters keep the previous centroid.
_KM_COS = fixed_sql("list_dot_product(q.e, {c}.cvec) / "
                    "(sqrt(list_dot_product(q.e, q.e)) * "
                    "sqrt(list_dot_product({c}.cvec, {c}.cvec)))", 6)

_KM_ROUND = """
a{k} AS (
  SELECT vec_id, any_value(e) AS e,
         arg_max(list_id, c * 16 - list_id) AS list_id, max(c) AS c
  FROM (SELECT q.vec_id, q.e, c{p}.list_id, {cos} AS c
        FROM q CROSS JOIN c{p})
  GROUP BY vec_id
),
m{k} AS (
  SELECT list_id, list(m::DOUBLE ORDER BY pos) AS cvec
  FROM (
    SELECT list_id, pos,
           CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS m
    FROM (
      SELECT list_id, pos, sum(x::BIGINT) AS s, count(*) AS n
      FROM (SELECT list_id, generate_subscripts(e, 1) AS pos,
                   unnest(e) AS x FROM a{k})
      GROUP BY list_id, pos)
  ) GROUP BY list_id
),
c{k} AS (
  SELECT c{p}.list_id, coalesce(m{k}.cvec, c{p}.cvec) AS cvec
  FROM c{p} LEFT JOIN m{k} USING (list_id)
)"""

# Shared portable-Lloyd CTE prefix (q -> c0 -> 3 rounds -> afin, the
# final per-vector assignment) — consumed by embedding_kmeans_stats and
# semdedup_ivf. WITH RECURSIVE is harmless for the non-recursive
# consumer and required by semdedup's greedy-chain CTE.
_KM_PREFIX = (
    f"""WITH RECURSIVE q AS (
  SELECT vec_id,
    list_transform(embedding::DOUBLE[],
                   x -> {fixed_sql("x", 6)}::DOUBLE) AS e
  FROM embeddings
),
c0 AS (
  SELECT ({h60_sql("vec_id::VARCHAR")}
          % 16)::BIGINT AS list_id,
         arg_min(e, vec_id) AS cvec
  FROM q GROUP BY 1
),"""
    + ",".join(
        _KM_ROUND.format(k=k, p=k - 1,
                         cos=_KM_COS.format(c=f"c{k-1}"))
        for k in range(1, 4))
    + """,
afin AS (
  SELECT vec_id, any_value(e) AS e,
         arg_max(list_id, c * 16 - list_id) AS list_id,
         max(c) AS c
  FROM (SELECT q.vec_id, q.e, c3.list_id, """
    + _KM_COS.format(c="c3")
    + """ AS c
        FROM q CROSS JOIN c3)
  GROUP BY vec_id
)"""
)

ORACLE["embedding_kmeans_stats"] = (
    _KM_PREFIX
    + """
SELECT list_id::BIGINT AS cluster, count(*)::BIGINT AS n_members,
  CASE WHEN sum(c) >= 0 THEN (sum(c) // count(*))::BIGINT
       ELSE -((-sum(c)) // count(*))::BIGINT END AS avg_cohesion_e6,
  min(c)::BIGINT AS min_cohesion_e6
FROM afin GROUP BY list_id
""")

# r8: semdedup_ivf converts from rows-only to hash-paired — blocking is
# the shared portable Lloyd (_KM_PREFIX's afin assignment), the greedy
# keep/drop chain replays as a per-cluster recursive CTE carrying the
# kept-id list (the mmr_diversified_topk precedent), and every
# comparison is on the e6-ROUNDED cosine (exact-integer dots over
# e6-quantized components; the single float expression mirrors _KM_COS
# verbatim) against tau_e6 = 500000 — a pure integer threshold.
# Witness tie-break (equal max cosine -> lowest kept id) packs into the
# exact BIGINT key c * 1e8 - j (|c| <= 1e6 so the product caps at 1e14;
# assumes vec_id < 1e8 — the fixtures are < 1e4 and the operator
# documents the same keep-first-by-id contract).
ORACLE["semdedup_ivf"] = (
    _KM_PREFIX
    + f""",
members AS MATERIALIZED (
  SELECT vec_id, list_id, e FROM afin
),
seq AS MATERIALIZED (
  SELECT list_id, vec_id,
         row_number() OVER (PARTITION BY list_id ORDER BY vec_id) AS rn
  FROM members
),
sims AS MATERIALIZED (
  SELECT a.list_id, a.vec_id AS i, b.vec_id AS j,
    {fixed_sql('''list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) *
           sqrt(list_dot_product(b.e, b.e)))''', 6)} AS c
  FROM members a JOIN members b
    ON a.list_id = b.list_id AND b.vec_id < a.vec_id
),
g(list_id, rn, vec_id, kept, witness_id, max_cos_kept_e6, kept_ids) AS (
  SELECT list_id, rn, vec_id, TRUE, (-1)::BIGINT, NULL::BIGINT, [vec_id]
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT list_id, rn, vec_id, mc <= 500000,
         CASE WHEN mc > 500000 THEN mw ELSE -1 END,
         mc,
         CASE WHEN mc <= 500000 THEN list_append(kept_ids, vec_id)
              ELSE kept_ids END
  FROM (
    SELECT s.list_id, s.rn, s.vec_id, g.kept_ids,
           max(s2.c) AS mc,
           arg_max(s2.j, s2.c * 100000000 - s2.j) AS mw
    FROM g JOIN seq s ON s.list_id = g.list_id AND s.rn = g.rn + 1
    LEFT JOIN sims s2 ON s2.list_id = s.list_id AND s2.i = s.vec_id
                     AND list_contains(g.kept_ids, s2.j)
    GROUP BY s.list_id, s.rn, s.vec_id, g.kept_ids
  )
)
SELECT vec_id::BIGINT AS vec_id, list_id::BIGINT AS list_id, kept,
       witness_id::BIGINT AS witness_id,
       max_cos_kept_e6::BIGINT AS max_cos_kept_e6
FROM g
""")


# r8g: quality_calibration_bins — stopword-occurrence score in exact
# micro-units, equal-width bins, truncating-integer means/rates (all
# nonnegative, so // == Spark's DIV), ECE from a 1-row cross join.
ORACLE["quality_calibration_bins"] = f"""
WITH base AS (
  SELECT len(list_filter({TOKS_SQL},
           t -> list_contains(['the','and','of','to','a','in','is','it',
                               'you','that'], t)))::BIGINT AS hits,
         len({TOKS_SQL})::BIGINT AS n_tok,
         (lang = 'en')::BIGINT AS pos
  FROM documents
),
scored AS (
  SELECT hits * 1000000 // n_tok AS score_e6, pos
  FROM base WHERE n_tok > 0
),
per AS (
  SELECT least(score_e6 * 10 // 1000000, 9) AS bin,
         count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_pos,
         (sum(score_e6) // count(*))::BIGINT AS mean_score_e6,
         (sum(pos) * 1000000 // count(*))::BIGINT AS pos_rate_e6
  FROM scored GROUP BY 1
),
g AS (
  SELECT bin, n_docs, n_pos, mean_score_e6, pos_rate_e6,
         abs(mean_score_e6 - pos_rate_e6) AS gap_e6
  FROM per
),
tot AS (SELECT (sum(n_docs * gap_e6) // sum(n_docs))::BIGINT AS ece_e6 FROM g)
SELECT bin::BIGINT AS bin, n_docs, n_pos, mean_score_e6, pos_rate_e6,
       gap_e6::BIGINT AS gap_e6, ece_e6
FROM g CROSS JOIN tot
"""

# r8g: partition_skew_plan — h60(user_id) % 32 buckets; loads and
# factors in exact micro-units (all nonnegative).
ORACLE["partition_skew_plan"] = f"""
WITH per_key AS (
  SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY 1
),
per_bucket AS (
  SELECT ({h60_sql("user_id::VARCHAR")}
          % 32)::BIGINT AS bucket,
         sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys
  FROM per_key GROUP BY 1
),
tot AS (
  SELECT sum(n_rows)::BIGINT AS total_rows,
         max(n_rows * 32 * 1000000)::BIGINT AS mx
  FROM per_bucket
)
SELECT bucket, n_rows, n_keys,
  (n_rows * 1000000 // total_rows)::BIGINT AS share_e6,
  (n_rows * 32 * 1000000 // total_rows)::BIGINT AS load_factor_e6,
  (mx // total_rows)::BIGINT AS max_load_factor_e6
FROM per_bucket CROSS JOIN tot
"""

# r8g: token_positional_entropy — algebraic exact-integer entropy
# (token_entropy_quality convention), modal token via the packed
# printf('%010d|%s') max (count desc, lexicographically-last tie).
ORACLE["token_positional_entropy"] = f"""
WITH toks AS (
  SELECT generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM (SELECT {TOKS_SQL} AS t FROM documents)
),
cnt AS (
  SELECT pos, tok, count(*)::BIGINT AS c
  FROM toks WHERE pos < 20 GROUP BY 1, 2
),
per AS (
  SELECT pos, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct,
         sum(c * ln(c)) AS clnc,
         max(printf('%010d|%s', c, tok)) AS packed
  FROM cnt GROUP BY pos
)
SELECT pos::BIGINT AS pos, n, n_distinct,
  round(ln(n) - clnc / n, 6) AS entropy,
  packed[12:] AS top_token,
  (packed[1:10]::BIGINT * 1000000 // n)::BIGINT AS top_share_e6
FROM per
"""


# r8h: retrieval_label_precision — exact top-k by e6-rounded cosine
# (vec_id tie-break, integer total order); hits/precisions exact.
ORACLE["retrieval_label_precision"] = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe, label AS qlabel FROM v WHERE vec_id < 20),
scored AS (
  SELECT q.qid, q.qlabel, v.vec_id AS nid, v.label AS nlabel,
    {fixed_sql('''list_dot_product(v.e, q.qe)
          / (sqrt(list_dot_product(v.e, v.e))
             * sqrt(list_dot_product(q.qe, q.qe)))''', 6)} AS c
  FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
),
ranked AS (
  SELECT qid, qlabel, nlabel,
    row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS r
  FROM scored
)
SELECT qid::BIGINT AS qid, qlabel::BIGINT AS qlabel,
  sum(CASE WHEN r <= 5 AND nlabel = qlabel THEN 1 ELSE 0 END)::BIGINT
    AS hits_at_5,
  sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)::BIGINT AS hits_at_10,
  (sum(CASE WHEN r <= 5 AND nlabel = qlabel THEN 1 ELSE 0 END)
   * 1000000 // 5)::BIGINT AS p_at_5_e6,
  (sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
   * 1000000 // 10)::BIGINT AS p_at_10_e6
FROM ranked WHERE r <= 10
GROUP BY qid, qlabel
"""

# r8h: embedding_quant_sqnr — symmetric int8 per-dim quantization;
# the level is fixed(v, 0); powers e12-rounded per element then exact
# BIGINT sums.
ORACLE["embedding_quant_sqnr"] = f"""
WITH elems AS (
  SELECT generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS x
  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings)
),
scales AS (SELECT dim, max(abs(x)) / 127.0 AS scale FROM elems GROUP BY 1),
dq AS (
  SELECT elems.dim,
    {fixed_sql("x * x", 12)} AS sig_e12,
    {fixed_sql(f'''(x - CASE WHEN scale > 0
                THEN greatest(-127.0, least(127.0, {fixed_sql("x / scale", 0)}))
                     * scale
                ELSE 0.0 END)
          * (x - CASE WHEN scale > 0
                THEN greatest(-127.0, least(127.0, {fixed_sql("x / scale", 0)}))
                     * scale
                ELSE 0.0 END)''', 12)} AS noise_e12
  FROM elems JOIN scales USING (dim)
)
SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
  sum(sig_e12)::BIGINT AS signal_e12,
  sum(noise_e12)::BIGINT AS noise_e12,
  CASE WHEN sum(noise_e12) > 0
       THEN round(10.0 * log10(sum(sig_e12)::DOUBLE / sum(noise_e12)), 6)
  END AS sqnr_db
FROM dq GROUP BY dim
"""

# r8h: algebraic_merge_audit — per-source partials + merged and direct
# global rows; variance numerators in HUGEINT (Spark: DECIMAL(38,0)).
ORACLE["algebraic_merge_audit"] = """
WITH base AS (SELECT source, n_chars::BIGINT AS x FROM documents),
partials AS (
  SELECT source, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
         sum(x::HUGEINT * x) AS ssq
  FROM base GROUP BY source
),
allrows AS (
  SELECT source, n, s, ssq FROM partials
  UNION ALL
  SELECT 'GLOBAL(merged)', sum(n)::BIGINT, sum(s)::BIGINT, sum(ssq)
  FROM partials
  UNION ALL
  SELECT 'GLOBAL(direct)', count(*)::BIGINT, sum(x)::BIGINT,
         sum(x::HUGEINT * x)
  FROM base
)
SELECT source, n, s, ssq::VARCHAR AS ssq,
  (s * 1000000 // n)::BIGINT AS mean_e6,
  ((ssq * n - s::HUGEINT * s) * 1000000 // (n::HUGEINT * n))::BIGINT
    AS var_e6
FROM allrows
"""


# r8i: hash_width_collision_audit — distinct shingles hashed by the
# same md5; per-width distinct prefix counts; birthday expectation in
# HUGEINT (Spark: DECIMAL(38,0)).
ORACLE["hash_width_collision_audit"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (
  SELECT DISTINCT unnest({ngrams_sql('t', 3)}) AS s
  FROM toks
),
h AS (SELECT md5(s) AS h FROM sh),
agg AS (
  SELECT count(*)::BIGINT AS n_keys,
         count(DISTINCT substr(h, 1, 15))::BIGINT AS d60,
         count(DISTINCT substr(h, 1, 10))::BIGINT AS d40,
         count(DISTINCT substr(h, 1, 8))::BIGINT AS d32,
         count(DISTINCT substr(h, 1, 5))::BIGINT AS d20
  FROM h
)
SELECT bits, n_keys, n_hashes, (n_keys - n_hashes)::BIGINT AS n_collisions,
  (n_keys::HUGEINT * (n_keys - 1) * 1000000
   // (2::HUGEINT ^ (bits + 1))::HUGEINT)::BIGINT
  AS expected_collisions_e6
FROM (
  SELECT 60 AS bits, n_keys, d60 AS n_hashes FROM agg
  UNION ALL SELECT 40, n_keys, d40 FROM agg
  UNION ALL SELECT 32, n_keys, d32 FROM agg
  UNION ALL SELECT 20, n_keys, d20 FROM agg
)
"""

# r8i: experiment_srm_audit — md5 % 2 arms; SRM and 2x2 chi-squares in
# exact micro-units, the 2x2 numerator in HUGEINT.
ORACLE["experiment_srm_audit"] = f"""
WITH per_user AS (
  SELECT user_id, max((event_type = 'purchase')::BIGINT) AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT ({h60_sql("user_id::VARCHAR")}
          % 2)::BIGINT AS arm,
         count(*)::BIGINT AS n_users, sum(conv)::BIGINT AS n_conv
  FROM per_user GROUP BY 1
),
tot AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n_users END) AS na,
    max(CASE WHEN arm = 1 THEN n_users END) AS nb,
    max(CASE WHEN arm = 0 THEN n_conv END) AS ca,
    max(CASE WHEN arm = 1 THEN n_conv END) AS cb
  FROM arms
),
stats AS (
  SELECT
    ((na - nb) * (na - nb) * 1000000 // (na + nb))::BIGINT AS srm_chi2_e6,
    CASE WHEN ca + cb > 0 AND (na + nb) - (ca + cb) > 0
         THEN ((na + nb)::HUGEINT
               * (ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca))
               * (ca::HUGEINT * (nb - cb) - cb::HUGEINT * (na - ca))
               * 1000000
               // (na::HUGEINT * nb * (ca + cb)
                   * ((na + nb) - (ca + cb))))::BIGINT
    END AS conv_chi2_e6
  FROM tot
)
SELECT arm, n_users, n_conv,
  (n_conv * 1000000 // n_users)::BIGINT AS conv_rate_e6,
  srm_chi2_e6, conv_chi2_e6
FROM arms CROSS JOIN stats
"""


# r8j: graph_triangle_count — degree-ordered node-iterator on the
# 0.5-threshold dup edges; every triangle counted once, each corner
# credited.
ORACLE["graph_triangle_count"] = f"""
WITH {_jaccard_pairs(0.5)},
{_triangles_sql("jac")}
SELECT doc_id, count(*)::BIGINT AS n_triangles FROM (
  SELECT u AS doc_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
) GROUP BY doc_id
ORDER BY n_triangles DESC, doc_id ASC LIMIT 50
"""

# r8j: graph_degree_assortativity — symmetrized Pearson of endpoint
# degrees; exact BIGINT sums, one float expression.
ORACLE["graph_degree_assortativity"] = f"""
WITH {_jaccard_pairs(0.5)},
{_degrees_sql("jac")},
ends AS (
  SELECT d1.d AS x, d2.d AS y
  FROM jac e JOIN deg d1 ON e.id1 = d1.v JOIN deg d2 ON e.id2 = d2.v
),
sym AS (SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends),
agg AS (
  SELECT count(*)::BIGINT AS m2, sum(x)::BIGINT AS sx,
         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
  FROM sym
)
SELECT (m2 // 2)::BIGINT AS n_edges, sx, sxx, sxy,
  CASE WHEN m2 * sxx - sx * sx > 0
       THEN {half_up_sql(
           "(m2 * sxy - sx * sx)::DOUBLE / (m2 * sxx - sx * sx)", 6)}
  END AS assortativity
FROM agg
"""

# r8k: wasserstein_source_drift — 1-D earth-mover drift of each
# source's length distribution vs the rest: sum of cross-multiplied
# |CDF gaps| times support gaps, HUGEINT numerators (Spark:
# DECIMAL(38,0)), truncating micro-unit division at the very end.
ORACLE["wasserstein_source_drift"] = """
WITH counts AS (
  SELECT source, n_chars AS x, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
xs AS (SELECT DISTINCT x FROM counts),
srcs AS (SELECT source, sum(c)::BIGINT AS n_src FROM counts GROUP BY 1),
total AS (SELECT sum(c)::BIGINT AS n_all FROM counts),
per_x AS (SELECT x, sum(c)::BIGINT AS cx FROM counts GROUP BY 1),
grid AS (
  SELECT s.source, xs.x, s.n_src, t.n_all,
         coalesce(c.c, 0)::BIGINT AS c, p.cx
  FROM srcs s CROSS JOIN xs CROSS JOIN total t
  LEFT JOIN counts c ON c.source = s.source AND c.x = xs.x
  JOIN per_x p ON p.x = xs.x
),
cum AS (
  SELECT source, x, n_src, (n_all - n_src) AS n_rest,
    sum(c) OVER (PARTITION BY source ORDER BY x) AS cum_src,
    sum(cx) OVER (PARTITION BY source ORDER BY x)
      - sum(c) OVER (PARTITION BY source ORDER BY x) AS cum_rest,
    lead(x) OVER (PARTITION BY source ORDER BY x) - x AS gap
  FROM grid
)
SELECT source, max(n_src)::BIGINT AS n_src, max(n_rest)::BIGINT AS n_rest,
  CASE WHEN max(n_rest) > 0 THEN
    (sum(abs(cum_src::HUGEINT * n_rest - cum_rest::HUGEINT * n_src)
         * gap) * 1000000
     // (max(n_src)::HUGEINT * max(n_rest)))::BIGINT
  ELSE 0 END AS w1_chars_e6
FROM cum WHERE gap IS NOT NULL
GROUP BY source
"""

# r8k: shard_order_runs_audit — adjacent same-source pairs in the
# md5-keyed training order vs the exact permutation expectation
# sum n_s(n_s-1)/n; HUGEINT numerators, micro-unit truncation.
ORACLE["shard_order_runs_audit"] = f"""
WITH keyed AS (
  SELECT doc_id, source, md5(doc_id::VARCHAR) AS k,
    {h60_sql("doc_id::VARCHAR")} % 8
      AS shard
  FROM documents
),
obs AS (
  SELECT shard, count(*)::BIGINT AS n_docs,
    sum((prev = source)::BIGINT)::BIGINT AS obs_same_adj
  FROM (
    SELECT shard, source,
      lag(source) OVER (PARTITION BY shard ORDER BY k, doc_id) AS prev
    FROM keyed)
  GROUP BY shard
),
exp AS (
  SELECT shard, sum(c::HUGEINT * (c - 1)) AS pairs
  FROM (SELECT shard, source, count(*)::BIGINT AS c
        FROM keyed GROUP BY 1, 2)
  GROUP BY shard
)
SELECT o.shard::BIGINT AS shard, o.n_docs, o.obs_same_adj,
  (e.pairs * 1000000 // o.n_docs)::BIGINT AS exp_same_adj_e6,
  CASE WHEN e.pairs > 0 THEN
    (o.obs_same_adj::HUGEINT * o.n_docs * 1000000 // e.pairs)::BIGINT
  END AS ratio_obs_exp_e6
FROM obs o JOIN exp e USING (shard)
"""

# r8k: zone_map_skipping_audit — three key-range layouts of events
# (arrival, 1-D x sort, Morton prefix — codes identical to
# zorder_layout's), per-file min/max zone maps, and the footer-pruning
# rule (skip iff a probed column's range is disjoint) over the fixed
# rank-space probe set mirrored from operators/layout.py::_ZONE_PROBES.
ORACLE["zone_map_skipping_audit"] = f"""
WITH base AS (
  SELECT event_id, user_id, floor(epoch(ts) / 3600)::BIGINT AS hour
  FROM events
),
stats AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
                 min(hour) AS h0, max(hour) AS h1,
                 min(event_id) AS e0, max(event_id) AS e1 FROM base),
keyed AS (
  SELECT ((user_id - u0) * 256 // (u1 - u0 + 1)) AS x,
         ((hour - h0) * 256 // (h1 - h0 + 1)) AS y,
         ((event_id - e0) * 64 // (e1 - e0 + 1)) AS f_nat
  FROM base, stats
),
laid AS (
  SELECT 'natural' AS layout, f_nat AS file_id, x, y FROM keyed
  UNION ALL
  SELECT 'sorted_x', x >> 2, x, y FROM keyed
  UNION ALL
  SELECT 'zorder', ({_MORTON_SQL}) >> 10, x, y FROM keyed
),
zones AS (
  SELECT layout, file_id, count(*)::BIGINT AS n_rows,
         min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM laid GROUP BY 1, 2
),
probes(probe_id, xlo, xhi, ylo, yhi) AS (VALUES
  (0, 64, 96, NULL, NULL), (1, 192, 224, NULL, NULL),
  (2, NULL, NULL, 32, 64), (3, NULL, NULL, 160, 192),
  (4, 64, 96, 32, 64), (5, 192, 224, 160, 192)),
marked AS (
  SELECT layout, probe_id, n_rows,
    ((xlo IS NOT NULL AND (max_x < xlo OR min_x >= xhi))
     OR (ylo IS NOT NULL AND (max_y < ylo OR min_y >= yhi)))::BIGINT
      AS skip
  FROM zones CROSS JOIN probes
)
SELECT layout, probe_id::BIGINT AS probe_id,
  count(*)::BIGINT AS n_files, sum(skip)::BIGINT AS files_skipped,
  sum(skip * n_rows)::BIGINT AS rows_skipped,
  (sum(skip) * 1000000 // count(*))::BIGINT AS skip_frac_e6
FROM marked GROUP BY 1, 2
"""

# r8l: fellegi_sunter_weights — seeded m/u estimation over the blocked
# customer pairs (M = lev<=2 name pairs, U = rest); Laplace-smoothed
# truncating micro-units clamped to [1, 999999]; each weight is one ln
# of exact-integer ratios floor-rounded to micro-nats (the
# lang_source_mutual_info convention).
ORACLE["fellegi_sunter_weights"] = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         {fixed_sql("c_acctbal", 2)} AS bal_cents
  FROM customer
),
pairs AS (
  SELECT (levenshtein(a.c_name, b.c_name) <= 2) AS is_m,
         (abs(a.bal_cents - b.bal_cents) <= 10000) AS f_bal_close,
         (right(a.c_name, 2) = right(b.c_name, 2)) AS f_suffix2,
         ((CASE WHEN a.bal_cents >= 0 THEN a.bal_cents // 100000
                ELSE -((-a.bal_cents) // 100000) END)
          = (CASE WHEN b.bal_cents >= 0 THEN b.bal_cents // 100000
                  ELSE -((-b.bal_cents) // 100000) END)) AS f_bal_band
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
),
fields AS (
  SELECT is_m, 'bal_close' AS field, f_bal_close AS agree FROM pairs
  UNION ALL
  SELECT is_m, 'name_suffix2', f_suffix2 FROM pairs
  UNION ALL
  SELECT is_m, 'bal_band', f_bal_band FROM pairs
),
agg AS (
  SELECT field,
    sum(is_m::BIGINT)::BIGINT AS n_m,
    sum((NOT is_m)::BIGINT)::BIGINT AS n_u,
    sum((is_m AND agree)::BIGINT)::BIGINT AS agree_m,
    sum(((NOT is_m) AND agree)::BIGINT)::BIGINT AS agree_u
  FROM fields GROUP BY field
),
probs AS (
  SELECT field, n_m, n_u, agree_m, agree_u,
    least(999999, greatest(1, (agree_m + 1) * 1000000 // (n_m + 2)))
      ::BIGINT AS m_e6,
    least(999999, greatest(1, (agree_u + 1) * 1000000 // (n_u + 2)))
      ::BIGINT AS u_e6
  FROM agg
)
SELECT field, n_m, n_u, agree_m, agree_u, m_e6, u_e6,
  {fixed_sql("ln(m_e6::DOUBLE / u_e6)", 6)} AS w_agree_e6,
  {fixed_sql("ln((1000000 - m_e6)::DOUBLE / (1000000 - u_e6))", 6)}
    AS w_disagree_e6
FROM probs
"""

# r8l: markov_absorption_steps — the lag/cumsum sessionisation, one
# transition aggregate, then 12 fixed truncated value iterations as
# chained CTEs (the LPA/kmeans fixed-round precedent): v <- 1 + Q·v,
# p <- R_purchase + Q·p, exact integer micro-units per iterate with
# HUGEINT products (Spark: DECIMAL(38,0)) and one truncating division
# per state per round.
_MKV_ROUND = """
v{k} AS (
  SELECT t.from_type AS s,
    (1000000 + sum(CASE WHEN p.v IS NOT NULL
                        THEN t.n_ft::HUGEINT * p.v ELSE 0 END)
               // max(t.n_out))::BIGINT AS v,
    (sum(CASE WHEN t.to_type = 'purchase'
              THEN t.n_ft::HUGEINT * 1000000
              WHEN p.p IS NOT NULL THEN t.n_ft::HUGEINT * p.p
              ELSE 0 END) // max(t.n_out))::BIGINT AS p
  FROM tn t LEFT JOIN v{prev} p ON p.s = t.to_type
  GROUP BY t.from_type
)"""

ORACLE["markov_absorption_steps"] = (
    f"""WITH {SESSIONIZED_SQL},
trans AS (
  SELECT event_type AS from_type,
    coalesce(lead(event_type) OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts, event_id),
             'END') AS to_type
  FROM sessionized
),
tcnt AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_ft
  FROM trans WHERE from_type <> 'purchase' GROUP BY 1, 2
),
tn AS MATERIALIZED (
  SELECT from_type, to_type, n_ft,
         sum(n_ft) OVER (PARTITION BY from_type) AS n_out
  FROM tcnt
),
v0 AS (SELECT DISTINCT from_type AS s, 0::BIGINT AS v, 0::BIGINT AS p
       FROM tn),"""
    + ",".join(_MKV_ROUND.format(k=k, prev=k - 1) for k in range(1, 13))
    + """,
totals AS (
  SELECT from_type, sum(n_ft)::BIGINT AS n_out,
    sum(CASE WHEN to_type = 'purchase' THEN n_ft ELSE 0 END)::BIGINT
      AS n_to_purchase
  FROM tn GROUP BY from_type
)
SELECT t.from_type AS state, t.n_out, t.n_to_purchase,
  v12.v AS steps_to_absorb_e6, v12.p AS p_purchase_e6
FROM totals t JOIN v12 ON v12.s = t.from_type
""")

# r8m: consistent_hash_migration_audit — md5-48bit ring points packed
# unique (h48*2048 + server*64 + vnode), keys at h48*2048 + 2047;
# clockwise-next = conditional MIN with global-min wrap; server
# recovered arithmetically from the pack. Micro-unit shares/moved
# fractions, all integers.
ORACLE["consistent_hash_migration_audit"] = """
WITH ring AS (
  SELECT (i // 64) AS server,
    (('0x' || substr(md5((i // 64)::VARCHAR || ':' || (i % 64)::VARCHAR),
       1, 12))::UBIGINT::BIGINT * 2048 + i)::BIGINT AS point
  FROM (SELECT unnest(generate_series(0, 9 * 64 - 1)) AS i)
),
keys AS (
  SELECT user_id, count(*)::BIGINT AS n_rows,
    (('0x' || substr(md5(user_id::VARCHAR), 1, 12))::UBIGINT::BIGINT
     * 2048 + 2047)::BIGINT AS h
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT k.user_id, k.n_rows,
    coalesce(min(CASE WHEN r.server < 8 AND r.point >= k.h
                      THEN r.point END),
             min(CASE WHEN r.server < 8 THEN r.point END)) AS p_old,
    coalesce(min(CASE WHEN r.point >= k.h THEN r.point END),
             min(r.point)) AS p_new
  FROM keys k CROSS JOIN ring r
  GROUP BY k.user_id, k.n_rows
),
routed AS (
  SELECT user_id, n_rows,
    ((p_old % 2048) // 64)::BIGINT AS s_old,
    ((p_new % 2048) // 64)::BIGINT AS s_new,
    (user_id % 8 <> user_id % 9)::BIGINT AS mod_moved
  FROM assigned
),
gtot AS (
  SELECT count(*)::BIGINT AS n_keys_total,
    sum((s_old <> s_new)::BIGINT)::BIGINT AS ring_moved,
    sum(mod_moved)::BIGINT AS mod_moved
  FROM routed
),
before AS (
  SELECT s_old AS server, count(*)::BIGINT AS n_before
  FROM routed GROUP BY 1
),
after AS (
  SELECT s_new AS server, count(*)::BIGINT AS n_after,
    sum((s_old <> s_new)::BIGINT)::BIGINT AS n_moved_in
  FROM routed GROUP BY 1
),
servers AS (SELECT unnest(generate_series(0, 8))::BIGINT AS server)
SELECT s.server, coalesce(b.n_before, 0)::BIGINT AS n_before,
  coalesce(a.n_after, 0)::BIGINT AS n_after,
  coalesce(a.n_moved_in, 0)::BIGINT AS n_moved_in,
  (coalesce(b.n_before, 0) * 1000000 // g.n_keys_total)::BIGINT
    AS share_before_e6,
  (coalesce(a.n_after, 0) * 1000000 // g.n_keys_total)::BIGINT
    AS share_after_e6,
  (g.ring_moved * 1000000 // g.n_keys_total)::BIGINT AS ring_moved_e6,
  (g.mod_moved * 1000000 // g.n_keys_total)::BIGINT AS mod_moved_e6
FROM servers s LEFT JOIN after a USING (server)
LEFT JOIN before b USING (server) CROSS JOIN gtot g
"""

# r8m: kfold_strata_audit — md5 % k folds, stratum x fold grid with
# materialised zero folds, cross-multiplied exact chi-square
# (HUGEINT / DECIMAL(38,0)), truncating micro-unit division.
ORACLE["kfold_strata_audit"] = f"""
WITH counts AS (
  SELECT lang, source,
    ({h60_sql("doc_id::VARCHAR")} % 5)
      AS fold,
    count(*)::BIGINT AS n_fs
  FROM documents GROUP BY 1, 2, 3
),
strata AS (
  SELECT lang, source, sum(n_fs)::BIGINT AS n_s FROM counts GROUP BY 1, 2
),
grid AS (
  SELECT s.lang, s.source, s.n_s, f.fold,
         coalesce(c.n_fs, 0)::BIGINT AS n_fs
  FROM strata s
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS fold) f
  LEFT JOIN counts c
    ON c.lang = s.lang AND c.source = s.source AND c.fold = f.fold
)
SELECT lang, source, max(n_s)::BIGINT AS n_docs,
  min(n_fs)::BIGINT AS min_fold_n, max(n_fs)::BIGINT AS max_fold_n,
  (sum((5 * n_fs - n_s)::HUGEINT * (5 * n_fs - n_s)) * 1000000
   // (5::HUGEINT * max(n_s)))::BIGINT AS chisq_e6
FROM grid GROUP BY lang, source
"""

# r8n: kcore_dedup_graph — fixed-round synchronous k-core peeling at
# k in {2,3} over the threshold-0.5 dup edges; chained (non-recursive)
# CTEs per round, exactly the LPA replay pattern. Generated by loop so
# the round count stays in ONE place.
def _kcore_sql(ks=(2, 3), n_rounds=5) -> str:
    ctes, rows = [], []
    # every e_r is referenced three times (FROM + two IN subqueries) by
    # the next round — MATERIALIZED stops DuckDB inlining the chain
    # into 3^rounds copies of the base pair build (observed: fd
    # exhaustion from the exploded scan tree)
    for k in ks:
        ctes.append(f"k{k}_e0 AS MATERIALIZED (SELECT id1, id2 FROM jac)")
        for r in range(n_rounds):
            ctes.append(
                f"k{k}_e{r + 1} AS MATERIALIZED "
                f"(WITH {_degrees_sql(f'k{k}_e{r}')} "
                f"SELECT id1, id2 FROM k{k}_e{r} "
                f"WHERE id1 IN (SELECT v FROM deg WHERE d >= {k}) "
                f"AND id2 IN (SELECT v FROM deg WHERE d >= {k}))")
        for r in range(n_rounds + 1):
            rows.append(
                f"SELECT {k}::BIGINT AS k, {r}::BIGINT AS peel_round, "
                f"(SELECT count(*)::BIGINT FROM ("
                f"SELECT id1 AS v FROM k{k}_e{r} "
                f"UNION SELECT id2 FROM k{k}_e{r})) AS n_nodes, "
                f"(SELECT count(*)::BIGINT FROM k{k}_e{r}) AS n_edges")
    return (f"WITH {_jaccard_pairs(0.5)},\n"
            + ",\n".join(ctes) + "\n"
            + "\nUNION ALL ".join(rows))


ORACLE["kcore_dedup_graph"] = _kcore_sql()

# r8n: rolling_distinct_users_hll — the portable HLL registers slid
# over a 7-day RANGE window on the integer day index; grid materialises
# never-hit (day, bucket) cells so the window merge sees every register.
ORACLE["rolling_distinct_users_hll"] = f"""
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
),
exact AS (
  SELECT day, count(*)::BIGINT AS exact_day_distinct FROM du GROUP BY day
),
h AS (SELECT day, {h60_sql("user_id::VARCHAR")} AS hv FROM du),
rb AS (SELECT day, {hll_rho_sql()} FROM h),
regs AS (SELECT day, bucket, max(rho) AS r FROM rb GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM du),
wd AS (
  SELECT day, count(*) OVER (
    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
    AS n_days_window
  FROM days
),
grid AS (
  SELECT d.day, b.bucket, regs.r
  FROM days d
  CROSS JOIN (SELECT unnest(generate_series(0, 4095)) AS bucket) b
  LEFT JOIN regs ON regs.day = d.day AND regs.bucket = b.bucket
),
rolled AS (
  SELECT day, bucket, max(r) OVER (
    PARTITION BY bucket ORDER BY day
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS r
  FROM grid
),
est AS (SELECT day, {hll_partials_sql()} FROM rolled GROUP BY day)
SELECT (DATE '1970-01-01' + est.day::INT)::VARCHAR AS day,
  wd.n_days_window,
  n_hit::BIGINT AS n_buckets_hit,
  {hll_estimate_sql()} AS est_rolling_distinct,
  exact.exact_day_distinct
FROM est JOIN wd ON est.day = wd.day JOIN exact ON est.day = exact.day
"""

# r8o: er_survivorship_golden — block-confined lev<=2 pairs (the
# customer_entity_blocking base), their exact connected components
# (the recursive reach CTE; cluster = least reachable custkey), then the
# survivorship rules as one rank window + one rollup.
ORACLE["er_survivorship_golden"] = f"""
WITH RECURSIVE
c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         {fixed_sql("c_acctbal", 2)} AS bal_cents
  FROM customer
),
p AS MATERIALIZED (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
nodes AS (SELECT id1 AS v FROM p UNION SELECT id2 FROM p),
""" + _components("SELECT v FROM nodes", "p") + """,
members AS (
  SELECT comp.component AS cluster, c.c_custkey, c.c_name, c.c_nationkey,
         c.c_mktsegment, c.bal_cents
  FROM comp JOIN c ON comp.doc_id = c.c_custkey
),
gold AS (
  SELECT cluster, count(*)::BIGINT AS n_members,
         count(DISTINCT c_name)::BIGINT AS n_distinct_names,
         max(bal_cents)::BIGINT AS surviving_bal_cents
  FROM members GROUP BY cluster
),
ranked AS (
  SELECT cluster, c_name, c_nationkey, c_mktsegment,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY bal_cents DESC, c_custkey ASC) AS rn
  FROM members
)
SELECT g.cluster AS golden_custkey, g.n_members, g.n_distinct_names,
       r.c_name AS surviving_name, g.surviving_bal_cents,
       r.c_nationkey::BIGINT AS nationkey, r.c_mktsegment AS mktsegment
FROM gold g JOIN ranked r ON g.cluster = r.cluster AND r.rn = 1
WHERE g.n_members >= 2
"""

# r8o: encoding_dictionary_audit — counts-of-counts per (column,
# value-string) then a |columns|-row rollup; exact byte counts of the
# decimal renderings, bit-width = length(bin(nd-1)).
ORACLE["encoding_dictionary_audit"] = """
WITH pairs AS (
  SELECT 'l_orderkey' AS col_name, l_orderkey::VARCHAR AS val FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_partkey::VARCHAR FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey::VARCHAR FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', l_linenumber::VARCHAR FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', l_returnflag FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', l_linestatus FROM lineitem
),
counts AS (
  SELECT col_name, val, count(*)::BIGINT AS cnt
  FROM pairs WHERE val IS NOT NULL GROUP BY 1, 2
),
per_col AS (
  SELECT col_name, sum(cnt)::BIGINT AS n_rows,
         count(*)::BIGINT AS n_distinct,
         sum(cnt * strlen(val))::BIGINT AS plain_bytes,
         sum(strlen(val))::BIGINT AS dict_entry_bytes
  FROM counts GROUP BY col_name
),
sized AS (
  SELECT col_name, n_rows, n_distinct, plain_bytes,
    (CASE WHEN n_distinct <= 1 THEN 1
          ELSE length(bin(n_distinct - 1)) END)::BIGINT AS index_bits,
    dict_entry_bytes
  FROM per_col
),
fin AS (
  SELECT col_name, n_rows, n_distinct, plain_bytes, index_bits,
    (dict_entry_bytes + (n_rows * index_bits + 7) // 8)::BIGINT
      AS dict_bytes
  FROM sized
)
SELECT col_name, n_rows, n_distinct, plain_bytes, index_bits, dict_bytes,
  (dict_bytes * 1000000 // plain_bytes)::BIGINT AS dict_ratio_e6,
  CASE WHEN dict_bytes < plain_bytes THEN 'DICT' ELSE 'PLAIN' END
    AS recommend
FROM fin
"""

# r8p: markov_attribution_removal — the markov_absorption_steps value
# iteration crossed with a removal-scenario dimension (transitions
# into the removed channel redirect to END, the channel's own rows
# drop); 12 chained rounds on the scenario x matrix relation, then
# removal effects and normalised shares as exact truncating divisions.
_ATTR_ROUND = """
a{k} AS (
  SELECT t.scenario, t.from_type AS s,
    (sum(CASE WHEN t.to_type = 'purchase'
              THEN t.n_ft::HUGEINT * 1000000
              WHEN p.p IS NOT NULL THEN t.n_ft::HUGEINT * p.p
              ELSE 0 END) // max(t.n_out))::BIGINT AS p
  FROM atn t LEFT JOIN a{prev} p
    ON p.scenario = t.scenario AND p.s = t.to_type
  GROUP BY t.scenario, t.from_type
)"""

ORACLE["markov_attribution_removal"] = (
    f"""WITH {SESSIONIZED_SQL},
body AS (
  SELECT event_type,
    coalesce(lead(event_type) OVER w2, 'END') AS nxt,
    row_number() OVER w2 AS rn
  FROM sessionized
  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
),
trans AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_ft FROM (
    SELECT event_type AS from_type, nxt AS to_type FROM body
    WHERE event_type <> 'purchase'
    UNION ALL
    SELECT 'START', event_type FROM body WHERE rn = 1
  ) GROUP BY 1, 2
),
scn AS (
  SELECT DISTINCT from_type AS scenario FROM trans
  WHERE from_type <> 'START'
  UNION ALL SELECT 'NONE'
),
atn1 AS (
  SELECT s.scenario, t.from_type,
    CASE WHEN t.to_type = s.scenario THEN 'END'
         ELSE t.to_type END AS to_type,
    sum(t.n_ft)::BIGINT AS n_ft
  FROM trans t CROSS JOIN scn s
  WHERE t.from_type <> s.scenario
  GROUP BY 1, 2, 3
),
atn AS MATERIALIZED (
  SELECT scenario, from_type, to_type, n_ft,
    sum(n_ft) OVER (PARTITION BY scenario, from_type) AS n_out
  FROM atn1
),
a0 AS (SELECT DISTINCT scenario, from_type AS s, 0::BIGINT AS p
       FROM atn),"""
    + ",".join(_ATTR_ROUND.format(k=k, prev=k - 1) for k in range(1, 13))
    + """,
base AS (SELECT p FROM a12 WHERE scenario = 'NONE' AND s = 'START'),
eff AS (
  SELECT a.scenario AS channel, b.p AS p_base_e6, a.p AS p_removed_e6,
    CASE WHEN b.p > 0
         THEN ((b.p - a.p)::HUGEINT * 1000000 // b.p)::BIGINT
         ELSE 0 END AS removal_effect_e6
  FROM a12 a CROSS JOIN base b
  WHERE a.scenario <> 'NONE' AND a.s = 'START'
),
tot AS (SELECT sum(removal_effect_e6)::BIGINT AS te FROM eff)
SELECT channel, p_base_e6, p_removed_e6, removal_effect_e6,
  CASE WHEN te > 0
       THEN (removal_effect_e6::HUGEINT * 1000000 // te)::BIGINT
       ELSE 0 END AS attribution_share_e6
FROM eff CROSS JOIN tot
""")

# r8p: psi_source_drift — exact counts-of-counts decile edges
# (ceil(j*N/nb) landing in (cum-cx, cum]), add-one smoothed shares,
# per-cell e6-rounded PSI terms summed as integers.
ORACLE["psi_source_drift"] = f"""
WITH sv AS (
  SELECT source, n_chars AS x, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
per_x AS (SELECT x, sum(c)::BIGINT AS cx FROM sv GROUP BY x),
total AS (SELECT sum(cx)::BIGINT AS n_all FROM per_x),
cum AS (
  SELECT x, cx, n_all, sum(cx) OVER (ORDER BY x)::BIGINT AS cum
  FROM per_x CROSS JOIN total
),
jdx AS (SELECT unnest(generate_series(1, 9))::BIGINT AS j),
edges AS (
  SELECT x AS edge FROM cum CROSS JOIN jdx
  WHERE -((-j * n_all) // 10) > cum - cx
    AND -((-j * n_all) // 10) <= cum
),
xbin AS (
  SELECT p.x, sum((p.x >= e.edge)::BIGINT)::BIGINT AS bin
  FROM per_x p CROSS JOIN edges e GROUP BY p.x
),
src_tot AS (SELECT source, sum(c)::BIGINT AS n_src FROM sv GROUP BY 1),
src_bin AS (
  SELECT sv.source, xbin.bin, sum(sv.c)::BIGINT AS n_sb
  FROM sv JOIN xbin ON sv.x = xbin.x GROUP BY 1, 2
),
ref_bin AS (
  SELECT xbin.bin, sum(per_x.cx)::BIGINT AS n_rb
  FROM per_x JOIN xbin ON per_x.x = xbin.x GROUP BY 1
),
grid AS (
  SELECT st.source, rb.bin, st.n_src,
         coalesce(sb.n_sb, 0)::BIGINT AS n_sb, rb.n_rb, t.n_all
  FROM src_tot st CROSS JOIN ref_bin rb
  LEFT JOIN src_bin sb ON sb.source = st.source AND sb.bin = rb.bin
  CROSS JOIN total t
),
terms AS (
  SELECT source, n_src,
    {fixed_sql('''((n_sb + 1)::DOUBLE / (n_src + 10)::DOUBLE
            - (n_rb + 1)::DOUBLE / (n_all + 10)::DOUBLE)
           * ln(((n_sb + 1)::DOUBLE / (n_src + 10)::DOUBLE)
                / ((n_rb + 1)::DOUBLE / (n_all + 10)::DOUBLE))''', 6)} AS t_e6
  FROM grid
)
SELECT source, n_src AS n_docs, sum(t_e6)::BIGINT AS psi_e6,
  CASE WHEN sum(t_e6) > 250000 THEN 'MAJOR'
       WHEN sum(t_e6) > 100000 THEN 'MODERATE'
       ELSE 'STABLE' END AS drift_flag
FROM terms GROUP BY source, n_src
"""

# r8q: experiment_peeking_audit — cumulative daily 2x2 chi-square of
# the md5-armed experiment (first-event entry, first-purchase
# conversion); exact HUGEINT cross products, 3841458 e6-critical
# literal shared with the Spark side, windows on the 2 x |days| grid.
ORACLE["experiment_peeking_audit"] = f"""
WITH per_user AS (
  SELECT user_id,
    min(epoch_us(ts) // 86400000000) AS entry_day,
    min(CASE WHEN event_type = 'purchase'
             THEN epoch_us(ts) // 86400000000 END) AS conv_day
  FROM events GROUP BY user_id
),
armed AS (
  SELECT ({h60_sql("user_id::VARCHAR")}
          % 2)::BIGINT AS arm, entry_day, conv_day
  FROM per_user
),
days AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events),
arms AS (SELECT unnest(generate_series(0, 1))::BIGINT AS arm),
entries AS (
  SELECT arm, entry_day AS day, count(*)::BIGINT AS n_enter
  FROM armed GROUP BY 1, 2
),
convs AS (
  SELECT arm, conv_day AS day, count(*)::BIGINT AS n_convert
  FROM armed WHERE conv_day IS NOT NULL GROUP BY 1, 2
),
grid AS (
  SELECT a.arm, d.day,
    sum(coalesce(e.n_enter, 0)) OVER
      (PARTITION BY a.arm ORDER BY d.day)::BIGINT AS n,
    sum(coalesce(c.n_convert, 0)) OVER
      (PARTITION BY a.arm ORDER BY d.day)::BIGINT AS c
  FROM days d CROSS JOIN arms a
  LEFT JOIN entries e ON e.arm = a.arm AND e.day = d.day
  LEFT JOIN convs c ON c.arm = a.arm AND c.day = d.day
),
daily AS (
  SELECT day,
    max(CASE WHEN arm = 0 THEN n END) AS n_a,
    max(CASE WHEN arm = 1 THEN n END) AS n_b,
    max(CASE WHEN arm = 0 THEN c END) AS conv_a,
    max(CASE WHEN arm = 1 THEN c END) AS conv_b
  FROM grid GROUP BY day
),
scored AS (
  SELECT day, n_a, n_b, conv_a, conv_b,
    CASE WHEN conv_a + conv_b > 0
          AND (n_a + n_b) - (conv_a + conv_b) > 0
          AND n_a > 0 AND n_b > 0
         THEN ((n_a + n_b)
               * (conv_a::HUGEINT * (n_b - conv_b)
                  - conv_b::HUGEINT * (n_a - conv_a))
               * (conv_a::HUGEINT * (n_b - conv_b)
                  - conv_b::HUGEINT * (n_a - conv_a))
               * 1000000
               // (n_a::HUGEINT * n_b * (conv_a + conv_b)
                   * ((n_a + n_b) - (conv_a + conv_b))))::BIGINT
    END AS chi2_e6
  FROM daily
),
flagged AS (
  SELECT *, (CASE WHEN chi2_e6 IS NOT NULL AND chi2_e6 > 3841458
                  THEN 1 ELSE 0 END)::BIGINT AS peek_sig
  FROM scored
)
SELECT (DATE '1970-01-01' + day::INT)::VARCHAR AS day,
  n_a, n_b, conv_a, conv_b, chi2_e6, peek_sig,
  sum(peek_sig) OVER (ORDER BY day)::BIGINT AS cum_sig_days
FROM flagged
"""

# r8q: rle_run_length_audit — run boundaries (value <> lag) over the
# total (l_orderkey, l_linenumber) arrival order, all columns lagged
# in ONE window; distinct counts from one aggregate.
ORACLE["rle_run_length_audit"] = """
WITH lagged AS (
  SELECT l_suppkey, l_partkey, l_returnflag, l_linestatus,
    lag(l_suppkey) OVER w AS p_sk, lag(l_partkey) OVER w AS p_pk,
    lag(l_returnflag) OVER w AS p_rf, lag(l_linestatus) OVER w AS p_ls
  FROM lineitem
  WINDOW w AS (ORDER BY l_orderkey, l_linenumber)
),
runs AS (
  SELECT count(*)::BIGINT AS n_rows,
    sum((p_sk IS NULL OR l_suppkey <> p_sk)::BIGINT)::BIGINT AS r_sk,
    sum((p_pk IS NULL OR l_partkey <> p_pk)::BIGINT)::BIGINT AS r_pk,
    sum((p_rf IS NULL OR l_returnflag <> p_rf)::BIGINT)::BIGINT AS r_rf,
    sum((p_ls IS NULL OR l_linestatus <> p_ls)::BIGINT)::BIGINT AS r_ls
  FROM lagged
),
nd AS (
  SELECT count(DISTINCT l_suppkey)::BIGINT AS d_sk,
         count(DISTINCT l_partkey)::BIGINT AS d_pk,
         count(DISTINCT l_returnflag)::BIGINT AS d_rf,
         count(DISTINCT l_linestatus)::BIGINT AS d_ls
  FROM lineitem
),
rows_out AS (
  SELECT 'l_suppkey' AS col_name, n_rows, d_sk AS n_distinct,
         r_sk AS n_runs FROM runs CROSS JOIN nd
  UNION ALL
  SELECT 'l_partkey', n_rows, d_pk, r_pk FROM runs CROSS JOIN nd
  UNION ALL
  SELECT 'l_returnflag', n_rows, d_rf, r_rf FROM runs CROSS JOIN nd
  UNION ALL
  SELECT 'l_linestatus', n_rows, d_ls, r_ls FROM runs CROSS JOIN nd
)
SELECT col_name, n_rows, n_distinct, n_runs,
  (n_rows * 1000000 // n_runs)::BIGINT AS avg_run_len_e6,
  (n_distinct * 1000000 // n_runs)::BIGINT AS sorted_runs_ratio_e6
FROM rows_out
"""

# r8r: ab_cuped_adjustment — exact HUGEINT moment sums, pooled theta,
# identical float operation order, zero-variance guards on integer
# tests.
ORACLE["ab_cuped_adjustment"] = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
    {fixed_sql("value", 6)} AS v
  FROM events
),
d0 AS (SELECT min(day) AS d0 FROM base),
per_user AS (
  SELECT user_id,
    sum(CASE WHEN day < d0.d0 + 15 THEN v ELSE 0 END)::BIGINT AS x,
    sum(CASE WHEN day >= d0.d0 + 15 THEN v ELSE 0 END)::BIGINT AS y
  FROM base CROSS JOIN d0 GROUP BY user_id
),
armed AS (
  SELECT ({h60_sql("user_id::VARCHAR")}
          % 2)::BIGINT AS arm, x, y
  FROM per_user
),
pooled AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
    sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy,
    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy
  FROM armed
),
arms AS (
  SELECT arm, count(*)::BIGINT AS n_users, sum(x)::BIGINT AS sx_a,
    sum(y)::BIGINT AS sy_a
  FROM armed GROUP BY arm
),
stats AS (
  SELECT arm, n_users, sx_a, sy_a, n, sx, sy,
    (n::HUGEINT * sxy - sx::HUGEINT * sy) AS cov_n,
    (n::HUGEINT * sxx - sx::HUGEINT * sx) AS var_xn,
    (n::HUGEINT * syy - sy::HUGEINT * sy) AS var_yn
  FROM arms CROSS JOIN pooled
)
SELECT arm, n_users,
  {fixed_sql("sy_a::DOUBLE / n_users::DOUBLE", 0)} AS mean_y_e6,
  {fixed_sql('''sy_a::DOUBLE / n_users::DOUBLE
        - (CASE WHEN var_xn = 0 THEN 0.0
                ELSE cov_n::DOUBLE / var_xn::DOUBLE END)
          * (sx_a::DOUBLE / n_users::DOUBLE - sx::DOUBLE / n::DOUBLE)''', 0)}
    AS mean_y_cuped_e6,
  {fixed_sql('''CASE WHEN var_xn = 0 THEN 0.0
              ELSE cov_n::DOUBLE / var_xn::DOUBLE END''', 6)} AS theta_e6,
  {fixed_sql('''CASE WHEN var_xn = 0 OR var_yn = 0 THEN 0.0
              ELSE (cov_n::DOUBLE * cov_n::DOUBLE)
                   / (var_xn::DOUBLE * var_yn::DOUBLE) END''', 6)}
    AS var_reduction_e6
FROM stats
"""

# r8r: dedup_token_savings — the dedup_keep_best recursive-CTE CC +
# keep-longest policy, rolled up to per-source doc/token savings.
ORACLE["dedup_token_savings"] = rf"""
WITH RECURSIVE
toksrc AS (
  SELECT doc_id, source, n_chars,
    len({TOKS_SQL})::BIGINT AS n_tokens
  FROM documents
),
j AS ({_NEAR_DUPS}),
{_components("SELECT doc_id FROM documents", "j")},
flagged AS (
  SELECT t.source, t.n_tokens,
    (row_number() OVER (PARTITION BY c.component
                        ORDER BY t.n_chars DESC, t.doc_id ASC) > 1)
      ::BIGINT AS dropped
  FROM comp c JOIN toksrc t USING (doc_id)
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(dropped)::BIGINT AS n_dropped,
  sum(n_tokens)::BIGINT AS total_tokens,
  sum(dropped * n_tokens)::BIGINT AS dropped_tokens,
  (sum(dropped) * 1000000 // count(*))::BIGINT AS doc_savings_e6,
  CASE WHEN sum(n_tokens) > 0
       THEN (sum(dropped * n_tokens) * 1000000 // sum(n_tokens))::BIGINT
       ELSE 0 END AS token_savings_e6
FROM flagged GROUP BY source
"""

# r8s: graph_modularity_audit — CC (recursive reach) and 4-round LPA
# on the same exact 0.8 pair base, Newman Q as ONE sign-split
# truncating micro-division of exact HUGEINT integers.
ORACLE["graph_modularity_audit"] = (
    f"WITH RECURSIVE\nj AS ({_NEAR_DUPS}),\n"
    + """pr AS MATERIALIZED (SELECT id1, id2 FROM j),
nodes AS (SELECT id1 AS v FROM pr UNION SELECT id2 FROM pr),
"""
    + _components("SELECT v FROM nodes", "pr") + ",\n"
    + _lpa_sql("pr", 4) + ",\n"
    + _degrees_sql("pr") + """,
lab AS (
  SELECT 'cc_star' AS method, doc_id AS v, component AS lbl FROM comp
  UNION ALL SELECT 'lpa_4', v, lbl FROM lpa
),
em AS (
  SELECT b1.method,
    count(*)::BIGINT AS m_edges,
    sum((b1.lbl = b2.lbl)::BIGINT)::BIGINT AS internal_edges
  FROM pr
  JOIN lab b1 ON pr.id1 = b1.v
  JOIN lab b2 ON pr.id2 = b2.v AND b2.method = b1.method
  GROUP BY b1.method
),
dsq AS (
  SELECT method, count(*)::BIGINT AS n_communities,
    sum(dc::HUGEINT * dc) AS sum_deg_sq
  FROM (
    SELECT b.method, b.lbl, sum(d.d)::BIGINT AS dc
    FROM deg d JOIN lab b ON d.v = b.v GROUP BY b.method, b.lbl)
  GROUP BY method
),
nn AS (SELECT method, count(*)::BIGINT AS n_nodes FROM lab
       GROUP BY method),
fin AS (
  SELECT em.method, nn.n_nodes, em.m_edges, dsq.n_communities,
    em.internal_edges, dsq.sum_deg_sq,
    (4 * em.m_edges::HUGEINT * em.internal_edges - dsq.sum_deg_sq)
      AS num,
    (4 * em.m_edges::HUGEINT * em.m_edges) AS den
  FROM em JOIN dsq USING (method) JOIN nn USING (method)
)
SELECT method, n_nodes, m_edges, n_communities, internal_edges,
  sum_deg_sq::BIGINT AS sum_deg_sq,
  (CASE WHEN num >= 0 THEN (num * 1000000) // den
        ELSE -(((-num) * 1000000) // den) END)::BIGINT AS q_e6
FROM fin
""")

# r8s: events_burst_kleinberg — per-day state costs e6-rounded FIRST
# (one ln chain per cell, pinned order), then the whole Viterbi is
# exact integer min-plus: forward recursion with from-pointers and the
# backtrace, each a lockstep recursive CTE over the per-type step
# index; <= ties prefer the baseline state, matching Spark.
ORACLE["events_burst_kleinberg"] = f"""
WITH RECURSIVE
counts AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
    count(*)::BIGINT AS r
  FROM events GROUP BY 1, 2
),
per_day AS (SELECT d, sum(r)::BIGINT AS n FROM counts GROUP BY d),
types AS (SELECT DISTINCT event_type FROM counts),
tot AS (SELECT event_type, sum(r)::BIGINT AS rr FROM counts GROUP BY 1),
dd AS (SELECT sum(n)::BIGINT AS dd FROM per_day),
grid AS (
  SELECT t.event_type, p.d, coalesce(c.r, 0)::BIGINT AS r, p.n,
         tt.rr, dd.dd
  FROM per_day p CROSS JOIN types t
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.d = p.d
  JOIN tot tt ON tt.event_type = t.event_type
  CROSS JOIN dd
),
costed AS (
  SELECT event_type, d, r, n,
    {fixed_sql('''-(r::DOUBLE * ln(least(rr::DOUBLE / dd::DOUBLE, 0.98))
            + (n - r)::DOUBLE
              * ln(1.0 - (least(rr::DOUBLE / dd::DOUBLE, 0.98))))''', 6)}
      AS c0s,
    {fixed_sql('''-(r::DOUBLE * ln(least(2.0 * (least(rr::DOUBLE / dd::DOUBLE,
                                              0.98)), 0.99))
            + (n - r)::DOUBLE
              * ln(1.0 - (least(2.0 * (least(rr::DOUBLE / dd::DOUBLE,
                                             0.98)), 0.99))))''', 6)}
      AS c1s
  FROM grid
),
steps AS MATERIALIZED (
  SELECT event_type, d, r, n, c0s, c1s,
    row_number() OVER (PARTITION BY event_type ORDER BY d) AS k,
    count(*) OVER (PARTITION BY event_type) AS t_days
  FROM costed
),
taus AS (
  SELECT event_type,
    {fixed_sql("ln(max(t_days)::DOUBLE)", 6)} AS tau,
    max(t_days)::BIGINT AS mk
  FROM steps GROUP BY event_type
),
fwd(event_type, k, c0, c1, f0, f1) AS (
  SELECT s.event_type, s.k, s.c0s, s.c1s + t.tau,
         0::BIGINT, 0::BIGINT
  FROM steps s JOIN taus t USING (event_type) WHERE s.k = 1
  UNION ALL
  SELECT s.event_type, s.k,
    s.c0s + least(f.c0, f.c1),
    s.c1s + least(f.c0 + t.tau, f.c1),
    CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END::BIGINT,
    CASE WHEN f.c0 + t.tau <= f.c1 THEN 0 ELSE 1 END::BIGINT
  FROM fwd f
  JOIN steps s ON s.event_type = f.event_type AND s.k = f.k + 1
  JOIN taus t ON t.event_type = f.event_type
),
bwd(event_type, k, state) AS (
  SELECT f.event_type, f.k,
    CASE WHEN f.c1 < f.c0 THEN 1 ELSE 0 END::BIGINT
  FROM fwd f JOIN taus t ON t.event_type = f.event_type
  WHERE f.k = t.mk
  UNION ALL
  SELECT b.event_type, b.k - 1,
    CASE WHEN b.state = 0 THEN f.f0 ELSE f.f1 END
  FROM bwd b
  JOIN fwd f ON f.event_type = b.event_type AND f.k = b.k
  WHERE b.k > 1
)
SELECT s.event_type,
  (DATE '1970-01-01' + s.d::INT)::VARCHAR AS day,
  s.r AS n_type_events, s.n AS n_day_events,
  b.state AS burst, f.c0 AS cum_cost0_e6, f.c1 AS cum_cost1_e6
FROM steps s
JOIN fwd f ON f.event_type = s.event_type AND f.k = s.k
JOIN bwd b ON b.event_type = s.event_type AND b.k = s.k
"""

# r8t: isotonic_calibration_pav — quality_calibration_bins' score/
# label pass, then the exact minimax identity on e6-rounded interval
# means (bounded triple cross over occupied bins).
ORACLE["isotonic_calibration_pav"] = f"""
WITH base AS (
  SELECT len(list_filter({TOKS_SQL}, t -> list_contains(['the','and','of','to','a','in','is','it','you','that'], t)))::BIGINT
           AS hits,
         len({TOKS_SQL})::BIGINT AS n_tok,
         (lang = 'en')::BIGINT AS pos
  FROM documents
),
nz AS (SELECT * FROM base WHERE n_tok > 0),
binned AS (
  SELECT least(hits * 1000000 // n_tok * 10 // 1000000, 9) AS bin, pos
  FROM nz
),
per AS (
  SELECT bin, count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_pos
  FROM binned GROUP BY bin
),
pre AS (
  SELECT bin, n_docs, n_pos,
    sum(n_docs) OVER (ORDER BY bin)::BIGINT AS cn,
    sum(n_pos) OVER (ORDER BY bin)::BIGINT AS cp
  FROM per
),
lo AS (SELECT bin AS j, cn - n_docs AS cn_j, cp - n_pos AS cp_j FROM pre),
hi AS (SELECT bin AS k, cn AS cn_k, cp AS cp_k FROM pre),
ivl AS (
  SELECT j, k, ((cp_k - cp_j) * 1000000 // (cn_k - cn_j))::BIGINT
           AS avg_e6
  FROM lo CROSS JOIN hi WHERE j <= k
),
inner_min AS (
  SELECT b.bin AS i, ivl.j, min(ivl.avg_e6) AS m
  FROM ivl CROSS JOIN (SELECT bin FROM per) b
  WHERE ivl.j <= b.bin AND ivl.k >= b.bin
  GROUP BY 1, 2
),
iso AS (SELECT i, max(m)::BIGINT AS iso_rate_e6 FROM inner_min GROUP BY i)
SELECT per.bin, per.n_docs, per.n_pos,
  (per.n_pos * 1000000 // per.n_docs)::BIGINT AS pos_rate_e6,
  iso.iso_rate_e6,
  abs(per.n_pos * 1000000 // per.n_docs - iso.iso_rate_e6)::BIGINT
    AS correction_e6
FROM per JOIN iso ON per.bin = iso.i
"""

# r8t: embedding_jl_distortion_audit — the JL_SIGNS literal matrix
# (generated once in similarity.py, embedded identically here), e6-
# quantised components, all-integer projections/distances (HUGEINT
# sums), one truncating micro-division per pair, fixed histogram.
def _jl_sql() -> str:
    from hadoop_mapreduce_spark.operators.similarity import (
        JL_D,
        JL_K,
        JL_SIGNS,
    )

    sign_rows = ", ".join(
        f"({j}, {i + 1}, {JL_SIGNS[j][i]})"
        for j in range(JL_K) for i in range(JL_D))
    return f"""
WITH v AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> {fixed_sql("x::DOUBLE", 6)}) AS qe
  FROM embeddings
),
comp AS (
  SELECT vec_id, g.i, qe[g.i] AS q
  FROM v, LATERAL (SELECT unnest(generate_series(1, {JL_D})) AS i) g
),
signs(j, i, s) AS (VALUES {sign_rows}),
proj AS (
  SELECT c.vec_id, s.j, sum(s.s * c.q)::BIGINT AS y
  FROM comp c JOIN signs s ON s.i = c.i
  GROUP BY 1, 2
),
d2 AS (
  SELECT a.vec_id,
    sum((a.q - b.q)::HUGEINT * (a.q - b.q)) AS d2
  FROM comp a JOIN comp b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
  GROUP BY a.vec_id
),
p2 AS (
  SELECT a.vec_id,
    sum((a.y - b.y)::HUGEINT * (a.y - b.y)) AS p2
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND a.j = b.j
  GROUP BY a.vec_id
),
ratio AS (
  SELECT (p2.p2 * 1000000 // ({JL_K} * d2.d2))::BIGINT AS ratio_e6
  FROM d2 JOIN p2 USING (vec_id) WHERE d2.d2 > 0
),
binned AS (
  SELECT ratio_e6,
    (CASE WHEN ratio_e6 < 600000 THEN 0
          WHEN ratio_e6 < 800000 THEN 1
          WHEN ratio_e6 < 950000 THEN 2
          WHEN ratio_e6 < 1050000 THEN 3
          WHEN ratio_e6 < 1200000 THEN 4
          WHEN ratio_e6 < 1400000 THEN 5
          ELSE 6 END)::BIGINT AS bin
  FROM ratio
)
SELECT bin, count(*)::BIGINT AS n_pairs,
  (sum(ratio_e6) // count(*))::BIGINT AS mean_ratio_e6
FROM binned GROUP BY bin
"""


ORACLE["embedding_jl_distortion_audit"] = _jl_sql()

# r8u: negative_sampling_table — f^0.75 = sqrt(sqrt(f^3)) (IEEE
# correctly-rounded chain, no libm pow), weights e6-floored BEFORE the
# vocabulary sum so normaliser and CDF are exact integers.
ORACLE["negative_sampling_table"] = f"""
WITH counts AS (
  SELECT tk, count(*)::BIGINT AS c FROM (
    SELECT unnest({TOKS_SQL}) AS tk FROM documents)
  GROUP BY tk
),
weighted AS (
  SELECT tk, c,
    {fixed_sql("sqrt(sqrt(c::DOUBLE * c * c))", 6)} AS w
  FROM counts
),
tot AS (SELECT sum(w::HUGEINT) AS tw FROM weighted),
top AS (
  SELECT tk, c, w,
    row_number() OVER (ORDER BY c DESC, tk ASC) AS rank,
    sum(w::HUGEINT) OVER (ORDER BY c DESC, tk ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM weighted ORDER BY c DESC, tk ASC LIMIT 64
)
SELECT rank::BIGINT AS rank, tk AS token, c AS cnt,
  (w::HUGEINT * 1000000 // tw)::BIGINT AS weight_e6,
  (cw * 1000000 // tw)::BIGINT AS cum_weight_e6
FROM top CROSS JOIN tot
"""

# r8u: hll_intersection_audit — the portable HLL registers and
# estimator, pair unions via union-all + bucket-wise max, exact
# distinct-token intersections as ground truth.
ORACLE["hll_intersection_audit"] = f"""
WITH occ AS (SELECT source, unnest({TOKS_SQL}) AS tk FROM documents),
toks AS (SELECT DISTINCT source, tk FROM occ),
exact AS (
  SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS exact_common
  FROM toks a JOIN toks b ON a.tk = b.tk AND a.source < b.source
  GROUP BY 1, 2
),
h AS (SELECT source, {h60_sql("tk")} AS hv FROM toks),
rb AS (SELECT source, {hll_rho_sql()} FROM h),
regs AS MATERIALIZED (
  SELECT source, bucket, max(rho) AS r FROM rb GROUP BY 1, 2),
est1 AS (SELECT source, {hll_partials_sql("*")} FROM regs GROUP BY source),
sing AS (SELECT source, {hll_estimate_sql()} AS est FROM est1),
srcs AS (SELECT DISTINCT source FROM regs),
pairs AS (
  SELECT x.source AS s1, y.source AS s2
  FROM srcs x JOIN srcs y ON x.source < y.source
),
pair_regs AS (
  SELECT s1, s2, bucket, max(r) AS r FROM (
    SELECT p.s1, p.s2, g.bucket, g.r
    FROM pairs p JOIN regs g ON g.source = p.s1
    UNION ALL
    SELECT p.s1, p.s2, g.bucket, g.r
    FROM pairs p JOIN regs g ON g.source = p.s2)
  GROUP BY 1, 2, 3
),
estu AS (
  SELECT s1, s2, {hll_partials_sql("*")} FROM pair_regs GROUP BY 1, 2),
uni AS (SELECT s1, s2, {hll_estimate_sql()} AS est_union FROM estu)
SELECT e.s1, e.s2, e.exact_common,
  (a.est + b.est - u.est_union)::BIGINT AS est_common,
  (a.est + b.est - u.est_union - e.exact_common)::BIGINT AS err_signed
FROM exact e
JOIN uni u ON u.s1 = e.s1 AND u.s2 = e.s2
JOIN sing a ON a.source = e.s1
JOIN sing b ON b.source = e.s2
"""

# r8v: bloom_join_prefilter_audit — the portable Bloom twin over the
# segment customers' keys (2^14 bits), every order probed, exact
# semi-join truth alongside; pass >= true by the no-false-negative
# property.
_OKEYS = "o_orderkey, o_custkey, o_orderpriority"
ORACLE["bloom_join_prefilter_audit"] = f"""
WITH keys AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
bitmap AS ({bloom_bitmap_sql("keys", "c_custkey::VARCHAR", 16384)}),
oprobes AS ({bloom_probes_sql("orders", "o_custkey::VARCHAR", 16384, _OKEYS)}),
probed AS ({bloom_hit_sql("oprobes", "bitmap", _OKEYS, "pass_bloom")}),
truthed AS (
  SELECT p.o_orderpriority, p.pass_bloom,
    CASE WHEN k.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_match
  FROM probed p LEFT JOIN keys k ON p.o_custkey = k.c_custkey
)
SELECT o_orderpriority,
  count(*)::BIGINT AS n_probe_rows,
  sum(pass_bloom)::BIGINT AS n_pass_bloom,
  sum(is_match)::BIGINT AS n_true_match,
  (sum(pass_bloom) - sum(is_match))::BIGINT AS n_false_pos,
  CASE WHEN count(*) - sum(is_match) > 0
       THEN ((sum(pass_bloom) - sum(is_match)) * 1000000
             // (count(*) - sum(is_match)))::BIGINT
       ELSE 0 END AS fp_rate_e6,
  ((count(*) - sum(pass_bloom)) * 1000000 // count(*))::BIGINT
    AS scan_reduction_e6
FROM truthed GROUP BY o_orderpriority
"""

# r8v: graph_rich_club — closed-form density among deg>k nodes on the
# 0.5-threshold dup edges; NULL phi below 2 qualifying nodes.
ORACLE["graph_rich_club"] = f"""
WITH {_jaccard_pairs(0.5)},
{_degrees_sql("jac")},
ks AS (SELECT unnest([1, 2, 4, 8])::BIGINT AS k),
nk AS (
  SELECT k, count(*)::BIGINT AS n_k
  FROM deg CROSS JOIN ks WHERE d > k GROUP BY k
),
ek AS (
  SELECT ks.k, count(*)::BIGINT AS e_k
  FROM jac e JOIN deg a ON e.id1 = a.v JOIN deg b ON e.id2 = b.v
  CROSS JOIN ks
  WHERE a.d > ks.k AND b.d > ks.k
  GROUP BY ks.k
)
SELECT ks.k, coalesce(nk.n_k, 0)::BIGINT AS n_k,
  coalesce(ek.e_k, 0)::BIGINT AS e_k,
  CASE WHEN coalesce(nk.n_k, 0) >= 2
       THEN (2 * coalesce(ek.e_k, 0) * 1000000
             // (nk.n_k * (nk.n_k - 1)))::BIGINT
  END AS phi_e6
FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
"""

# r8w: ivm_hll_registers — the portable HLL registers with a
# base/delta day split; merged and full-recompute estimates emitted
# side by side so the monoid identity is hash-witnessed.
ORACLE["ivm_hll_registers"] = f"""
WITH d0 AS (SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
tagged AS (
  SELECT event_type AS source, user_id,
    (epoch_us(ts) // 86400000000 >= d0.d0 + 25) AS is_delta
  FROM events CROSS JOIN d0
),
du AS (SELECT DISTINCT source, user_id, is_delta FROM tagged),
h AS (SELECT source, is_delta, {h60_sql("user_id::VARCHAR")} AS hv FROM du),
rb AS (SELECT source, is_delta, {hll_rho_sql()} FROM h),
part AS MATERIALIZED (
  SELECT source, is_delta, bucket, max(rho) AS r
  FROM rb GROUP BY 1, 2, 3
),
merged AS (
  SELECT source, bucket, max(r) AS r FROM part GROUP BY 1, 2
),
fullr AS (
  SELECT source, bucket, max(rho) AS r FROM rb GROUP BY 1, 2
),
est_b AS (
  SELECT source, {hll_partials_sql("*")}
  FROM part WHERE NOT is_delta GROUP BY source),
est_d AS (
  SELECT source, {hll_partials_sql("*")}
  FROM part WHERE is_delta GROUP BY source),
est_m AS (SELECT source, {hll_partials_sql("*")} FROM merged GROUP BY source),
est_f AS (SELECT source, {hll_partials_sql("*")} FROM fullr GROUP BY source),
counts AS (
  SELECT source,
    sum((NOT is_delta)::BIGINT)::BIGINT AS n_base_keys,
    sum(is_delta::BIGINT)::BIGINT AS n_delta_keys
  FROM du GROUP BY source
)
SELECT c.source, c.n_base_keys, c.n_delta_keys,
  coalesce({hll_estimate_sql("b")}, 0)::BIGINT AS est_base,
  coalesce({hll_estimate_sql("d")}, 0)::BIGINT AS est_delta,
  {hll_estimate_sql("m")} AS est_merged,
  {hll_estimate_sql("f")} AS est_full_recompute,
  ({hll_estimate_sql("m")} = {hll_estimate_sql("f")})::BIGINT
    AS merge_identity_holds
FROM counts c
LEFT JOIN est_b b ON b.source = c.source
LEFT JOIN est_d d ON d.source = c.source
JOIN est_m m ON m.source = c.source
JOIN est_f f ON f.source = c.source
"""

# r8w: attribution_time_decay - the 31-entry literal half-life
# table (generated in timeseries.py, embedded identically), exact
# truncating per-conversion normalisation.
ORACLE["attribution_time_decay"] = """
WITH base AS (
  SELECT user_id, event_type AS channel,
    epoch_us(ts) // 86400000000 AS d
  FROM events
),
conv AS (
  SELECT user_id, min(d) AS conv_day FROM base
  WHERE channel = 'purchase' GROUP BY user_id
),
wtab(gap, w_e6) AS (VALUES (0, 1000000), (1, 905724), (2, 820335), (3, 742997), (4, 672950), (5, 609507), (6, 552045), (7, 500000), (8, 452862), (9, 410168), (10, 371499), (11, 336475), (12, 304753), (13, 276022), (14, 250000), (15, 226431), (16, 205084), (17, 185749), (18, 168238), (19, 152377), (20, 138011), (21, 125000), (22, 113215), (23, 102542), (24, 92875), (25, 84119), (26, 76188), (27, 69006), (28, 62500), (29, 56608), (30, 51271)),
touches AS (
  SELECT b.user_id, b.channel,
    least(c.conv_day - b.d, 30) AS gap
  FROM base b JOIN conv c USING (user_id)
  WHERE b.channel <> 'purchase' AND b.d <= c.conv_day
),
weighted AS (
  SELECT t.user_id, t.channel, w.w_e6
  FROM touches t JOIN wtab w ON w.gap = t.gap
),
per_conv AS (
  SELECT user_id, sum(w_e6)::BIGINT AS tw FROM weighted GROUP BY user_id
),
credited AS (
  SELECT w.channel,
    (w.w_e6::HUGEINT * 1000000 // p.tw)::BIGINT AS credit_e6
  FROM weighted w JOIN per_conv p USING (user_id)
),
total AS (SELECT sum(credit_e6)::BIGINT AS all_credit FROM credited)
SELECT channel, count(*)::BIGINT AS n_touches,
  sum(credit_e6)::BIGINT AS credit_e6,
  (sum(credit_e6)::HUGEINT * 1000000 // t.all_credit)::BIGINT AS share_e6
FROM credited CROSS JOIN total t
GROUP BY channel, t.all_credit
"""

# Every query's declared order (empty: single-row or unordered), and
# each ordered oracle sorted by the same keys.
ORDER_KEYS: dict[str, tuple[str, ...]] = {
    name: getattr(fn, "order_keys", ()) for name, fn in QUERIES.items()}
ORACLE = {name: order_sql(sql, ORDER_KEYS[name]) if ORDER_KEYS[name] else sql
          for name, sql in ORACLE.items()}
