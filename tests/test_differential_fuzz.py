"""Random-fixture differential fuzzing: hypothesis-generated documents
tables (unicode incl. the Java-vs-RE2 \\x0B hazard, empty docs,
whitespace-only docs, exact duplicates) written to parquet and run
through BOTH engines — the Spark operator vs its registered DuckDB
oracle — with the same canonical comparison tools/oracle_check.py
uses. The fixed sf fixtures can't cover these corners; the round-7
\\x0B tokenizer divergence is exactly the class of bug this hunts."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoop_mapreduce_spark.registry import ORACLE, QUERIES

pytestmark = pytest.mark.deep  # full differential tier — see conftest.py


FUZZ_QUERIES = [
    "hll_portable_union",
    "winnowing_fingerprint",
    "ccnet_perplexity_buckets",
    "vocab_coverage_curve",
    "char_trigram_langid",
    "token_count",
    "doc_fingerprint",
    "dedup_exact",
    "language_id",
    "text_quality",
    "gopher_dup_ngrams",
    # r7c ops — the division guards (empty/1-token docs) and the
    # least/greatest pair canonicalisation are exactly fuzz territory
    "skipgram_cooccurrence",
    "stopword_discovery",
    "rrf_quality_fusion",
    "quality_threshold_sweep",
    # r7d-f ops — floor-division guards, zero-cell grids, recursive
    # oracle packers and the md5-threshold bootstrap are fuzz territory
    "ngram_diversity_audit",
    "dataset_card",
    "badwords_filter",
    "lang_source_chisq",
    "preference_pair_build",
    "ks_drift_quality",
    "shard_layout_plan",
    "packing_boundary_audit",
    "bootstrap_ci_quality",
    # r7h/i text ops — slice edges (KWIC) and the rounded-z ranking
    # (fightin words: last-ulp ln differences must collapse at 6 dp)
    "kwic_concordance",
    "fightin_words",
    # r7l/n text ops — regex classes on control-char soup (the \x0B
    # hazard again), zero-word sources (readability division guards),
    # md5-bucket prefix family on tiny corpora, and the LPA/chain
    # oracles' recursive closure on degenerate all-duplicate corpora
    "pii_redact_audit",
    "readability_scores",
    "vocab_growth_heaps",
    "label_propagation_communities",
    "dedup_chain_audit",
    # r7s-r8e doc ops — single-class corpora (AUC/lift NULL guards),
    # all-empty or all-equal-length corpora (Lorenz/Neyman zero-total
    # guards), zero-norm TF-IDF docs (sparse-cosine NULL), single-cell
    # grids (tau no-row), m=1 rank lists (Spearman NULL), boundary
    # phrase/block edges (RAKE, TextTiling), and the containment /
    # b-bit hash families on degenerate duplicate-only corpora
    "skyline_quality_frontier",
    "auc_roc_langid",
    "keyphrase_rake",
    "term_burstiness",
    "doc_position_profile",
    "text_tiling_boundaries",
    "quality_kendall_tau",
    "lang_source_mutual_info",
    "quality_flag_odds_ratio",
    "length_qq_drift",
    "quality_decile_lift",
    "token_context_diversity",
    "length_hill_tail_index",
    "token_mass_lorenz",
    "neyman_allocation_plan",
    "dedup_containment",
    "cross_source_duplication_matrix",
    "minhash_bbit_estimate",
    "sparse_cosine_pairs_topk",
    "dedup_shingle_size_sweep",
    "source_rank_correlation",
    # the quality gate and the benchmark carve and split, copied into
    # the pipelines' plans: the \x0B and empty-document hazards again
    "pipeline_curation",
    "pipeline_pretrain",
]

# Text alphabet chosen to probe the portability hazards: ASCII, the
# \x0B vertical tab (Java \s vs RE2 \s), other control whitespace,
# accented latin (lower() mapping), CJK (multi-byte UTF-8 indexing),
# and characters the reference normalizer deletes.
_ALPHA = st.sampled_from(
    list("abcXYZ012 .,!?'\t\n\x0b") + ["é", "ß", "中", "文", "Ω"])
_TEXT = st.text(alphabet=_ALPHA, min_size=0, max_size=120)


def _normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = ["\x1f".join(_normalize_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("fuzz")


_COUNTER = iter(range(10**9))


@given(texts=st.lists(_TEXT, min_size=1, max_size=12))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_text_ops_match_oracle_on_random_corpora(spark, fuzz_dir, texts):
    # plant a guaranteed exact duplicate so dedup-ish paths see one
    texts = texts + [texts[0]]
    langs = ["en", "zh", "de", "es", "fr"]
    recs = [
        (i, t, langs[i % len(langs)], f"src{i % 3}", len(t))
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        recs, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    # fresh dir per example: Spark caches file listings per path, so
    # overwriting a previously-read location poisons later reads
    sf = str(fuzz_dir / f"c{next(_COUNTER)}")
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')")
    try:
        for name in FUZZ_QUERIES:
            sdf = QUERIES[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            assert sorted(scols) == sorted(ocols), (name, scols, ocols)
            assert _canon(srows, scols) == _canon(orows, ocols), (
                name, texts)
    finally:
        con.close()


EVENT_QUERIES = [
    "events_tumbling",
    "events_sliding",
    "events_session",
    "events_dedup_first",
    "events_daily_ohlc",
    "events_twap_daily",
    "events_ewma_daily",
    "salted_aggregate_events",
    # r7d-g event ops — hour/day boundary truncation and basket
    # distincts under duplicate timestamps
    "events_dow_hour_profile",
    "session_gap_sweep",
    "event_pair_itemsets",
    "active_user_ratios",
    "watermark_lateness_audit",
    "events_cusum_changepoint",
    # r7k/m event ops — gaps-and-islands day ties, sweep-line boundary
    # microsecond ties (end == start), ACF short-series degeneracy
    # (den == 0 on constant series), Holt single-day seeds, SAX
    # zero-variance symbol clamp
    "user_active_streaks",
    "session_concurrency",
    "events_acf",
    "events_holt_linear",
    "sax_motifs",
    # r7s-r8d event ops — censoring edges (KM zero-survivor step),
    # single-week ledgers (growth full-outer), season-lag misses
    # (snaive/residual empty joins), tie-dense runs/MK variance zeros,
    # session-boundary truncation (paths), purchase-free corpora
    # (attribution all-'(none)')
    "survival_kaplan_meier",
    "user_growth_accounting",
    "events_stl_seasonal",
    "theil_sen_trend",
    "session_path_topk",
    "attribution_linear_credit",
    "mann_kendall_trend",
    "runs_test_daily",
    "forecast_backtest_snaive",
    "events_residual_anomaly",
    "session_transition_entropy",
    "dow_profile_stability",
]


@given(
    offsets=st.lists(
        st.integers(0, 60 * 48),  # minutes across two days
        min_size=1, max_size=30),
    dup_first=st.booleans(),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_event_ops_match_oracle_on_random_streams(spark, fuzz_dir,
                                                  offsets, dup_first):
    """Random event streams with DELIBERATE logic hazards: duplicate
    timestamps (ordering ties), events exactly on window/day
    boundaries (offset 0 / multiples of 60), session gaps exactly at
    the threshold, and single-event days. Values are exact multiples
    of 1/64 so any mismatch is a LOGIC divergence (tie-break, boundary
    inclusivity, empty-frame handling), not contract-accepted
    last-ulp float noise."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    if dup_first and len(offsets) >= 1:
        offsets = offsets + [offsets[0]]  # guaranteed exact-tie pair
    recs = []
    for i, off in enumerate(offsets):
        recs.append((
            i,
            base + timedelta(minutes=off),
            i % 3,
            ["view", "click", "purchase"][i % 3],
            (i % 97) / 64.0,
            '{"k": %d}' % (i % 5),
        ))
    df = spark.createDataFrame(
        recs, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    sf = str(fuzz_dir / f"e{next(_COUNTER)}")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')")
    try:
        for name in EVENT_QUERIES:
            sdf = QUERIES[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            assert sorted(scols) == sorted(ocols), (name, scols, ocols)
            assert _canon(srows, scols) == _canon(orows, ocols), (
                name, offsets)
    finally:
        con.close()


EMB_QUERIES = [
    "embedding_centroid_drift",
    "embedding_dim_stats",
    "embedding_stats",
    "embedding_quantize",
    # r7v — the planted zero vector exercises the zero-norm pair guard
    "embedding_anisotropy_audit",
]

# float32-exact values, including 0.0 (zero vectors -> zero norms) and
# negatives (cancelling centroids) — the exact-float32-sum discipline's
# edge cases.
_VAL = st.sampled_from(
    [0.0, 1.0, -1.0, 0.5, -0.25, 2.0, -3.5, 0.125, 7.0, -0.0625])


@given(vecs=st.lists(
    st.lists(_VAL, min_size=8, max_size=8), min_size=1, max_size=16))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_embedding_ops_match_oracle_on_random_vectors(spark, fuzz_dir,
                                                      vecs):
    vecs = vecs + [vecs[0], [0.0] * 8]  # planted duplicate + zero vector
    recs = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        recs, "vec_id long, embedding array<float>, label int")
    sf = str(fuzz_dir / f"v{next(_COUNTER)}")
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet/*.parquet')")
    try:
        for name in EMB_QUERIES:
            sdf = QUERIES[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            assert sorted(scols) == sorted(ocols), (name, scols, ocols)
            assert _canon(srows, scols) == _canon(orows, ocols), (
                name, vecs)
    finally:
        con.close()


ORD_QUERIES = [
    "quantile_histogram_portable",
    "percentile_stats",
    "histogram_equidepth",
    "recursive_monthly_spine",
    "bool_count_aggs",
    "bitwise_aggs",
    "date_functions",
    # r7g: ntile boundary determinism under heavy ties
    "customer_rfm_segments",
    # r7i: IVM delta algebra vs full recompute on degenerate batches
    "ivm_orders_agg",
    # r7l: leading-digit extraction on flat-price corpora (one digit
    # carries 100% of mass; the chi2 division must not blow up)
    "benford_audit",
]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 96),      # price in 64ths -> o_totalprice
            st.integers(0, 700),     # day offset (~2 years; bounds the
                                     # monthly-spine recursion depth)
            st.integers(0, 2),       # status index
        ),
        min_size=1, max_size=25),
    flat_price=st.booleans(),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_orders_ops_match_oracle_on_random_orders(spark, fuzz_dir, rows,
                                                  flat_price):
    """Random orders tables probing: all-equal prices (the quantile
    histogram's zero-width-bin guard), single-row groups, duplicate
    dates, and short/long date spans (the monthly spine's doubling
    recursion). Prices are exact multiples of 1/64 so percentile
    interpolation is exact on both engines."""
    from datetime import date, timedelta

    base = date(2023, 1, 1)
    recs = []
    for i, (p64, doff, si) in enumerate(rows):
        price = 42.0 if flat_price else p64 / 64.0
        recs.append((
            i, i % 7, ["F", "O", "P"][si], price,
            base + timedelta(days=doff),
            f"{1 + i % 5}-PRIO", f"Clerk#{i % 4}", i % 2,
            "c" * (i % 3),
        ))
    df = spark.createDataFrame(
        recs, "o_orderkey long, o_custkey long, o_orderstatus string,"
              " o_totalprice double, o_orderdate date,"
              " o_orderpriority string, o_clerk string,"
              " o_shippriority int, o_comment string")
    sf = str(fuzz_dir / f"o{next(_COUNTER)}")
    df.coalesce(1).write.parquet(f"{sf}/orders.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf}/orders.parquet/*.parquet')")
    try:
        for name in ORD_QUERIES:
            sdf = QUERIES[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            assert sorted(scols) == sorted(ocols), (name, scols, ocols)
            assert _canon(srows, scols) == _canon(orows, ocols), (
                name, rows, flat_price)
    finally:
        con.close()


@given(
    n_events=st.integers(20, 90),
    dup_ts=st.booleans(),
    flat=st.booleans(),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lttb_matches_oracle_on_long_series(spark, fuzz_dir, n_events,
                                            dup_ts, flat):
    """LTTB-focused fuzz: series long enough to cross the n > 24
    recursion path (the generic event fuzz never exceeds ~10 points
    per series), plus the tie hazards — duplicate timestamps (sort
    tie-break by event_id) and flat values (every triangle area 0, the
    argmax must break to the EARLIEST point on both engines)."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    recs = []
    for i in range(n_events):
        mins = (i // 2) if dup_ts else i * 7
        recs.append((
            i,
            base + timedelta(minutes=mins, seconds=i % 3),
            i % 2,
            ["view", "click"][i % 2],
            1.0 if flat else ((i * 37) % 101) / 64.0,
            "{}",
        ))
    df = spark.createDataFrame(
        recs, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    sf = str(fuzz_dir / f"l{next(_COUNTER)}")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')")
    try:
        name = "events_lttb_downsample"
        sdf = QUERIES[name](spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(ORACLE[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        assert sorted(scols) == sorted(ocols), (scols, ocols)
        assert _canon(srows, scols) == _canon(orows, ocols), (
            n_events, dup_ts, flat)
    finally:
        con.close()
