"""Dedup operator tests: exact, MinHash-LSH recall vs exact Jaccard,
SimHash Hamming pairs, property checks (FIXTURES.md, SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    hashed_shingle_rows,
    minhash_signatures,
    simhash_fingerprints,
    simhash_hamming_pairs,
)
from tests.conftest import SF_DIR, union_find_components


def test_exact_dedup_finds_planted_dups(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    dup = base.withColumn("doc_id", F.col("doc_id") + 1000)
    docs = base.unionByName(dup)
    out = (
        docs.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    got = out.collect()
    assert len(got) == 20
    assert all(r.n_copies == 2 for r in got)
    assert all(r.keep_id < 1000 for r in got)  # keeper is the min id


def test_exact_dedup_idempotent(spark):
    out1 = dedup_exact(spark, SF_DIR).count()
    distinct_texts = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text").distinct().count()
    )
    assert out1 == distinct_texts


def test_minhash_lsh_equals_exact_jaccard(spark):
    """LSH+verify must recover exactly the pairs exact Jaccard finds
    (miss probability ~1e-7 at the 0.8 threshold with 16x2 banding)."""
    lsh = {(r.id1, r.id2): r.jaccard for r in dedup_minhash_lsh(spark, SF_DIR).collect()}
    exact = {(r.id1, r.id2): r.jaccard for r in dedup_ngram_jaccard(spark, SF_DIR).collect()}
    assert lsh == exact


def test_minhash_signature_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    sigs = minhash_signatures(hashed_shingle_rows(docs), num_hashes=16).collect()
    assert all(len(r.sig) == 16 for r in sigs)
    # signatures are deterministic across runs
    sigs2 = minhash_signatures(hashed_shingle_rows(docs), num_hashes=16).collect()
    assert {r.id: r.sig for r in sigs} == {r.id: r.sig for r in sigs2}


def test_simhash_identical_docs_same_fp(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "entirely different words here altogether")],
        ["doc_id", "text"],
    )
    fps = {r.id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_simhash_hamming_near_dup(spark):
    # one-token change out of many -> small hamming distance
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b = a.replace("kappa", "lambda")
    docs = spark.createDataFrame([(1, a), (2, b), (3, "x y z")], ["doc_id", "text"])
    pairs = simhash_hamming_pairs(docs, max_hamming=20).collect()
    ids = {(r.id1, r.id2) for r in pairs}
    assert (1, 2) in ids
    assert (1, 3) not in ids and (2, 3) not in ids


def _star_cc(spark, n, pairs, **kw):
    from hadoop_mapreduce_spark.operators.dedup import connected_components_star

    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    edges = spark.createDataFrame(pairs, "id1 long, id2 long")
    return {r.doc_id: r.comp
            for r in connected_components_star(nodes, edges, **kw).collect()}


def test_connected_components_merges_chains(spark):
    """a~b and b~c edges (no direct a~c) must land all three in one
    component labelled by the min id; isolated nodes keep their own id.
    Duplicate, mirrored and self-loop edges change nothing: star-CC
    takes no input distinct(), its first round's DISTINCT absorbs them."""
    pairs = [(1, 2), (2, 3), (4, 5)]
    want = {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert union_find_components(range(7), pairs) == want
    assert _star_cc(spark, 7, pairs) == want
    noisy = pairs + [(2, 1), (1, 2), (3, 2), (5, 4), (4, 5), (6, 6), (0, 0)]
    assert _star_cc(spark, 7, noisy) == want


def test_connected_components_raises_on_non_convergence(spark):
    """An 80-node path needs more than 2 star rounds; max_iter=2 must
    raise rather than silently return split components (wrong labels)."""
    import pytest

    n = 80
    with pytest.raises(RuntimeError, match="did not converge"):
        _star_cc(spark, n, [(i, i + 1) for i in range(n - 1)], max_iter=2)


def test_star_cc_long_path_converges_in_log_rounds(spark):
    """An 80-node path has diameter 79 — min-label propagation would
    need ~79 rounds — while alternating large-star/small-star collapses
    it within 10: the O(diameter) vs O(log n) round gap that makes the
    star algorithm the 100 TB path for deep duplicate chains."""
    n = 80
    pairs = [(i, i + 1) for i in range(n - 1)]
    assert _star_cc(spark, n, pairs, max_iter=10) \
        == union_find_components(range(n), pairs) == {i: 0 for i in range(n)}


def test_star_cc_multi_parent_state_is_not_a_fixed_point(spark):
    """Regression (hypothesis-found): after one round this graph reaches
    {(3,0),(5,0),(8,2),(4,2),(6,0),(4,0)} — parents {0,2} are never
    children, yet node 4 has TWO parents, so the state is NOT a star
    forest and one more round must merge {2,8} into component 0. A stop
    test that only checks parent∉children stops a round early and
    returns split components."""
    pairs = [(4, 8), (0, 3), (6, 5), (3, 0), (0, 0), (0, 5), (8, 2), (4, 6)]
    assert _star_cc(spark, 9, pairs) \
        == {0: 0, 1: 1, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 7, 8: 0}


def test_star_cc_matches_union_find_random_graph(spark):
    """Star-CC must equal the union-find reference on every node of a
    pseudo-random graph (deterministic edge set, multiple components,
    cycles, duplicate and reversed pairs)."""
    n = 36
    # deterministic scattering: edges within 3 residue classes mod 3,
    # plus cycles and duplicate/reversed noise
    pairs = [(i, i + 3) for i in range(0, n - 3)]
    pairs += [(9, 0), (20, 23), (5, 2), (2, 5), (7, 7 + 3)]
    got = _star_cc(spark, n, pairs)
    assert got == union_find_components(range(n), pairs)
    assert set(got.values()) == {0, 1, 2}  # three residue-class components


def test_embedding_lsh_subset_of_exact_with_recall(spark):
    """Every LSH pair must appear in the exact all-pairs result with the
    identical cosine (verification is exact ⇒ precision 1), and banding
    recall must clear a floor at the fixture threshold."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_lsh,
    )

    thr = 0.3  # lower than the registered 0.4 so sf0.001 yields enough pairs
    lsh = {(r.id1, r.id2): r.cosine
           for r in dedup_embedding_lsh(spark, SF_DIR, threshold=thr).collect()}
    exact = {(r.id1, r.id2): r.cosine
             for r in dedup_embedding_cosine(spark, SF_DIR, threshold=thr).collect()}
    assert set(lsh) <= set(exact), f"false positives: {set(lsh) - set(exact)}"
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9
    assert len(exact) >= 5, "fixture produced too few pairs to measure recall"
    recall = len(lsh) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall} below floor ({len(lsh)}/{len(exact)})"


def test_dedup_span_chunks_invariants(spark):
    """Chunk dedup keeps at most the chunk count, keeps every FIRST
    occurrence (the winner doc of any removed chunk appears earlier),
    and reconstructs unchanged docs to their original normalized text."""
    from hadoop_mapreduce_spark.operators.dedup import dedup_span_chunks
    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = dedup_span_chunks(spark, SF_DIR).collect()
    assert rows
    assert all(0 <= r.n_kept <= r.n_chunks for r in rows)
    # duplication exists in the fixture (planted near-dups), so the op
    # is non-vacuous
    assert sum(r.n_chunks - r.n_kept for r in rows) > 0
    # a doc with n_kept == n_chunks must fingerprint to its own
    # normalized text (reconstruction is lossless when nothing removed)
    import hashlib
    originals = {
        r.doc_id: hashlib.md5(" ".join(r.t).encode()).hexdigest()
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", tokenize(normalize_text(F.col("text"))).alias("t"))
        .collect()
    }
    unchanged = [r for r in rows if r.n_kept == r.n_chunks]
    assert unchanged
    for r in unchanged:
        assert r.dedup_fp == originals[r.doc_id]


def test_pagerank_conservation_and_hub_ordering(spark):
    """Rank mass is conserved (sum = 1 ± 1e-6 thanks to explicit
    dangling-mass redistribution), connected dup-family members outrank
    the uniform floor, and the output is deterministic."""
    from hadoop_mapreduce_spark.operators.dedup import pagerank_dedup_graph

    rows = pagerank_dedup_graph(spark, SF_DIR, k=10_000).collect()
    total = sum(r.rank_e8 for r in rows) / 1e8
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n
    # integer 1e-8 units: per-doc rounding error <= 0.5e-8 each
    assert abs(total - 1.0) < 1e-5 + n * 0.5e-8
    floor = (1.0 - 0.85) / n
    # ranked hubs (docs with edges) sit strictly above the teleport
    # floor; the fixture's planted near-dups guarantee some exist
    assert rows[0].rank_e8 / 1e8 > floor * 1.5
    rows2 = pagerank_dedup_graph(spark, SF_DIR, k=10_000).collect()
    assert [tuple(r) for r in rows][:50] == [tuple(r) for r in rows2][:50]


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Adversarial template corpus (VERDICT r5 item 2): 5000 identical
    docs share every band bucket. Without the hot-bucket cap the band
    self-join would materialise ~12.5M candidate rows per band; with
    the cap (bucket > max_bucket suppressed, like dedup_embedding_lsh)
    the oversized buckets contribute nothing, while a small genuine
    dup pair in its own size-2 buckets is still found."""
    from hadoop_mapreduce_spark.operators.dedup import lsh_candidate_pairs

    template = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
              ).alias("text"))
    pair = spark.createDataFrame(
        [(5000, "completely different unique text about zebra migrations"),
         (5001, "completely different unique text about zebra migrations")],
        "doc_id long, text string")
    sigs = minhash_signatures(hashed_shingle_rows(template.unionByName(pair)))
    cands = lsh_candidate_pairs(sigs).collect()
    got = {(r.id1, r.id2) for r in cands}
    assert (5000, 5001) in got
    # bounded: the 5000-doc template family is suppressed entirely
    assert len(got) < 10


def test_lsh_hot_bucket_cap_off_recovers_template_pairs(spark):
    """Sanity check of the cap semantics on a small family: with
    max_bucket raised above the family size, the template pairs come
    back — proving the suppression (not banding) removed them."""
    from hadoop_mapreduce_spark.operators.dedup import lsh_candidate_pairs

    fam = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"))
    sigs = minhash_signatures(hashed_shingle_rows(fam))
    capped = lsh_candidate_pairs(sigs, max_bucket=10).count()
    uncapped = lsh_candidate_pairs(sigs, max_bucket=2048).count()
    assert capped == 0
    assert uncapped == 30 * 29 // 2


def test_keep_best_is_longest_member(spark):
    """Every kept doc must be the longest (tie-break: lowest doc_id) in
    its own component, and only multi-member components are emitted."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_components_star,
        dedup_keep_best,
    )

    kept = {r.component: r for r in dedup_keep_best(spark, SF_DIR).collect()}
    comp = {r.doc_id: r.component for r in dedup_components_star(spark, SF_DIR).collect()}
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    multi = {c: m for c, m in members.items() if len(m) >= 2}
    assert set(kept) == set(multi)
    for c, r in kept.items():
        best = min(multi[c], key=lambda d: (-chars[d], d))
        assert r.keep_id == best
        assert r.n_members == len(multi[c])
        assert r.keep_n_chars == chars[best]


def test_repeated_spans_planted_passage(spark):
    """A 10-token passage planted in two docs must come back as exactly
    one maximal span in the LATER doc, covering the passage's positions
    (first-occurrence-wins), with k=8 windows merged across overlap."""
    from hadoop_mapreduce_spark.operators.dedup import repeated_span_table

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = "one two three " + passage + " four five"          # P at pos 4..13
    d2 = "six seven " + passage + " eight nine ten eleven"  # P at pos 3..12
    docs = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    got = [(r.doc_id, r.span_start, r.span_end, r.span_tokens)
           for r in repeated_span_table(docs).collect()]
    assert got == [(2, 3, 12, 10)]


def test_repeated_spans_within_doc_repeat(spark):
    """A doc repeating its own k-token opening later in the same doc is
    flagged at the SECOND occurrence only."""
    from hadoop_mapreduce_spark.operators.dedup import repeated_span_table

    run = "a1 a2 a3 a4 a5 a6 a7 a8"
    doc = run + " filler1 filler2 " + run      # repeat at pos 11..18
    docs = spark.createDataFrame([(7, doc)], "doc_id long, text string")
    got = [(r.doc_id, r.span_start, r.span_end) for r in repeated_span_table(docs).collect()]
    assert got == [(7, 11, 18)]


def test_dedup_incremental_ledger_invariants(spark):
    """One ledger row per new-batch doc; dup_of_index matches point at
    corpus (non-batch) docs, dup_in_batch matches point at a smaller
    batch doc whose own verdict is kept, kept rows carry NULL."""
    from hadoop_mapreduce_spark.operators.dedup import dedup_incremental

    rows = dedup_incremental(spark, SF_DIR).collect()
    n_new = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where("doc_id % 10 = 0").count()
    )
    assert len(rows) == n_new
    assert len({r.doc_id for r in rows}) == n_new
    verdict_of = {r.doc_id: r.verdict for r in rows}
    for r in rows:
        assert r.doc_id % 10 == 0
        if r.verdict == "dup_of_index":
            assert r.match_id is not None and r.match_id % 10 != 0
        elif r.verdict == "dup_in_batch":
            assert r.match_id is not None and r.match_id % 10 == 0
            assert r.match_id < r.doc_id
            assert verdict_of[r.match_id] == "kept"
        else:
            assert r.verdict == "kept" and r.match_id is None


def test_jaccard_prefix_equals_inverted_index(spark):
    """Prefix filtering is EXACT: the PPJoin-style join returns the
    identical qualifying-pair set (ids and 6-dp scores) as the
    inverted-index all-pairs oracle twin."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_jaccard_prefix,
        dedup_ngram_jaccard,
    )

    a = sorted(map(tuple, dedup_jaccard_prefix(spark, SF_DIR).collect()))
    b = sorted(map(tuple, dedup_ngram_jaccard(spark, SF_DIR).collect()))
    assert a == b and a


def test_minhash_accuracy_audit_deciles(spark):
    """Audit invariants: decile indices in [0,9], confusion counts
    bounded by pair counts, mean_est >= 1/16 (every audited pair
    collides on >= 1 of 16 components), and the sketch is actually
    accurate on this corpus — the bulk of pairs sit in the low-error
    deciles (<= 0.3 error), which is the S-curve promise the audit
    exists to confirm."""
    from hadoop_mapreduce_spark.operators.dedup import (
        minhash_accuracy_audit,
    )
    from tests.conftest import SF_DIR

    rows = minhash_accuracy_audit(spark, SF_DIR).collect()
    assert rows
    total = sum(r.n_pairs for r in rows)
    for r in rows:
        assert 0 <= r.err_decile <= 9
        assert 0 <= r.n_est_pos <= r.n_pairs
        assert 0 <= r.n_exact_pos <= r.n_pairs
        assert r.mean_est >= 1 / 16 - 1e-9
    low = sum(r.n_pairs for r in rows if r.err_decile <= 3)
    assert low / total >= 0.8, [(r.err_decile, r.n_pairs) for r in rows]


def test_neardup_label_conflict_crafted(spark, tmp_path):
    """Two near-identical docs labelled en/de form one conflicted
    cluster with the majority tie broken alphabetically ('de'); a
    singleton and an unrelated doc produce no rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.dedup import (
        neardup_label_conflict,
    )

    near = ("spark shuffle partition broadcast join skew salt "
            "aggregate window frame sort merge bucket")
    texts = [near, near + " extra", "totally different words here now"]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en", "de", "fr"], pa.string()),
        "source": pa.array(["s1", "s2", "s1"], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = neardup_label_conflict(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r.n_docs, r.n_langs, r.n_sources) == (2, 2, 2)
    assert r.majority_lang == "de"  # 1-1 tie -> lang asc
    assert r.lang_conflict == 1


def test_lsh_band_tuning_scurve_properties(spark):
    """S-curve sanity on real fixtures: p is monotone in s for fixed
    config, more rows-per-band is stricter at low similarity, and the
    exact repeated-squaring values match Python floats bit-for-bit."""
    from hadoop_mapreduce_spark.operators.dedup import lsh_band_tuning

    rows = lsh_band_tuning(spark, SF_DIR).collect()
    assert rows, "fixture must produce colliding pairs"
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r.bands, r.rows_per_band), []).append(r)
    assert set(by_cfg) <= {(64, 2), (32, 4), (16, 8), (8, 16)}
    for cfg, rs in by_cfg.items():
        rs.sort(key=lambda r: r.jbucket)
        ps = [r.p_detect for r in rs]
        assert ps == sorted(ps)  # monotone in similarity
        for r in rs:
            s = (2 * r.jbucket + 1) / 40.0
            b, rr = cfg
            expect = round(1.0 - (1.0 - s ** rr) ** b, 6)
            # repeated squaring == pow for power-of-two exponents
            assert abs(r.p_detect - expect) < 2e-6
    # at s_mid=0.0375-ish buckets, r=16 must be (weakly) stricter
    # than r=2 for the same s
    low = [r for r in rows if r.jbucket <= 4]
    for jb in {r.jbucket for r in low}:
        p2 = [r.p_detect for r in low
              if r.jbucket == jb and r.rows_per_band == 2]
        p16 = [r.p_detect for r in low
               if r.jbucket == jb and r.rows_per_band == 16]
        if p2 and p16:
            assert p16[0] <= p2[0]


def test_dedup_threshold_sweep_monotone(spark):
    """Pair and doc counts are monotone non-increasing in the cutoff,
    and the 80% row agrees with the verified >= 0.8 pair relation."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_threshold_sweep,
    )

    rows = {r.threshold_pct: r for r in
            dedup_threshold_sweep(spark, SF_DIR).collect()}
    assert sorted(rows) == [50, 60, 70, 80, 90]
    ps = [rows[t].n_pairs for t in (50, 60, 70, 80, 90)]
    ds = [rows[t].n_docs_touched for t in (50, 60, 70, 80, 90)]
    assert ps == sorted(ps, reverse=True)
    assert ds == sorted(ds, reverse=True)
    for t in rows:
        # each pair touches two docs; distinct endpoints can't exceed 2x
        assert rows[t].n_docs_touched <= 2 * rows[t].n_pairs or \
            rows[t].n_pairs == 0


def test_label_propagation_two_cliques_with_bridge(spark, tmp_path):
    """Two near-dup families joined by one bridge doc: LPA separates
    them into two communities (where connected components would merge
    everything), and each community's label is its minimum doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.dedup import (
        label_propagation_communities,
    )

    # family A: docs 1-4 identical; family B: docs 10-13 identical;
    # bridge doc 20 shares half its shingles with each family -> its
    # jaccard to members is < 0.8 threshold, so it forms no edge and
    # the two cliques stay separate communities.
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten"
    texts, ids = [], []
    for i in range(1, 5):
        ids.append(i); texts.append(a)
    for i in range(10, 14):
        ids.append(i); texts.append(b)
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(["s"] * len(ids), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = label_propagation_communities(spark, str(tmp_path)).collect()
    comm = {r.doc_id: r.community for r in rows}
    assert set(comm) == {1, 2, 3, 4, 10, 11, 12, 13}
    assert len({comm[i] for i in (1, 2, 3, 4)}) == 1
    assert len({comm[i] for i in (10, 11, 12, 13)}) == 1
    assert comm[1] != comm[10]
    sizes = {r.doc_id: r.community_size for r in rows}
    assert all(sizes[i] == 4 for i in comm)


def test_dedup_chain_audit_clique_vs_chain(spark, tmp_path):
    """A 3-clique of identical docs is density 1e6 / not chained; a
    path A~B~C whose ends A,C are NOT near-dups (B overlaps each end
    heavily, A and C share half) must surface as chained with
    density 2/3 of 1e6."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.dedup import dedup_chain_audit

    clique = "zebra yak xray whale viper unicorn tiger snake rhino quail"
    # chain over 40-token docs: B differs from A by ONE token (3 of 38
    # trigram shingles change, J ~ 0.854 >= 0.8), C differs from B by
    # one MORE token far away (J(B,C) ~ 0.854) but from A by two
    # (J(A,C) ~ 0.73 < 0.8) -> cluster {A,B,C} has only the two chain
    # edges: merged through the intermediary, the over-merge hazard.
    words = [f"tok{i}" for i in range(40)]
    a = " ".join(words)
    wb = list(words); wb[5] = "changed5"
    b_ = " ".join(wb)
    wc = list(wb); wc[30] = "changed30"
    c = " ".join(wc)
    ids = [1, 2, 3, 10, 11, 12]
    texts = [clique, clique, clique, a, b_, c]
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 6, pa.string()),
        "source": pa.array(["s"] * 6, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.component: r for r in
            dedup_chain_audit(spark, str(tmp_path)).collect()}
    cl = rows[1]
    assert (cl.size, cl.n_edges, cl.density_e6, cl.chained) == (
        3, 3, 1_000_000, False)
    ch = rows[10]
    assert (ch.size, ch.n_edges, ch.chained) == (3, 2, True)
    assert ch.density_e6 == 2_000_000 // 6 * 2  # 2 edges of 3 pairs
    assert ch.min_edge_jaccard < 1.0


def _write_docs(tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "doc_id": pa.array(list(range(1, len(texts) + 1)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(
            [f"s{i % 2}" for i in range(len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))


def test_dedup_containment_directed(spark, tmp_path):
    """doc1 is doc2's prefix: every doc1 shingle appears in doc2, so
    C(1->2) = 1.0 qualifies; C(2->1) = n1/n2 < 0.9 does not.  Symmetric
    Jaccard at 0.9 would find NEITHER."""
    from hadoop_mapreduce_spark.operators.dedup import dedup_containment

    small = " ".join(f"w{i}" for i in range(10))            # 8 shingles
    big = small + " " + " ".join(f"x{i}" for i in range(20))
    _write_docs(tmp_path, [small, big, "totally different words here"])
    out = {(r.id_small, r.id_big): r for r in
           dedup_containment(spark, str(tmp_path)).collect()}
    assert (1, 2) in out and (2, 1) not in out
    r = out[(1, 2)]
    assert r.n_shared == r.n_small == 8
    assert r.containment_e6 == 1_000_000
    assert len(out) == 1


def test_cross_source_duplication_matrix_axes(spark, tmp_path):
    """Two identical docs land in sources s0/s1 (alternating ids), so
    the near-dup pair counts in the CROSS cell (s0,s1); rate uses
    docs_a*docs_b."""
    from hadoop_mapreduce_spark.operators.dedup import (
        cross_source_duplication_matrix,
    )

    dup = " ".join(f"t{i}" for i in range(12))
    texts = [dup, dup, "other words one", "more words two"]
    _write_docs(tmp_path, texts)  # ids 1..4, sources s0 s1 s0 s1
    out = {(r.src_a, r.src_b): r for r in
           cross_source_duplication_matrix(spark, str(tmp_path)).collect()}
    r = out[("s0", "s1")]
    assert r.n_pairs == 1 and r.docs_a == 2 and r.docs_b == 2
    assert r.dup_rate_e6 == 1_000_000 // 4
    assert ("s0", "s0") not in out and ("s1", "s1") not in out


def test_minhash_bbit_identical_docs_estimate_one(spark, tmp_path):
    """Two identical docs share every shingle: all 32 b-bit mins
    collide, estimate = (32*16-32)/(32*15) = 1.0 exactly, matching the
    exact Jaccard; the third unrelated doc never pairs."""
    from hadoop_mapreduce_spark.operators.dedup import (
        minhash_bbit_estimate,
    )

    dup = " ".join(f"w{i}" for i in range(15))
    _write_docs(tmp_path, [dup, dup, "entirely different token stream"])
    out = {(r.id1, r.id2): r for r in
           minhash_bbit_estimate(spark, str(tmp_path)).collect()}
    r = out[(1, 2)]
    assert r.jaccard_e6 == 1_000_000
    assert r.n_coll == 32
    assert r.est_e6 == 1_000_000
    assert r.abs_err_e6 == 0
    assert all(3 not in p for p in out)


def test_dedup_shingle_size_sweep_k_sensitivity(spark, tmp_path):
    """Two docs share a reordered word set: every bigram boundary
    breaks at the swap point but singles survive — the k=2 pair count
    is >= the k=4 one; identical docs qualify at every k."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_shingle_size_sweep,
    )

    base = " ".join(f"w{i}" for i in range(12))
    _write_docs(tmp_path, [base, base, "other text entirely here now"])
    out = {r.shingle_k: r for r in
           dedup_shingle_size_sweep(spark, str(tmp_path)).collect()}
    assert sorted(out) == [2, 3, 4]
    for k in (2, 3, 4):
        assert out[k].n_pairs == 1  # the identical pair at every k
        assert out[k].n_id1 == 1


def test_containment_prefix_equals_quadratic(spark, tmp_path):
    """Prefix filtering is lossless: the prefix-filtered containment
    output is frame-identical to dedup_containment on a corpus with a
    planted subset pair and a hot shared shingle."""
    from hadoop_mapreduce_spark.operators.dedup import (
        dedup_containment,
        dedup_containment_prefix,
    )

    small = " ".join(f"w{i}" for i in range(10))
    big = small + " " + " ".join(f"x{i}" for i in range(25))
    hot = "common phrase here " * 8
    _write_docs(tmp_path, [small, big, hot + small, "unrelated words only",
                           hot + "tail tokens differ now"])
    base = sorted(tuple(r) for r in
                  dedup_containment(spark, str(tmp_path)).collect())
    pref = sorted(tuple(r) for r in
                  dedup_containment_prefix(spark, str(tmp_path)).collect())
    assert base == pref and len(base) >= 1


def test_modularity_exact_algebra_and_bounds(spark):
    """Replay the modularity algebra from the operator's own partitions
    over the verified pair base."""
    from collections import defaultdict

    from hadoop_mapreduce_spark.operators.dedup import graph_modularity_audit

    rows = {r.method: r for r in
            graph_modularity_audit(spark, SF_DIR).collect()}
    assert set(rows) == {"cc_star", "lpa_4"}
    edges = [(r.id1, r.id2) for r in dedup_minhash_lsh(
        spark, SF_DIR).select("id1", "id2").collect()]
    m = len(edges)
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    for r in rows.values():
        assert r.m_edges == m
        assert r.n_nodes == len(deg)
        assert 0 <= r.internal_edges <= m
        # Q in [-0.5, 1] by theory; exact micro-division replay
        num = 4 * m * r.internal_edges - r.sum_deg_sq
        q = num * 1_000_000 // (4 * m * m) if num >= 0 else \
            -((-num) * 1_000_000 // (4 * m * m))
        assert r.q_e6 == q
        assert -500_000 <= r.q_e6 <= 1_000_000
    # CC internal edges = ALL edges (components absorb every edge)
    assert rows["cc_star"].internal_edges == m
    # sum of degrees squared is partition-dependent but bounded by
    # (2m)^2 (one giant community) and >= sum over nodes d^2 / n_comm
    for r in rows.values():
        assert r.sum_deg_sq <= (2 * m) ** 2


def test_chain_audit_builds_pair_pipeline_once(spark):
    """dedup_chain_audit reads its components from the pairs it already
    holds: building it registers no more persisted frames than building
    dedup_components_star, whose pipeline it shares."""
    from hadoop_mapreduce_spark import session
    from hadoop_mapreduce_spark.registry import QUERIES

    def persists(name):
        before = len(session._SCOPED_CACHES)
        QUERIES[name](spark, SF_DIR)
        return len(session._SCOPED_CACHES) - before

    assert persists("dedup_chain_audit") <= persists("dedup_components_star")
