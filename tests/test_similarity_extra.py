"""Invariants + recall bounds for the approximate kNN join and the
k-means cluster audit (operators/similarity.py round-4 additions).
Both are registered rows-only (approximate / iterative), so these tests
carry the correctness weight the SQL oracle can't."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.similarity import (
    cosine_topk,
    embedding_kmeans_stats,
    knn_join_lsh,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR

K = 5  # knn_join_lsh's k


def test_knn_join_shape_invariants(spark):
    rows = knn_join_lsh(spark, SF_DIR).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.qid != r.nid  # never a self-pair
        assert -1.0 - 1e-9 <= r.score <= 1.0 + 1e-9
        by_q.setdefault(r.qid, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= K
        # scores are non-increasing with rank
        assert all(a.score >= b.score for a, b in zip(rs, rs[1:]))
        # a vector never appears twice in one query's neighbour list
        assert len({r.nid for r in rs}) == len(rs)


def test_knn_join_recall_vs_exact(spark):
    """Every reported neighbour's score is exact (verification is exact
    cosine), and recall@5 against the brute-force join clears the LSH
    design point. The fixture's clustered embeddings give the banding
    (16 bands x 4 bits) high collision probability for true neighbours."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.qid, r.nid)
        for r in cosine_topk(emb, emb, k=K).collect()
    }
    approx_rows = knn_join_lsh(spark, SF_DIR).collect()
    approx = {(r.qid, r.nid) for r in approx_rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.6, f"recall@{K} {recall:.3f} below design point"
    # scores of recovered pairs match the exact scorer (both round to 6)
    exact_scores = {
        (r.qid, r.nid): r.score for r in cosine_topk(emb, emb, k=K).collect()
    }
    for r in approx_rows:
        if (r.qid, r.nid) in exact_scores:
            assert abs(r.score - exact_scores[(r.qid, r.nid)]) < 1e-6


def test_knn_join_deterministic(spark):
    a = [tuple(r) for r in knn_join_lsh(spark, SF_DIR).collect()]
    b = [tuple(r) for r in knn_join_lsh(spark, SF_DIR).collect()]
    assert a == b


def test_kmeans_stats_partition_and_cohesion(spark):
    rows = embedding_kmeans_stats(spark, SF_DIR).collect()
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    # every vector is assigned to exactly one cluster
    assert sum(r.n_members for r in rows) == n_vecs
    assert len(rows) <= 16
    for r in rows:
        assert r.n_members > 0
        assert (-1_000_000 <= r.min_cohesion_e6
                <= r.avg_cohesion_e6 <= 1_000_000)


def test_kmeans_stats_deterministic(spark):
    a = [tuple(r) for r in embedding_kmeans_stats(spark, SF_DIR).collect()]
    b = [tuple(r) for r in embedding_kmeans_stats(spark, SF_DIR).collect()]
    assert a == b


def test_pq_adc_shape_and_determinism(spark):
    """ADC output: k rows per query, non-negative quantized distances,
    ranks dense from 1."""
    from hadoop_mapreduce_spark.operators.similarity import ann_pq_adc

    rows = ann_pq_adc(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        assert r.approx_dist >= 0
        per_q.setdefault(r.qid, []).append(r.rank)
    for q, ranks in per_q.items():
        assert ranks == list(range(1, len(ranks) + 1))


def test_pq_rerank_recall_vs_exact(spark):
    """The ADC-shortlist + exact-rerank composition must recover most
    true neighbours (recall@10 >= 0.9 on the fixture with a 32-cell
    codebook and a 300-candidate shortlist; measured 1.0 at both
    sf0.01 and sf0.1 — VERDICT r5 item 4 raised the bar from 0.8)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.vectors import l2_sq_dist
    from hadoop_mapreduce_spark.operators.similarity import ann_pq_rerank
    from hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    w = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("nid"))
    exact_rows = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                l2_sq_dist(F.col("embedding"), F.col("qvec")).alias("d"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .collect()
    )
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.qid, set()).add(r.nid)
    approx = {}
    for r in ann_pq_rerank(spark, SF_DIR).collect():
        approx.setdefault(r.qid, set()).add(r.nid)
    hits = sum(len(exact[qq] & approx.get(qq, set())) for qq in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9


def test_ivfpq_rerank_recall_vs_exact(spark):
    """FAISS-style IVFADC (+ exact re-rank) recovers >= 0.9 of true
    top-10 neighbours on the fixture: residual PQ codes scored only in
    the n_probe closest inverted lists, exact distances on the ADC
    shortlist. The coarse pruning (3 of 8 lists) is what distinguishes
    this from ann_pq_rerank — a true neighbour in an unprobed list is
    unrecoverable, so this also bounds the IVF assignment quality."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.vectors import l2_sq_dist
    from hadoop_mapreduce_spark.operators.similarity import ann_ivfpq_rerank
    from hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    w = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("nid"))
    exact_rows = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                l2_sq_dist(F.col("embedding"), F.col("qvec")).alias("d"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .collect()
    )
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.qid, set()).add(r.nid)
    approx = {}
    rows = ann_ivfpq_rerank(spark, SF_DIR).collect()
    for r in rows:
        approx.setdefault(r.qid, set()).add(r.nid)
    # shape: exact distances ascending per query, rank contiguous
    for qid in approx:
        qrows = sorted((r for r in rows if r.qid == qid), key=lambda r: r.rank)
        assert [r.rank for r in qrows] == list(range(1, len(qrows) + 1))
        dists = [r.dist for r in qrows]
        assert dists == sorted(dists)
    hits = sum(len(exact[qq] & approx.get(qq, set())) for qq in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9


def test_semdedup_greedy_invariants(spark):
    """Re-derive SemDeDup's greedy contract with numpy at fixture
    scale: within every cluster (a) kept vectors are pairwise <= tau,
    (b) every dropped vector's recorded witness is a kept, smaller-id
    cluster-mate with cosine > tau, (c) the partition covers all
    vectors exactly once."""
    import numpy as np

    from hadoop_mapreduce_spark.operators.similarity import semdedup_ivf
    from tests.conftest import SF_DIR

    tau = 0.2  # fixture embeddings are near-orthogonal; a low bar
    # guarantees the dropped branch is exercised
    rows = semdedup_ivf(spark, SF_DIR, tau=tau).collect()
    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .collect()}
    assert sorted(r.vec_id for r in rows) == sorted(emb)

    def cos(a, b):
        return float(emb[a] @ emb[b]
                     / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b])))

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.list_id, []).append(r)
    assert any(not r.kept for r in rows)  # the dropped branch fires
    for members in by_cluster.values():
        kept = [r.vec_id for r in members if r.kept]
        # decisions compare e6-ROUNDED cosines (the hash-paired portable
        # arithmetic), so the raw-float re-derivation tolerates the
        # quantization step (~1e-6), not just float noise
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                assert cos(a, b) <= tau + 2e-6, (a, b)
        for r in members:
            if not r.kept:
                assert r.witness_id in kept and r.witness_id < r.vec_id
                assert cos(r.witness_id, r.vec_id) > tau - 2e-6


def test_semdedup_tau_monotone(spark):
    """Raising tau keeps (weakly) more vectors — the dedup gets
    strictly less aggressive as the similarity bar rises."""
    from hadoop_mapreduce_spark.operators.similarity import semdedup_ivf
    from tests.conftest import SF_DIR

    n_low = sum(r.kept for r in semdedup_ivf(spark, SF_DIR, tau=0.15).collect())
    n_high = sum(r.kept for r in semdedup_ivf(spark, SF_DIR, tau=0.9).collect())
    assert n_low < n_high


def test_hard_negatives_are_cross_label_and_harder_than_rank2(spark):
    """Every mined negative has a different label from its query, ranks
    are dense 1..3 per query, and scores are non-increasing in rank."""
    from hadoop_mapreduce_spark.operators.similarity import (
        hard_negative_mining,
    )
    from tests.conftest import SF_DIR

    rows = hard_negative_mining(spark, SF_DIR).collect()
    labels = {r.vec_id: r.label for r in
              spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
              .select("vec_id", "label").collect()}
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r)
        assert labels[r.nid] == r.neg_label != labels[r.qid]
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_mmr_matches_numpy_reference_and_diversifies(spark):
    """Re-derive the greedy MMR sequence with numpy from the exact
    top-pool candidates: selection order, scores and the diversity
    property (rank-1 is the relevance argmax; later picks can deviate
    from pure-relevance order)."""
    import numpy as np

    from hadoop_mapreduce_spark.operators.similarity import (
        mmr_diversified_topk,
    )
    from tests.conftest import SF_DIR

    # the registered parameters, replayed by the numpy reference below
    lam, pool, k = 0.7, 20, 10
    got = mmr_diversified_topk(spark, SF_DIR).collect()
    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .collect()}

    def unit(v):
        return v / np.linalg.norm(v)

    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        qv = unit(emb[qid])
        # the operator consumes cosine_topk's REPORTED interface, whose
        # scores are 6-dp rounded — mirror that here
        scores = {nid: round(float(qv @ unit(emb[nid])), 6)
                  for nid in emb if nid != qid}
        cand = sorted(scores, key=lambda n: (-scores[n], n))[:pool]
        U = np.vstack([unit(emb[n]) for n in cand])
        rel = np.array([scores[n] for n in cand])
        sims = U @ U.T
        sel: list[int] = []
        avail = np.ones(len(cand), dtype=bool)
        want = []
        for step in range(k):
            obj = lam * rel - (0.0 if not sel
                               else (1 - lam) * sims[:, sel].max(axis=1))
            masked = np.where(avail, obj, -np.inf)
            ties = np.flatnonzero(masked == masked.max())
            pick = min(ties, key=lambda i: cand[i])
            sel.append(pick)
            avail[pick] = False
            # mirror the operator's integer micro-unit emission: the
            # raw objective times 1e6, rounded half-away-from-zero on
            # the IEEE product (Spark's round(double) semantics)
            import math
            y = obj[pick] * 1e6
            e6 = int(math.floor(y + 0.5)) if y >= 0 else -int(
                math.floor(-y + 0.5))
            want.append((cand[pick], e6))
        assert [(r.nid, r.mmr_e6) for r in rows] == want
        assert rows[0].nid == cand[0]  # rank 1 = pure relevance argmax


def test_dim_truncation_audit_bounds(spark):
    """Overlap is in [0, k]; when the truncated top-1 equals the full
    top-1 the overlap is >= 1; and the audit covers every query id."""
    from hadoop_mapreduce_spark.operators.similarity import (
        ann_dim_truncation_audit,
    )

    rows = ann_dim_truncation_audit(spark, SF_DIR, n_queries=20).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.overlap_at_k <= 10
        if r.top1_full == r.top1_trunc:
            assert r.overlap_at_k >= 1


def test_embedding_pca_power_matches_numpy(spark):
    """The distributed power iteration reproduces numpy running the
    IDENTICAL 12 rounds from the same all-ones start — implementation
    exactness, which is the testable claim (the fixture embeddings are
    near-isotropic, spectral gap λ2/λ1 ≈ 0.93, so convergence to the
    asymptotic top PC needs hundreds of rounds on ANY implementation;
    the audit's deliverable — the explained-variance fraction — is a
    Rayleigh quotient that converges fast and is asserted against the
    true spectrum)."""
    import numpy as np

    from hadoop_mapreduce_spark.operators.similarity import (
        embedding_pca_power,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = embedding_pca_power(spark, SF_DIR).collect()
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    eig = rows[0].eigval
    assert 0 < rows[0].explained_frac <= 1
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6

    X = np.array(load_table(spark, SF_DIR, "embeddings")
                 .select("embedding").toPandas()["embedding"].tolist(),
                 dtype=np.float64)
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / len(X)
    ref = np.ones(X.shape[1]) / np.sqrt(X.shape[1])
    for _ in range(12):
        w = cov @ ref
        ref = w / np.linalg.norm(w)
    # same rounds, same start → same direction and Rayleigh quotient
    assert abs(float(np.dot(v, ref))) > 0.999999
    ray = float(ref @ cov @ ref)
    assert abs(eig - ray) / ray < 1e-6
    # and the estimate must sit inside the true spectrum's top band
    vals = np.linalg.eigvalsh(cov)
    assert vals[-5] - 1e-12 <= eig <= vals[-1] + 1e-9


def test_embedding_centroid_drift_matches_numpy(spark):
    """Independent numpy reference: per-label centroid cosine to the
    global centroid and centroid norms agree within rounding noise;
    cosines are bounded and n_vecs covers the table."""
    import numpy as np

    from hadoop_mapreduce_spark.operators.similarity import (
        embedding_centroid_drift,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = embedding_centroid_drift(spark, SF_DIR).collect()
    pdf = load_table(spark, SF_DIR, "embeddings").toPandas()
    mats = {
        lab: np.vstack(g["embedding"].to_numpy()).astype(np.float64)
        for lab, g in pdf.groupby("label")
    }
    g_cent = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64).sum(0)
    assert sum(r.n_vecs for r in rows) == len(pdf)
    for r in rows:
        m = mats[r.label]
        assert r.n_vecs == len(m)
        cent = m.sum(0)
        cos = float(cent @ g_cent / (np.linalg.norm(cent) * np.linalg.norm(g_cent)))
        assert -1.0 <= r.cos_to_global <= 1.0
        assert abs(r.cos_to_global - cos) < 1e-4, (r.label, cos)
        assert abs(r.centroid_norm - np.linalg.norm(cent) / len(m)) < 1e-4


def test_embedding_outlier_scores_numpy_replay(spark, tmp_path):
    """A planted far-out vector ranks first, and a numpy replay of the
    diagonal Mahalanobis (population stats, v>0 dims only) matches
    every micro-unit score; a constant dimension contributes exactly
    zero instead of dividing by an epsilon."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.similarity import (
        embedding_outlier_scores,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(-8, 8, size=(30, 8)).astype(np.float32) / 4.0
    base[:, 3] = 2.5            # constant dim -> variance exactly 0
    base[29] = base[29] + 40.0  # planted outlier
    base[29, 3] = 2.5
    tbl = pa.table({
        "vec_id": pa.array(range(30), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in base],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in range(30)], pa.int32()),
    })
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    rows = embedding_outlier_scores(spark, str(tmp_path)).collect()
    assert rows[0].vec_id == 29 and rows[0].rank == 1

    x = base.astype(np.float64)
    m = x.mean(axis=0)
    v = (x * x).mean(axis=0) - m * m
    terms = np.where(v > 0, (x - m) ** 2 / np.where(v > 0, v, 1.0), 0.0)
    scores = terms.sum(axis=1)
    expect = {i: int(np.floor(s * 1e6 + 0.5)) for i, s in enumerate(scores)}
    for r in rows:
        assert abs(r.score_e6 - expect[r.vec_id]) <= 1, (
            r.vec_id, r.score_e6, expect[r.vec_id])


def test_embedding_anisotropy_audit_known_cones(spark, tmp_path):
    """Three identical vectors (cos 1.0 pairs) + one orthogonal: pair
    (0,1) and (1,2) have cos 1.0 -> bin 39; pair (2,3) cos 0.0 ->
    bin 20.  Exact-integer mean = (1e6+1e6+0)/3."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.similarity import (
        embedding_anisotropy_audit,
    )

    vecs = [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    tbl = pa.table({
        "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0, 1], pa.int32()),
    })
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out = {r.bin: r for r in
           embedding_anisotropy_audit(spark, str(tmp_path)).collect()}
    assert out[39].n == 2 and out[39].sum_cos_e6 == 2_000_000
    assert out[20].n == 1 and out[20].sum_cos_e6 == 0
    for r in out.values():
        assert r.n_pairs == 3
        assert r.mean_cos_e6 == 2_000_000 // 3


def test_sparse_cosine_pairs_topk_shared_terms_only(spark, tmp_path):
    """Docs 1-2 are identical (cosine 1.0); doc 3 shares one term with
    them; doc 4 shares nothing and pairs with nobody."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.similarity import (
        sparse_cosine_pairs_topk,
    )

    texts = ["alpha beta gamma", "alpha beta gamma",
             "alpha delta epsilon", "zeta eta theta"]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 4, pa.string()),
        "source": pa.array(["s"] * 4, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {(r.id1, r.id2): r for r in
           sparse_cosine_pairs_topk(spark, str(tmp_path)).collect()}
    assert (1, 2) in out and out[(1, 2)].n_shared_terms == 3
    assert abs(out[(1, 2)].cosine - 1.0) < 1e-6
    assert out[(1, 3)].n_shared_terms == 1
    assert out[(1, 3)].cosine < out[(1, 2)].cosine
    assert not any(4 in p for p in out)
