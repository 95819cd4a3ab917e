"""Similarity search tests: exact cosine correctness on constructed
vectors, IVF-ANN recall against the exact baseline."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.similarity import (
    JL_D,
    JL_K,
    JL_SIGNS,
    cosine_topk,
    embedding_jl_distortion_audit,
    ivf_assign,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_cosine_topk_constructed(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # closest to 0
            (2, [0.0, 1.0]),   # orthogonal to 0
            (3, [-1.0, 0.0]),  # opposite to 0
        ],
        ["vec_id", "embedding"],
    )
    out = cosine_topk(vecs, vecs.where(F.col("vec_id") == 0), k=3).collect()
    assert [r.nid for r in out] == [1, 2, 3]
    assert abs(out[0].score - 0.9 / math.hypot(0.9, 0.1)) < 1e-6
    assert abs(out[1].score - 0.0) < 1e-9
    assert abs(out[2].score - (-1.0)) < 1e-9


def test_ivf_assignment_covers_all(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids, assigned = ivf_assign(emb, n_lists=8)
    assert centroids.count() == 8
    assert assigned.count() == emb.count()
    # every vector assigned to exactly one list
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_kmeans_improves_objective_and_is_deterministic(spark):
    """Lloyd iterations must not worsen the clustering objective (avg
    best-centroid cosine), and the seedless init + deterministic updates
    must give identical centroids across runs."""
    from hadoop_mapreduce_spark.functions.vectors import cosine_similarity
    from hadoop_mapreduce_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def objective(n_iter):
        cents = kmeans_centroids(emb, n_lists=8, n_iter=n_iter)
        return (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", cosine_similarity(
                F.col("embedding"), F.col("cvec")).alias("csim"))
            .groupBy("vec_id").agg(F.max("csim").alias("best"))
            .agg(F.avg("best")).collect()[0][0]
        )

    o0, o2 = objective(0), objective(2)
    assert o2 >= o0 - 1e-9, f"k-means worsened objective: {o0} -> {o2}"

    a = kmeans_centroids(emb, n_lists=8, n_iter=2).collect()
    b = kmeans_centroids(emb, n_lists=8, n_iter=2).collect()
    assert sorted((r.list_id, tuple(r.cvec)) for r in a) == \
        sorted((r.list_id, tuple(r.cvec)) for r in b)


def test_ivf_recall_reasonable(spark):
    """IVF with 4/16 probes should still find most true neighbours on the
    fixture (labels cluster the synthetic embeddings)."""
    from hadoop_mapreduce_spark.operators.similarity import ann_ivf_topk, sim_search_topk

    exact = {(r.qid, r.nid) for r in sim_search_topk(spark, SF_DIR).collect()}
    approx = {(r.qid, r.nid) for r in ann_ivf_topk(spark, SF_DIR).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall} suspiciously low"


def test_jl_distortion_concentrates_near_one(spark):
    rows = embedding_jl_distortion_audit(spark, SF_DIR).collect()
    n_vec = load_table(spark, SF_DIR, "embeddings").count()
    total = sum(r.n_pairs for r in rows)
    # one pair per adjacent id (minus any zero-distance pairs)
    assert total <= n_vec - 1
    assert total >= (n_vec - 1) * 9 // 10
    # sign matrix is the documented shape and ±1-valued
    assert len(JL_SIGNS) == JL_K and all(
        len(r) == JL_D and set(r) <= {-1, 1} for r in JL_SIGNS)
    # E[ratio] = 1: the pair-weighted mean of bin means must sit near
    # 1e6 (k=16 => sd of the ratio ~ sqrt(2/k) ~ 0.35; the mean over
    # ~100+ pairs concentrates much tighter)
    mean = sum(r.n_pairs * r.mean_ratio_e6 for r in rows) / total
    assert 700_000 < mean < 1_300_000
    # the central bins must hold the bulk of the mass (JL concentration)
    central = sum(r.n_pairs for r in rows if 2 <= r.bin <= 4)
    extreme = sum(r.n_pairs for r in rows if r.bin in (0, 6))
    assert central > extreme
