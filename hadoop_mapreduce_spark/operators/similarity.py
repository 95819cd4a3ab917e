"""Similarity search over embedding columns (SURVEY.md §2.EXT Stage 3).

Two paths:

  * brute-force cosine top-k — the exact baseline: broadcast the query
    set, score every (query, candidate) pair JVM-side, rank with a
    window. Cost O(Q x N); right answer, and the 1x mark for recall.
  * IVF (inverted-file) ANN — the scale path: deterministically pick K
    coarse centroids, assign every vector to its nearest centroid (one
    broadcast pass), then search only the probed clusters. Sub-linear
    per query; recall < 1 by construction (registered rows-only).

All arithmetic is double-precision, left-to-right `aggregate` folds —
bit-identical to a sequential oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    fixed, fixed_sql, h60, half_up)
from hadoop_mapreduce_spark.functions.vectors import cosine_similarity, dot, l2_norm, l2_sq_dist
from hadoop_mapreduce_spark.sources.tables import load_table


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector.

    queries is assumed small (it's broadcast); vectors can be any size —
    the scoring pass is a broadcast nested-loop join that never shuffles
    the big side, and the per-query top-k is a window over qid.
    """
    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    v = vectors.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nvec")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            cosine_similarity(F.col("qvec"), F.col("nvec")).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    # Presentation sort = repartition(1) + in-partition sort, not
    # orderBy: the post-rank output is <= |queries|*k rows by
    # construction (queries is the broadcast-small side). A range
    # orderBy pays a boundary-SAMPLING job that re-executes the scoring
    # plan plus a range exchange — two scheduler round-trips to sort a
    # handful of rows (~0.2 s of sim_search_topk's 0.44 s at sf0.1).
    # repartition (one tiny exchange), NOT coalesce(1): coalesce would
    # propagate up the stage and run the window itself single-task.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank"))
        .repartition(1)
        .sortWithinPartitions("qid", "rank")
    )


def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: top-10 cosine neighbours for vec_id < 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=10)


# --------------------------------------------------------------------------
# IVF approximate nearest neighbour
# --------------------------------------------------------------------------

def kmeans_centroids(vectors: DataFrame, n_lists: int = 16,
                     n_iter: int = 3) -> DataFrame:
    """Deterministic distributed k-means (Lloyd) for the IVF coarse index.

    Init = the vector whose id ranks first in each of n_lists id-hash
    buckets (seedless, reproducible). Each Lloyd iteration is two
    shuffle-disciplined passes, both algebraic so map-side partial
    aggregation bounds shuffle volume regardless of row count:

      * assign: vectors ⨯ broadcast(centroids), argmax cosine as a
        max_by AGGREGATE (partials collapse the N×k scored rows to one
        row per vector before any shuffle);
      * update: posexplode member vectors → avg per (list_id, pos) —
        partial agg means the shuffle carries O(k·d·tasks) rows, never
        O(N·d) — then rebuild the centroid array ordered by pos.
        Spherical k-means: cosine assignment is scale-invariant, so
        the mean direction needs no explicit renormalisation.

    A list that loses all members keeps its previous centroid (left
    join + coalesce) — no empty-cluster respawn heuristics, so the
    result is deterministic. Each iteration's k-row centroid table is
    localCheckpoint'ed (k·d doubles — trivially small) to truncate
    lineage, the same bounded-iteration pattern as
    dedup.connected_components_star.
    """
    w = Window.partitionBy("bucket").orderBy("vec_id")
    centroids = (
        vectors.withColumn("bucket", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(n_lists)))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("bucket").alias("list_id"), F.col("embedding").alias("cvec"))
        .localCheckpoint()
    )
    best = F.max_by(
        "list_id", F.struct(F.col("csim"), (-F.col("list_id")).alias("nl")))
    for _ in range(n_iter):
        assigned = (
            vectors.crossJoin(F.broadcast(centroids))
            .select(
                "vec_id", "embedding", "list_id",
                cosine_similarity(F.col("embedding"), F.col("cvec")).alias("csim"),
            )
            .groupBy("vec_id")
            .agg(best.alias("list_id"), F.any_value("embedding").alias("embedding"))
        )
        means = (
            assigned.select("list_id", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.col("pm.m").alias("new_cvec"))
        )
        centroids = (
            centroids.join(means, "list_id", "left")
            .select("list_id",
                    F.coalesce(F.col("new_cvec").cast("array<float>"),
                               F.col("cvec")).alias("cvec"))
            .localCheckpoint()
        )
    return centroids


def ivf_assign(vectors: DataFrame, n_lists: int = 16) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF index: coarse centroids from distributed
    k-means (kmeans_centroids — Lloyd iterations, seedless hash init).

    Returns (centroids, assignments): every vector is assigned to its
    max-cosine centroid via one broadcast pass over the data.
    """
    centroids = kmeans_centroids(vectors, n_lists=n_lists, n_iter=3)
    # argmax per vector as a max_by AGGREGATE, not a row_number window:
    # max_by is algebraic, so map-side partials reduce the N x n_lists
    # scored rows to one row per vector before the shuffle, and no sort
    # happens at all (the window shape shuffles and sorts all N x n_lists
    # rows). Tie-break = lowest list_id via the negated second struct
    # field; any_value(vec) is safe because every scored row of one
    # vector carries the identical vector.
    best = F.max_by(
        "list_id", F.struct(F.col("csim"), (-F.col("list_id")).alias("nl")))
    assigned = (
        vectors.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "embedding", "list_id",
            cosine_similarity(F.col("embedding"), F.col("cvec")).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(best.alias("list_id"), F.any_value("embedding").alias("embedding"))
        .select("vec_id", "embedding", "list_id")
    )
    return centroids, assigned


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: score only vectors in the 4 closest lists.

    At 100 TB the assignment table is written bucketed by list_id so a
    probe reads only 4/16 of the data — that partition pruning
    is the whole point of IVF. Registered rows-only (approximate recall).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assigned = ivf_assign(emb, n_lists=16)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # which lists does each query probe?
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("qid", "qvec", "list_id", cosine_similarity(F.col("qvec"), F.col("cvec")).alias("csim"))
        .withColumn("pr", F.row_number().over(Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("list_id"))))
        .where(F.col("pr") <= 4)
        .select("qid", "qvec", "list_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"),
                cosine_similarity(F.col("qvec"), F.col("embedding")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    # Same tiny-output presentation sort as cosine_topk (repartition,
    # not coalesce — see there).
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "nid", F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank"))
        .repartition(1)
        .sortWithinPartitions("qid", "rank")
    )


def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN JOIN: every vector finds its top-5 cosine
    neighbours — the all-pairs primitive behind semantic dedup
    clustering and hard-negative mining, distinct from sim_search_topk
    (which broadcasts a small query set against the corpus; a kNN join
    is N queries over N candidates, so neither side is broadcastable).

    Same SRP-LSH machinery as dedup_embedding_lsh (shared signatures /
    banding / hot-bucket suppression), but each band bucket emits every
    member's within-bucket top-k instead of thresholded pairs; a final
    per-vector window over the ≤ 16·k surviving candidates picks the
    global top-k. Shuffle volume is O(16·N) vector rows in and
    O(16·k·N) candidate rows out of the bucket stage — never the
    O(N²) scored matrix.

    Vectors whose every band lands in a suppressed or singleton bucket
    return fewer than k (possibly zero) neighbours — the standard LSH
    contract. Registered rows-only (recall < 1 by construction);
    tests/test_similarity_extra.py bounds recall against the exact
    brute-force join at fixture scale.
    """
    from hadoop_mapreduce_spark.functions.vectors import l2_norm
    from hadoop_mapreduce_spark.operators.dedup import srp_bucket_rows

    k = 5
    emb = load_table(spark, sf_dir, "embeddings")
    # long band-bucket keys assembled inside the SRP numpy kernel — same
    # vector→bucket partitioning as the former per-bit-column + concat_ws
    # string keys, minus the 65-field schema and ~100-node projection in
    # every plan build (see srp_bucket_rows)
    buckets = srp_bucket_rows(emb)
    bucket_sizes = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsz"))
    pruned = buckets.join(
        F.broadcast(bucket_sizes.where(F.col("bsz") > 2048).select("bucket")),
        "bucket", "left_anti",
    )
    unit = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    ).select("id", F.transform("v", lambda x: x / F.col("nrm")).alias("u"))
    member_vecs = pruned.join(unit, "id").select("bucket", "id", "u")

    def bucket_topk(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"qid": [], "nid": [], "score": []})
        U = np.vstack(pdf["u"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        sims = U @ U.T
        np.fill_diagonal(sims, -np.inf)
        kk = min(k, len(ids) - 1)
        # per row: kk best by (score desc, nid asc) — the nid tie-break
        # mirrors the final window's ordering so equal-score candidates
        # are cut deterministically (a bare argpartition picks an
        # arbitrary subset of tied scores, which varies with pandas
        # group row order across shuffle fetches). lexsort's last key
        # is primary; buckets are ≤ 2048 rows so the O(n log n)
        # per-row sort is bounded.
        top = np.lexsort(
            (np.broadcast_to(ids, sims.shape), -sims), axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(ids)), kk)
        cols = top.ravel()
        return pd.DataFrame({
            "qid": ids[rows], "nid": ids[cols], "score": sims[rows, cols],
        })

    cands = (
        member_vecs.groupBy("bucket")
        .applyInPandas(bucket_topk, "qid long, nid long, score double")
        # a (qid, nid) seen via several bands appears once per band —
        # identical score, so max() dedups without a separate distinct
        .groupBy("qid", "nid").agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", F.round("score", 6).alias("score"),
                F.col("rank").cast("long").alias("rank"))
    )


def _portable_kmeans_assign(emb: DataFrame) -> DataFrame:
    """Engine-portable exact Lloyd assignment (the hash-paired k-means
    core shared by embedding_kmeans_stats and semdedup_ivf; the DuckDB
    twin is registry._KM_ROUND's chained CTEs):

      * components quantized to e6 micro-units ONCE up front —
        integer-valued doubles, so every dot/norm partial sum stays an
        exact integer < 2^53 and is fold-order-independent, and the one
        float expression per pair (dot / (sqrt(na)*sqrt(nb)), mirrored
        verbatim in SQL) is IEEE-identical across engines;
      * init: vector of the min vec_id within each md5(vec_id) % k
        bucket (portable-hash convention — DuckDB lacks crc32);
      * assignment argmax on the e6-ROUNDED cosine, ties to the lowest
        list id — an integer comparison, no float argmax hazard;
      * update means in truncating integer division (micro-units);
        emptied clusters keep their previous centroid.

    Returns one row per vector: (vec_id, list_id, e, c) where ``e`` is
    the e6-quantized component array and ``c`` the e6-rounded cosine to
    the assigned centroid.
    """
    q = emb.select(
        "vec_id",
        F.expr("transform(CAST(embedding AS ARRAY<DOUBLE>),"
               f" x -> CAST({fixed_sql('x', 6)} AS DOUBLE))").alias("e"),
    )
    h = h60(F.col("vec_id").cast("string"))
    centroids = (
        q.withColumn("b", F.pmod(h, F.lit(16)))
        .groupBy("b")
        .agg(F.min_by("e", F.col("vec_id")).alias("cvec"))
        .select(F.col("b").alias("list_id"), "cvec")
        .localCheckpoint()
    )
    # e6-rounded cosine: exact-integer dot/norms, ONE float expression,
    # rounded to an integer before any comparison
    cos_e6 = fixed(cosine_similarity(F.col("e"), F.col("cvec")), 6)
    best = F.max_by(
        "list_id", F.struct(F.col("c"), (-F.col("list_id")).alias("nl")))

    def assign(cents):
        return (
            q.crossJoin(F.broadcast(cents))
            .select("vec_id", "e", "list_id", cos_e6.alias("c"))
            .groupBy("vec_id")
            .agg(best.alias("list_id"), F.any_value("e").alias("e"),
                 F.max(F.struct(F.col("c"), (-F.col("list_id")).alias("nl")))
                 .getField("c").alias("c"))
        )

    for _ in range(3):
        assigned = assign(centroids)
        means = (
            assigned.select("list_id", F.posexplode("e").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.sum(F.col("x").cast("long")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            # truncating integer mean (Spark DIV truncates toward zero;
            # the oracle emulates with the CASE pattern)
            .select("list_id", "pos",
                    F.expr("CAST(s DIV n AS DOUBLE)").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("list_id", F.col("pm.m").alias("new_cvec"))
        )
        centroids = (
            centroids.join(means, "list_id", "left")
            .select("list_id",
                    F.coalesce("new_cvec", "cvec").alias("cvec"))
            .localCheckpoint()
        )
    return assign(centroids)


def embedding_kmeans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-structure audit of the corpus embedding space: per-cluster
    membership and cohesion from a deterministic Lloyd k-means — the
    "what domains does this corpus contain" step before mixture
    reweighting, and the health check for the IVF index family.

    Hash-paired since r8 (was rows-only): this variant replays the SAME
    Lloyd schedule as kmeans_centroids but in engine-portable exact
    arithmetic, so the DuckDB oracle chains the fixed rounds as CTEs
    (the label_propagation_communities precedent):

      * components quantized to e6 micro-units ONCE up front —
        integer-valued doubles, so every dot/norm partial sum stays an
        exact integer < 2^53 (dim 64 x |e6| <= ~6e5 -> sums <= ~2e13)
        and is order-independent: any shuffle layout and any fold order
        produce the same bits, and the one float expression per pair
        (dot / (sqrt(na)*sqrt(nb)), mirrored verbatim in SQL) is IEEE-
        identical across engines;
      * init: vector of the min vec_id within each md5(vec_id) % k
        bucket (the repo's portable-hash convention — kmeans_centroids
        uses crc32, which DuckDB lacks);
      * assignment argmax on the e6-ROUNDED cosine, ties to the lowest
        list id — an integer comparison, no float argmax hazard;
      * update means in truncating integer division (micro-units);
        emptied clusters keep their previous centroid (left join +
        coalesce), exactly like kmeans_centroids.

    Scale shape is unchanged: per round one broadcast of the k-row
    centroid table, one max_by aggregate (map-side partials collapse
    N x k scored rows to one per vector pre-shuffle), one k*d-bounded
    mean aggregate; the vector table never shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    final = _portable_kmeans_assign(emb)
    return (
        final.groupBy(F.col("list_id").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # Spark DIV truncates toward zero; oracle emulates via CASE
            F.expr("CAST(sum(c) DIV count(*) AS BIGINT)")
            .alias("avg_cohesion_e6"),
            F.min("c").cast("long").alias("min_cohesion_e6"),
        )
    )


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics — exercises dot/norm over groups."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.col("label").cast("long").alias("label"),
            l2_norm(F.col("embedding")).alias("nrm"),
            dot(F.col("embedding"), F.col("embedding")).alias("sq"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.max("sq"), 6).alias("max_sq_norm"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# --------------------------------------------------------------------------

def pq_codebook(subvecs: DataFrame, n_codes: int = 16) -> DataFrame:
    """Per-subspace k-means codebook for product quantization
    (Jégou et al., "Product Quantization for Nearest Neighbor Search").

    Same deterministic Lloyd scheme as kmeans_centroids, run
    independently in every subspace in ONE set of jobs: all (sub, code)
    cells train together because every aggregation is keyed by
    (sub, ...) — no per-subspace loop, no driver-side iteration over
    subspaces. Init is the seedless id-hash-bucket representative;
    empty cells keep their previous centroid (deterministic, no respawn
    randomness); each iteration's codebook (m·n_codes rows of
    subspace-dim arrays — KBs) is localCheckpoint'ed to truncate
    lineage.
    """
    w = Window.partitionBy("sub", "bucket").orderBy("vec_id")
    codebook = (
        subvecs.withColumn(
            "bucket", F.pmod(F.crc32(F.col("vec_id").cast("string")),
                             F.lit(n_codes)))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("sub", F.col("bucket").alias("code"),
                F.col("svec").alias("cvec"))
        .localCheckpoint()
    )
    # PQ quantizes raw L2 geometry (not cosine): min_by squared distance,
    # ties to the lowest code id
    best = F.min_by("code", F.struct(F.col("d2"), F.col("code")))
    for _ in range(2):
        assigned = (
            subvecs.join(F.broadcast(codebook), "sub")
            .select("vec_id", "sub", "svec", "code",
                    l2_sq_dist(F.col("svec"), F.col("cvec")).alias("d2"))
            .groupBy("vec_id", "sub")
            .agg(best.alias("code"), F.any_value("svec").alias("svec"))
        )
        means = (
            assigned.select("sub", "code",
                            F.posexplode("svec").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("sub", "code", F.col("pm.m").alias("new_cvec"))
        )
        codebook = (
            codebook.join(means, ["sub", "code"], "left")
            .select("sub", "code",
                    F.coalesce(F.col("new_cvec").cast("array<float>"),
                               F.col("cvec")).alias("cvec"))
            .localCheckpoint()
        )
    return codebook


def _pq_subvectors(vectors: DataFrame, m: int, vec_col: str = "embedding") -> DataFrame:
    """Split each vector into m contiguous subvectors: one posexploded
    projection, no shuffle. Dimension d must divide by m (64/8 here)."""
    sub_dim = F.size(vec_col) / m
    return vectors.select(
        F.col("vec_id").alias("vec_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(F.col(vec_col),
                                  (j * sub_dim + 1).cast("int"),
                                  sub_dim.cast("int")),
            )
        ).alias("sub", "svec"),
    )


# ann_pq_adc scores, and ann_pq_rerank re-ranks, the queries vec_id < 5
PQ_N_QUERIES = 5


def ann_pq_adc(spark: SparkSession, sf_dir: str, k: int = 10, m: int = 8,
               n_codes: int = 16) -> DataFrame:
    """Approximate top-k nearest neighbours via product quantization
    with asymmetric distance computation.

    Why this is THE 100 TB ANN shape: each database vector is stored as
    m uint8 codes (8 bytes here vs 256 bytes of float32 — a 32×
    compression), and query scoring never touches the original vectors:
    the query precomputes an m × n_codes lookup table of partial
    squared distances (KBs, broadcast), and each candidate's distance
    is m table lookups + a sum. IVF prunes WHICH vectors to score;
    PQ shrinks WHAT a score costs — production ANN (FAISS IVFPQ)
    composes both, and both live in this module.

    Plan: subvector split (projection) → codebook train (keyed Lloyd,
    see pq_codebook) → encode = one broadcast join + min_by aggregate
    (one exchange keyed by vec_id) → ADC: codes ⨝ broadcast LUT →
    per-(query, vector) sum → per-query top-k window. The big side
    shuffles once (the encode groupBy); scoring afterwards moves only
    (qid, nid, partial) rows whose payload is 8 bytes of codes, never
    embeddings.

    Registered rows-only: quantized ranks are parameter-dependent
    (recall vs the exact oracle is asserted in tests and reported by
    bench.py, like dedup_embedding_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings")
    subvecs = _pq_subvectors(emb, m)
    codebook = pq_codebook(subvecs, n_codes=n_codes)
    best = F.min_by("code", F.struct(F.col("d2"), F.col("code")))
    codes = (
        subvecs.join(F.broadcast(codebook), "sub")
        .select("vec_id", "sub", "code",
                l2_sq_dist(F.col("svec"), F.col("cvec")).alias("d2"))
        .groupBy("vec_id", "sub")
        .agg(best.alias("code"))
    )
    # per-query LUT: partial squared distance from the query's subvector
    # to every codebook cell — m * n_codes rows per query, broadcast
    queries = _pq_subvectors(emb.where(F.col("vec_id") < PQ_N_QUERIES), m) \
        .withColumnRenamed("vec_id", "qid").withColumnRenamed("svec", "qsvec")
    lut = (
        queries.join(F.broadcast(codebook), "sub")
        .select("qid", "sub", "code",
                l2_sq_dist(F.col("qsvec"), F.col("cvec")).alias("pdist"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum("pdist").alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", F.round("adist", 6).alias("approx_dist"),
                F.col("rank").cast("long").alias("rank"))
    )


def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank — the production composition
    (FAISS's IVFADC+R): the quantized scan whittles N candidates down
    to 300 per query using only 8-byte codes, then the exact
    distance runs on that tiny set alone.

    Recall follows ADC's recall@300 (much higher than its
    recall@k — a coarse quantizer rarely drops a true neighbour out of
    the top 50), while the exact pass restores true distance order
    among survivors. The re-rank join touches original vectors for
    300·PQ_N_QUERIES rows total — independent of N, so at 100 TB
    the full-precision data is read (point look-ups by id, a bucketed
    or indexed fetch) only for ~0.1% of candidates.

    Registered rows-only (the shortlist is still approximate); recall
    vs the exact oracle is asserted in tests and reported by bench.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    short = ann_pq_adc(spark, sf_dir, k=300, m=16, n_codes=32).select(
        "qid", "nid")
    queries = emb.where(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = (
        emb.join(F.broadcast(short),
                 emb["vec_id"] == short["nid"])
        .join(F.broadcast(queries), "qid")
        .select("qid", "nid",
                l2_sq_dist(F.col("embedding"), F.col("qvec")).alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("nid"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("qid", "nid", F.round("d2", 6).alias("dist"),
                F.col("rank").cast("long").alias("rank"))
    )


def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVFADC + exact re-rank — the full production ANN
    composition (Jégou et al. §IV): the IVF coarse quantizer prunes
    WHICH vectors are scored (3 of 8 inverted lists), PQ
    codes on the RESIDUAL v - centroid(list(v)) shrink WHAT a score
    costs (m uint8 codes + an LUT sum, never the raw vector), and the
    exact pass re-ranks only the ADC shortlist.

    Residual encoding matters: within a list the residuals are centred
    near zero, so the per-subspace codebook spends its 32 cells on the
    local spread instead of the global point cloud — the standard
    IVFADC accuracy win over PQ-on-raw-vectors. One shared residual
    codebook across lists (FAISS's default) keeps the LUT per
    (query, probed list) at m x 32 cells, built from the query's
    OWN residual against that list's centroid.

    Scale shape: at 100 TB the assignment table is written bucketed by
    list_id (partition pruning reads 3/8 of the codes), the
    codebook + centroids broadcast (KBs), ADC moves (qid, nid, dist)
    rows only, and the re-rank fetches 200 x Q raw vectors by id.
    Registered rows-only (approximate); recall@10 vs brute force is
    asserted >= 0.9 in tests and reported by bench.py. Extension
    coverage (SURVEY.md §2.EXT embedding-space structure — the
    reference has no ANN surface).
    """
    m = 16
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assigned = ivf_assign(emb, n_lists=8)
    # residual per vector against its own list centroid (JVM zip_with)
    resid = (
        assigned.join(F.broadcast(centroids), "list_id")
        .select("vec_id", "list_id",
                F.zip_with("embedding", "cvec", lambda a, b: a - b)
                .alias("rvec"))
    )
    subvecs = _pq_subvectors(resid, m, vec_col="rvec")
    codebook = pq_codebook(subvecs, n_codes=32)
    best = F.min_by("code", F.struct(F.col("d2"), F.col("code")))
    codes = (
        subvecs.join(F.broadcast(codebook), "sub")
        .select("vec_id", "sub", "code",
                l2_sq_dist(F.col("svec"), F.col("cvec")).alias("d2"))
        .groupBy("vec_id", "sub")
        .agg(best.alias("code"))
        .join(resid.select("vec_id", "list_id"), "vec_id")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    # probed lists per query (coarse argmax over the broadcast centroids)
    wq = Window.partitionBy("qid").orderBy(F.asc("qd2"), F.asc("list_id"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("qid", "qvec", "list_id",
                l2_sq_dist(F.col("qvec"), F.col("cvec")).alias("qd2"),
                F.zip_with("qvec", "cvec", lambda a, b: a - b).alias("qres"))
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= 3)
        .select("qid", "list_id", "qres")
    )
    # per (query, probed list) LUT from the query's residual vs the
    # shared residual codebook — m x 32 x 3 rows per query
    qsub = probes.select(
        "qid", "list_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(F.col("qres"),
                                  (j * (F.size("qres") / m) + 1).cast("int"),
                                  (F.size("qres") / m).cast("int")),
            )
        ).alias("sub", "qsvec"),
    )
    lut = (
        qsub.join(F.broadcast(codebook), "sub")
        .select("qid", "list_id", "sub", "code",
                l2_sq_dist(F.col("qsvec"), F.col("cvec")).alias("pdist"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["list_id", "sub", "code"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.sum("pdist").alias("adist"), F.count(F.lit(1)).alias("nsub"))
        # a vector is scoreable only if every subspace hit the LUT of
        # ITS list (it always does — the LUT covers all codes), so nsub
        # == m guards against partial sums if a probe list is empty
        .where(F.col("nsub") == m)
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    short = (
        scored.withColumn("r", F.row_number().over(ws))
        .where(F.col("r") <= 200)
        .select("qid", "nid")
    )
    exact = (
        emb.join(F.broadcast(short), emb["vec_id"] == short["nid"])
        .join(F.broadcast(queries), "qid")
        .select("qid", "nid",
                l2_sq_dist(F.col("embedding"), F.col("qvec")).alias("d2"))
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("nid"))
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= 10)
        .select("qid", "nid", F.round("d2", 6).alias("dist"),
                F.col("rank").cast("long").alias("rank"))
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each query vector, the 3 most-similar vectors carrying a
    DIFFERENT label — the near-misses a contrastive loss learns most
    from (the random-negative baseline is trivial; the value is in the
    "hard" = high-cosine wrong-label set).

    Exact scoring, same plan skeleton as sim_search_topk: the query set
    (vec_id < 25) is broadcast, the corpus side never shuffles,
    the label-mismatch predicate drops same-label pairs BEFORE the
    window, and the per-query top-k window ranks the scored stream.
    At corpus-as-queries scale the LSH kNN join (knn_join_lsh) is the
    scale path — filter its candidate stream on label mismatch the same
    way; this exact form is the oracle-checkable twin.

    Ranking compares unrounded doubles with nid tie-break (identical
    left-to-right fold on both engines — the convention every cosine
    query here shares); only the reported score is rounded.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.col("label").cast("long").alias("neg_label"),
            cosine_similarity(F.col("qvec"), F.col("embedding"))
            .alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", "nid", "neg_label",
                F.round("score", 6).alias("score"),
                F.col("rank").cast("long").alias("rank"))
    )


def semdedup_ivf(spark: SparkSession, sf_dir: str, tau: float = 0.5) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and greedily
    dropping, within each cluster, every vector whose cosine to an
    already-kept lower-id vector exceeds tau — removes *semantic*
    duplicates (paraphrases, re-renderings) that no lexical hash can
    see. The published recipe is exactly this: k-means partition, then
    intra-cluster pairwise screening only.

    Scale shape: the clustering IS the blocking — pairwise cosine is
    confined to a cluster (the paper's trick for avoiding O(N²)), and
    each cluster's greedy pass runs as one Arrow batch in
    applyInPandas over the k-means partitioning (same bounded-group
    contract as knn_join_lsh's bucket kernel: one gram matrix per
    cluster, no row-at-a-time Python). Keep-first-by-id makes the scan
    order deterministic, so the output is seed-free reproducible.

    Hash-paired since r8 (was rows-only): the blocking reuses the
    portable exact Lloyd (_portable_kmeans_assign — e6-quantized
    components, integer dots, md5 init), so the oracle replays the
    fixed rounds as chained CTEs; the greedy compares e6-ROUNDED
    cosines against tau_e6 — a pure integer threshold, no float
    boundary hazard — and the oracle replays the keep/drop chain as a
    per-cluster recursive CTE (the mmr_diversified_topk precedent).
    Inside the kernel the gram matrix multiplies integer-valued
    float64s whose products and partial sums stay exact integers
    < 2^53, so BLAS fold order cannot change a bit; the single float
    expression per pair (dot/(sqrt(na)*sqrt(nb))*1e6+0.5, floored)
    mirrors the SQL verbatim. tests/test_similarity_extra.py
    re-derives the greedy invariants (kept prefix pairwise <= tau;
    every dropped vector has a kept earlier witness > tau) with numpy.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    tau_e6 = int(round(tau * 1e6))
    members = _portable_kmeans_assign(emb).select(
        "list_id", F.col("vec_id").alias("id"), "e")

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        E = np.vstack(pdf["e"].to_numpy())[order].astype(np.float64)
        dots = E @ E.T           # exact integers (components are e6 ints)
        nrm = np.sqrt(np.diag(dots))
        sims = np.floor(dots / (nrm[:, None] * nrm[None, :]) * 1e6 + 0.5
                        ).astype(np.int64)
        n = len(ids)
        kept_mask = np.zeros(n, dtype=bool)
        witness = np.full(n, -1, dtype=np.int64)
        max_cos = np.full(n, -1, dtype=np.int64)
        has_max = np.zeros(n, dtype=bool)
        for i in range(n):
            if i == 0:
                kept_mask[0] = True
                continue
            prior = np.flatnonzero(kept_mask[:i])
            s = sims[i, prior]
            j = int(np.argmax(s))  # first max = lowest kept id
            max_cos[i] = s[j]
            has_max[i] = True
            if s[j] > tau_e6:
                witness[i] = ids[prior[j]]
            else:
                kept_mask[i] = True
        return pd.DataFrame({
            "vec_id": ids, "list_id": pdf["list_id"].iloc[0],
            "kept": kept_mask, "witness_id": witness,
            "max_cos_kept_e6": pd.array(
                [int(c) if h else None
                 for c, h in zip(max_cos, has_max)], dtype="Int64"),
        })

    return (
        members.groupBy("list_id")
        .applyInPandas(greedy, "vec_id long, list_id long, kept boolean, "
                               "witness_id long, max_cos_kept_e6 long")
    )


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified re-ranking: from each query's exact top-20 (``pool``)
    cosine candidates, greedily pick ``k`` = 10 maximising
    lam*rel(d) - (1-lam)*max_{s in selected} sim(d, s) at lam = 0.7 —
    the standard redundancy-suppressing re-rank behind search result pages and RAG
    context assembly (pure top-k returns near-duplicates; MMR trades
    relevance for coverage).

    Scale shape: stage 1 is sim_search_topk's broadcast-scored exact
    top-pool (corpus never shuffles; per-query heap). Stage 2 is
    greedy and sequential BY DESIGN but over pool=20 rows per query —
    it runs as one Arrow batch per query via applyInPandas (tiny
    gram matrix; the corpus is long gone by this stage). The expensive
    part stays declarative; the O(k*pool) loop touches only the
    shortlist.

    Deterministic: candidate set and relevance from the exact path,
    greedy ties broken by lowest nid. Oracle-paired since r7: the
    greedy chain is a DuckDB recursive CTE carrying the selected-id
    list per query (the numpy reference test independently re-derives
    the same sequence). Relevance is rounded to 6 dp BEFORE the greedy
    on both engines, so the argmax compares identical doubles except
    for sub-1e-15 redundancy-term noise on near-ties.
    """
    from hadoop_mapreduce_spark.functions.vectors import l2_norm

    k, pool, lam = 10, 20, 0.7
    emb = load_table(spark, sf_dir, "embeddings")
    cands = cosine_topk(emb, emb.where(F.col("vec_id") < 5),
                        k=pool).select("qid", "nid", "score")
    unit = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    ).select("nid", F.transform("v", lambda x: x / F.col("nrm")).alias("u"))
    pool_vecs = cands.join(unit, "nid").select("qid", "nid", "score", "u")

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        order = np.lexsort((pdf["nid"].to_numpy(),
                            -pdf["score"].to_numpy()))
        ids = pdf["nid"].to_numpy()[order]
        rel = pdf["score"].to_numpy()[order]
        U = np.vstack(pdf["u"].to_numpy())[order].astype(np.float64)
        sims = U @ U.T
        n = len(ids)
        selected: list[int] = []
        mmr_score = np.empty(min(k, n))
        avail = np.ones(n, dtype=bool)
        for step in range(len(mmr_score)):
            if step == 0:
                obj = lam * rel - 0.0
            else:
                red = sims[:, selected].max(axis=1)
                obj = lam * rel - (1 - lam) * red
            obj_masked = np.where(avail, obj, -np.inf)
            best = np.flatnonzero(
                obj_masked == obj_masked.max())  # ties -> lowest nid
            pick = best[np.argmin(ids[best])]
            selected.append(pick)
            avail[pick] = False
            mmr_score[step] = obj[pick]
        return pd.DataFrame({
            "qid": pdf["qid"].iloc[0], "nid": ids[selected],
            "relevance": rel[selected],
            "mmr": mmr_score,
            "rank": np.arange(1, len(selected) + 1, dtype=np.int64),
        })

    # Scores emitted as integer MICRO-units (``fixed(x, 6)``): rank-1
    # rows have mmr = lam*rel EXACTLY, and 0.7 x (6-dp rel with odd
    # last digit) lands ON a 6-dp decimal half-boundary systematically.
    return (
        pool_vecs.groupBy("qid")
        .applyInPandas(greedy, "qid long, nid long, relevance double, "
                               "mmr double, rank long")
        .select(
            "qid", "nid",
            fixed(F.col("relevance"), 6).alias("relevance_e6"),
            fixed(F.col("mmr"), 6).alias("mmr_e6"),
            "rank")
    )


def ann_dim_truncation_audit(spark: SparkSession, sf_dir: str,
                             n_queries: int = 50) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: how much of each
    query's exact top-10 survives when embeddings are truncated to the
    first 32 dimensions? Truncated prefixes are the standard
    cheap first-pass index (MRL-trained models make the prefix
    meaningful; this audit MEASURES whether yours does) — the output
    is per query the exact-vs-truncated top-1 ids and the top-k
    overlap count, integers only, so the comparison is bit-exact.

    Scale shape: two broadcast-query scoring passes over the vector
    table (cosine_topk never shuffles the big side), then a qid-keyed
    10-row aggregate — the audit costs two scans regardless of corpus
    size, and the truncated pass reads 32/d of the vector bytes
    (with columnar layouts the prefix slice prunes at the scan).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cut = F.col("vec_id") < n_queries
    half = emb.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    full_top = cosine_topk(emb, emb.where(cut), k=10)
    half_top = cosine_topk(half, half.where(cut), k=10)

    def _roll(df, tag):
        return df.groupBy("qid").agg(
            F.min(F.when(F.col("rank") == 1, F.col("nid")))
            .alias(f"top1_{tag}"),
            F.collect_set("nid").alias(f"set_{tag}"),
        )

    joined = _roll(full_top, "full").join(_roll(half_top, "trunc"), "qid")
    return (
        joined.select(
            "qid", "top1_full", "top1_trunc",
            F.size(F.array_intersect("set_full", "set_trunc"))
            .cast("long").alias("overlap_at_k"),
        )
    )


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by distributed
    power iteration — the anisotropy audit (embedding sets whose top
    PC explains a large variance fraction are 'collapsed' and rank
    poorly; Mu & Viswanath-style post-processing subtracts this very
    component). Returns one row per dimension: the mean vector, the
    unit top-PC loading, and constant columns carrying the eigenvalue
    (top-PC variance), total variance, and explained fraction.

    Power iteration, Lloyd-style shuffle discipline (no driver-side
    vector state — the 64-row direction relation is localCheckpoint'ed
    per round exactly like kmeans_centroids' centroid table):

      v_{t+1} ∝ C v_t,  C v = Σ_i (x_i − μ) ((x_i − μ)·v) / N

    computed per round as: broadcast the 1-row direction array to all
    vectors, fold the centered dot per vector (codegen zip_with +
    aggregate — N rows out), posexplode once and partial-agg per
    dimension (shuffle carries O(d × tasks) rows, never O(N × d)),
    then normalise via a 1-row norm broadcast. Registered rows-only
    (iterative fixpoint); tests assert bit-level agreement with numpy
    running the identical rounds from the identical start (the fixture
    cloud is near-isotropic — λ2/λ1 ≈ 0.93 — so asymptotic-eigenvector
    convergence is a property of the data, not the implementation; the
    reported explained-variance fraction is the fast-converging
    Rayleigh quotient either way).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("x"))

    # mean vector and total variance (one pass each, d-keyed partial agg)
    mu_rows = (
        vec.select(F.posexplode("x").alias("pos", "xd"))
        .groupBy("pos").agg(F.avg("xd").alias("mu"))
    )
    mu = mu_rows.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm")
    ).select(F.transform("pm", lambda s: s["mu"]).alias("mu")).localCheckpoint()

    centered_sq = F.aggregate(
        F.zip_with("x", F.col("mu"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, y: acc + y)
    tot = vec.crossJoin(F.broadcast(mu)).agg(
        F.avg(centered_sq).alias("total_var"),
        F.count(F.lit(1)).alias("n")).localCheckpoint()

    # init: normalised all-ones (deterministic, non-orthogonal to any
    # direction with nonzero mean loading w.h.p.)
    d_dim = len(mu.first()["mu"])
    v = spark.createDataFrame(
        [([1.0 / d_dim ** 0.5] * d_dim,)], "v array<double>").localCheckpoint()

    cdot = F.aggregate(
        F.zip_with(
            F.zip_with("x", F.col("mu"), lambda a, b: a - b),
            F.col("v"), lambda c, w: c * w),
        F.lit(0.0), lambda acc, y: acc + y)
    for _ in range(12):
        scored = (
            vec.crossJoin(F.broadcast(mu)).crossJoin(F.broadcast(v))
            .select("x", F.col("mu").alias("m"), cdot.alias("dot"))
        )
        w_rows = (
            scored.select(
                "dot",
                F.posexplode(F.zip_with(
                    "x", F.col("m"), lambda a, b: a - b)).alias("pos", "cd"))
            .groupBy("pos").agg(F.sum(F.col("cd") * F.col("dot")).alias("w"))
        )
        w_arr = w_rows.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("pw")
        ).select(F.transform("pw", lambda s: s["w"]).alias("w"))
        norm = F.sqrt(F.aggregate(
            F.zip_with("w", F.col("w"), lambda a, b: a * b),
            F.lit(0.0), lambda acc, y: acc + y))
        v = w_arr.select(
            F.transform("w", lambda e: e / norm).alias("v")).localCheckpoint()

    # eigenvalue = v'Cv = avg(dot^2) under the converged direction
    eig = (
        vec.crossJoin(F.broadcast(mu)).crossJoin(F.broadcast(v))
        .agg(F.avg(cdot * cdot).alias("eigval")).localCheckpoint()
    )
    return (
        v.crossJoin(mu).crossJoin(eig).crossJoin(tot)
        .select(
            F.posexplode(F.zip_with(
                "v", F.col("mu"),
                lambda a, b: F.struct(a.alias("loading"), b.alias("mean"))
            )).alias("dim", "s"),
            "eigval", "total_var", "n")
        .select(F.col("dim").cast("long").alias("dim"),
                F.round(F.col("s.loading"), 8).alias("loading"),
                F.round(F.col("s.mean"), 8).alias("mean"),
                F.round("eigval", 8).alias("eigval"),
                F.round("total_var", 8).alias("total_var"),
                F.round(F.col("eigval") / F.col("total_var"), 8)
                .alias("explained_frac"))
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION corpus audit of the embedding column: mean, min,
    max and zero counts for every coordinate — the pre-ANN sanity check
    that catches dead dimensions (all-zero: wasted index width),
    scale-skewed dimensions (one coordinate dominating every distance)
    and clipped outliers before they poison a quantizer's codebook.

    Cross-engine exactness without rounding tricks: the inputs are
    float32, so each value carries a 24-bit mantissa; summing N <= ~2^28
    of them in float64 keeps every partial sum EXACT (24 + log2(N) < 53
    bits), which makes the double sum ORDER-INDEPENDENT — both engines
    produce identical bits whatever their aggregation order, and the
    mean is emitted in integer micro-units of that exact sum. min/max
    comparisons are exact by nature. (A variance column would break
    this — squares need 48 + log2(N) bits — so the spread signal here
    is min/max, and embedding_pca_power holds the second-moment
    analysis.)

    Scale shape: posexplode -> one hash aggregation keyed by dimension
    index — map-side partials reduce the N x d exploded rows to
    d x tasks before the shuffle; output is d rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "x"))
    return (
        cells.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(fixed_sql("sum(x) * 1e6 / count(1)", 0)).alias("mean_e6"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.sum((F.col("x") == 0.0).cast("long")).alias("n_zero"),
        )
        .select(F.col("dim").cast("long").alias("dim"), "n", "mean_e6",
                "min_x", "max_x", "n_zero")
    )


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid audit: each label's centroid cosine
    against the GLOBAL centroid plus its own norm — the domain-drift /
    cluster-collapse diagnostic (a label whose centroid points away from
    the corpus is a distribution shift; one whose norm collapses toward
    0 has internally-cancelling members, i.e. it isn't a cluster).

    Exactness chain (hash-paired, no FP-order hazards): float32 inputs
    sum EXACTLY in float64 (24-bit mantissas, embedding_dim_stats'
    argument), each per-(label,dim) sum is scaled once to an exact
    BIGINT (``fixed(s, 6)``); the global centroid is the BIGINT sum of the
    label sums; dot products and squared norms accumulate
    BIGINT*BIGINT products in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB
    oracle) — exact in both, and both cast the same exact integer to
    the same nearest double before the one sqrt/divide each output
    takes. The 1/n and 1e6 scale factors CANCEL in cosine, so no
    division happens until the final projection.

    Scale shape: one posexplode -> (label, dim) hash aggregation (d
    rows per label), a broadcast join on dim against the d-row global
    centroid, and a per-label re-aggregation. Nothing downstream of the
    first exchange exceeds labels x d rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "x"),
    )
    per = cells.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        fixed(F.sum("x"), 6).alias("s_e6"),
    )
    glob = per.groupBy("dim").agg(F.sum("s_e6").alias("g_e6"))
    gnorm = glob.agg(
        F.sum(F.col("g_e6").cast("decimal(38,0)") * F.col("g_e6"))
        .alias("g_ssq"))
    joined = per.join(F.broadcast(glob), "dim")
    stats = (
        joined.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("s_e6").cast("decimal(38,0)") * F.col("g_e6"))
            .alias("dot_lg"),
            F.sum(F.col("s_e6").cast("decimal(38,0)") * F.col("s_e6"))
            .alias("l_ssq"),
        )
        .crossJoin(F.broadcast(gnorm))
    )
    # zero-norm contract (fuzz-found ANSI divide-by-zero): a label of
    # all-zero vectors — or a fully-cancelling global centroid — has no
    # direction; its cosine is defined as 0.0.
    cos = F.when(
        (F.col("l_ssq") > 0) & (F.col("g_ssq") > 0),
        F.col("dot_lg").cast("double")
        / (F.sqrt(F.col("l_ssq").cast("double"))
           * F.sqrt(F.col("g_ssq").cast("double"))),
    ).otherwise(F.lit(0.0))
    norm = (F.sqrt(F.col("l_ssq").cast("double"))
            / (F.col("n_vecs") * F.lit(1e6)))
    return (
        stats.select(
            F.col("label").cast("long").alias("label"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(cos, 6).alias("cos_to_global"),
            F.round(norm, 6).alias("centroid_norm"),
        )
    )


def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Mahalanobis outlier ranking: each vector's
    score is Σ_d (x_d − μ_d)² / σ²_d — the standard cheap anomaly read
    over an embedding column (mislabeled modality, truncated encodes,
    scale-broken batches) that per-dimension stats alone
    (embedding_dim_stats) can't rank per-document.

    Exactness discipline (same as embedding_dim_stats): float32 inputs
    cast to float64 make every per-dim sum EXACT and order-independent
    (24-bit mantissas in 53-bit arithmetic), so μ_d and σ²_d are
    bit-identical on both engines — a constant dimension yields σ² of
    exactly 0.0 and is skipped by the v > 0 guard, not an epsilon. The
    per-vector sum over dimensions is an ORDER-FIXED left fold
    (aggregate over the dim-indexed term array on Spark, list_reduce
    over an i-ordered list() on DuckDB — identical addition chains),
    and the ranking happens on floor-rounded micro-units, never raw
    doubles.

    Scale: one (n·d)-row explode + d-row stats broadcast + one
    per-vector fold — no pairwise anything; TakeOrdered top-k.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("d", "x"))
    dims = (
        exploded.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
             F.sum(F.col("x") * F.col("x")).alias("s2"))
        .select(
            "d", (F.col("s") / F.col("n")).alias("m"),
            (F.col("s2") / F.col("n")
             - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")))
            .alias("v"))
    )
    stats = dims.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "m", "v"))).alias("st"))
    scored = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id", "label",
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("st"),
                    lambda x, st: F.when(
                        st["v"] > 0,
                        (x - st["m"]) * (x - st["m"]) / st["v"])
                    .otherwise(F.lit(0.0))),
                F.lit(0.0),
                lambda a, t: a + t).alias("score"),
        )
        .select("vec_id", F.col("label").cast("long").alias("label"),
                fixed(F.col("score"), 6).alias("score_e6"))
    )
    # TakeOrdered top-k first (never a global window over all vectors);
    # the rank window then runs over k rows.
    top = scored.orderBy(F.desc("score_e6"), F.asc("vec_id")).limit(20)
    w = Window.orderBy(F.desc("score_e6"), F.asc("vec_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "vec_id", "label", "score_e6")
    )


def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit of the embedding space: the distribution of
    pairwise cosine similarity over a deterministic id-adjacent pair
    sample, binned into a fixed histogram, plus the exact-integer mean
    — the "is the embedding space a narrow cone?" diagnostic
    (Ethayarajh 2019): a healthy isotropic space centers near 0, an
    anisotropic one piles up near +1 and quietly breaks every
    cosine-threshold dedup/ANN operator downstream
    (`dedup_embedding_cosine`, `semdedup_ivf`).

    Pair sampling is (vec_id, vec_id + 1) — a metadata-free equi-join
    that needs no global count or shuffle beyond the id join, unbiased
    when ids are assignment-order (uncorrelated with embedding
    content).  Exactness: each cosine is floor-rounded to e6 micro-
    units FIRST, so the histogram bin edges and the SUM (exact BIGINT,
    order-independent) agree bit-for-bit across engines — a raw
    SUM(double) of cosines would be partition-order-dependent.

    Scale: one self-join on contiguous ids (co-partitioned ranges join
    with near-zero skew), one bounded groupBy(bin), one 1-row total.
    """
    n_bins = 40
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine_similarity(F.col("a.e"), F.col("b.e"))
    # zero vectors make cosine 0/0 (NULL in Spark, NaN in DuckDB):
    # exclude zero-norm pairs on both engines — they carry no angular
    # information for an anisotropy histogram anyway
    nz = lambda c: F.aggregate(c, F.lit(0.0),
                               lambda acc, x: acc + x * x) > 0  # noqa: E731
    pairs = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .where(nz(F.col("a.e")) & nz(F.col("b.e")))
        .select(
            fixed(cos, 6).alias("cos_e6"))
    )
    binned = pairs.select(
        "cos_e6",
        F.least(
            F.floor((F.col("cos_e6") + F.lit(1000000))
                    * n_bins / F.lit(2000000)).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cos_e6").cast("long").alias("sum_cos_e6"),
    )
    tot = hist.agg(
        F.sum("n").alias("n_pairs"),
        F.expr("CAST(sum(sum_cos_e6) DIV sum(n) AS BIGINT)")
        .alias("mean_cos_e6"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select("bin", "n", "sum_cos_e6",
                F.col("n_pairs").cast("long").alias("n_pairs"),
                "mean_cos_e6")
    )


def sparse_cosine_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most similar document pairs by TF-IDF cosine — the sparse
    lexical twin of `dedup_embedding_cosine`'s dense similarity: a
    term-at-a-time postings self-join accumulates dot products only
    over SHARED terms, the classic sparse all-pairs similarity shape
    (Bayardo et al. WWW'07) that never materialises a dense pair grid.

    Exactness: TF-IDF weights (tf * ln((N+1)/(df+1)), the repo's
    `tfidf_top_terms` convention) are floor-rounded to e6 micro-units
    BEFORE pairing, so per-pair dot products and per-doc norms are
    exact BIGINT sums of BIGINT products (order-independent); the one
    double division cosine = dot / sqrt(norm1 * norm2) happens on
    engine-identical integers, floor-rounded at 6 dp.

    Scale: the df cap (drop terms with df > 200) bounds posting-list
    length — the standard stop-term guard that keeps the pair fan-out
    O(sum df_t^2) instead of corpus-quadratic; per-pair accumulation is
    map-side combined; top-k is TakeOrdered, no global sort.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(normalize_text(F.col("text"))))
        .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    weighted = scoped_persist(
        tf.join(F.broadcast(df.where(F.col("df") <= 200)), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            fixed(F.col("tf")
                  * F.log((F.col("n") + F.lit(1.0))
                          / (F.col("df") + F.lit(1.0))), 6).alias("w_e6"),
        ))
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w_e6") * F.col("w_e6")).alias("norm2"))
    a, b = weighted.alias("a"), weighted.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"),
                 F.col("b.doc_id").alias("id2"))
        .agg(
            F.sum(F.col("a.w_e6") * F.col("b.w_e6")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        )
    )
    n1 = norms.select(F.col("doc_id").alias("id1"),
                      F.col("norm2").alias("norm1"))
    n2 = norms.select(F.col("doc_id").alias("id2"),
                      F.col("norm2").alias("norm2"))
    return (
        dots.join(n1, "id1").join(n2, "id2")
        .select(
            "id1", "id2", "n_shared_terms",
            # a doc whose every surviving term has w_e6 = 0 (idf -> 0
            # when df = N) has norm 0: cosine undefined -> NULL on both
            # engines (double x/0 is NULL in Spark but inf in DuckDB)
            F.when(
                (F.col("norm1") > 0) & (F.col("norm2") > 0),
                half_up(F.col("dot").cast("double")
                        / F.sqrt(F.col("norm1").cast("double")
                                 * F.col("norm2").cast("double")), 6))
            .alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "id1", "id2")
        .limit(50)
    )


def retrieval_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space retrieval evaluation: label-match precision@5 and
    @10 of the EXACT cosine top-k for each of the first 20
    vectors — "do nearest neighbours share the query's label", the
    standard is-this-space-retrievable read (kNN classification
    accuracy) run BEFORE building any ANN index on it: if exact
    retrieval can't surface same-label neighbours, no index parameter
    tuning will.

    Exactness: candidates rank by the e6-ROUNDED cosine with vec_id
    tie-break (integer total order — no float argsort hazard), hits and
    precisions are exact integers.

    Scale: the 20-row query set broadcasts; the vector table is
    scanned once, never shuffled; per-query rank is a window over the
    broadcast-joined score rows keyed by qid (20-query-bounded
    partitions).
    """
    k = 10
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"),
        "label")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        F.col("label").alias("qlabel"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlabel",
            F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"),
            fixed(cosine_similarity(F.col("e"), F.col("qe")), 6).alias("c"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nid"))
    ranked = scored.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= k)
    return (
        ranked.groupBy("qid", "qlabel")
        .agg(
            F.sum(((F.col("r") <= 5)
                   & (F.col("nlabel") == F.col("qlabel"))).cast("long"))
            .alias("hits_at_5"),
            F.sum((F.col("nlabel") == F.col("qlabel")).cast("long"))
            .alias("hits_at_10"),
        )
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("qlabel").cast("long").alias("qlabel"),
            "hits_at_5", "hits_at_10",
            F.expr("hits_at_5 * 1000000 DIV 5").alias("p_at_5_e6"),
            F.expr(f"hits_at_10 * 1000000 DIV {k}").alias("p_at_10_e6"),
        )
    )


def embedding_quant_sqnr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension signal-to-quantization-noise audit of symmetric
    int8 quantization (the `int8_quantize` storage path): for each
    dimension, signal power, noise power of round(x/scale)*scale with
    scale = maxabs/127, and SQNR — the per-dimension read that decides
    whether one global scale or per-dim scales are needed before
    shipping a quantized embedding store (a single scale-dominating
    dimension silently crushes every other dimension's precision).

    Exactness: x is float32 -> float64 (exact); per-dim maxabs and
    scale are engine-identical; the quantized level is ``fixed(v, 0)``;
    signal/noise powers are e12-rounded per ELEMENT and summed
    as exact BIGINT (order-independent), and SQNR_db is ONE float
    expression on those integers, rounded 6 dp.

    Scale: one posexplode scan, one (dim)-keyed partial-agg exchange
    for maxabs, broadcast of the d-row scale table, one more bounded
    rollup. Never shuffles the vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "x"))
    scales = elems.groupBy("dim").agg(
        (F.max(F.abs(F.col("x"))) / F.lit(127.0)).alias("scale"))
    dq = (
        elems.join(F.broadcast(scales), "dim")
        .select(
            "dim", "x",
            F.when(F.col("scale") > 0,
                   F.greatest(F.lit(-127.0), F.least(F.lit(127.0),
                       fixed(F.col("x") / F.col("scale"), 0)))
                   * F.col("scale"))
            .otherwise(F.lit(0.0)).alias("deq"),
        )
        .select(
            "dim",
            fixed(F.col("x") * F.col("x"), 12).alias("sig_e12"),
            fixed((F.col("x") - F.col("deq")) * (F.col("x") - F.col("deq")),
                  12).alias("noise_e12"),
        )
    )
    per = dq.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sig_e12").cast("long").alias("signal_e12"),
        F.sum("noise_e12").cast("long").alias("noise_e12"),
    )
    sqnr = F.when(
        F.col("noise_e12") > 0,
        F.round(F.lit(10.0) * F.log(
            10.0, F.col("signal_e12") / F.col("noise_e12")), 6))
    return (
        per.select(F.col("dim").cast("long").alias("dim"),
                   "n", "signal_e12", "noise_e12",
                   sqnr.alias("sqnr_db"))
    )


# r8t: fixed +-1 sign matrix for the JL random-sign projection —
# derived ONCE from md5("jl:{j}:{i}") parity in Python and embedded as
# the SAME literal in the Spark expressions and the DuckDB oracle (the
# HLL_ALPHA_SCALED convention: no engine re-derives a shared constant
# with its own primitives). 16 projected dims x 64 input dims.
import hashlib as _hashlib

JL_K = 16
JL_D = 64
JL_SIGNS = [
    [1 if int(_hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest(), 16) % 2
     else -1 for i in range(JL_D)]
    for j in range(JL_K)
]


def embedding_jl_distortion_audit(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit of a 64->16 random-sign
    projection (Achlioptas 2003: +-1 entries satisfy the JL guarantee
    with E||Sx||^2 = k||x||^2) measured on the embedding corpus itself
    — the go/no-go read before swapping full vectors for a cheap
    projection in the ANN pipeline (`doc_hash_embedding` builds such
    projections; THIS measures what they cost in pairwise-distance
    fidelity, per pair, on real data instead of trusting the bound).
    For each id-adjacent embedding pair, the squared-distance ratio
    ||S(a-b)||^2 / (k * ||a-b||^2) is binned into a fixed distortion
    histogram with per-bin mean ratios.

    Exactness: components are e6-quantised to BIGINTs FIRST, so
    projections, squared distances and ratios are exact integer
    arithmetic end-to-end (sign sums ~6e7, squares ~4e15 — inside
    BIGINT; the oracle carries HUGEINT); each pair's ratio is one
    truncating micro-division. No float ever sums across elements.

    Scale: the projection is 16 zip_with/aggregate folds per row —
    JVM-side whole-stage codegen over the array column, no explode,
    no shuffle; the pair join is the id-adjacent self-join
    (embedding_anisotropy_audit's shape), and the histogram is a
    <= 7-row rollup.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.expr("transform(embedding, x ->"
                f" {fixed_sql('CAST(x AS DOUBLE)', 6)})")
    projs = [
        F.expr(
            "aggregate(zip_with(qe, array("
            + ", ".join(f"{s}L" for s in JL_SIGNS[j])
            + "), (a, s) -> a * s), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x)").alias(f"y{j}")
        for j in range(JL_K)
    ]
    v = emb.select("vec_id", qe.alias("qe"), *projs)
    a = v.alias("a")
    b = v.alias("b")
    paired = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.expr("aggregate(zip_with(a.qe, b.qe, (x, y) ->"
               " (x - y) * (x - y)), CAST(0 AS BIGINT),"
               " (acc, x) -> acc + x)").alias("d2"),
        sum(
            ((F.col(f"a.y{j}") - F.col(f"b.y{j}"))
             * (F.col(f"a.y{j}") - F.col(f"b.y{j}")))
            for j in range(JL_K)
        ).alias("p2"),
    ).where(F.col("d2") > 0)
    ratio = F.expr(f"CAST(p2 AS DECIMAL(38,0)) * 1000000"
                   f" DIV ({JL_K} * CAST(d2 AS DECIMAL(38,0)))")
    binned = paired.select(
        ratio.cast("long").alias("ratio_e6")).select(
        "ratio_e6",
        F.when(F.col("ratio_e6") < 600_000, F.lit(0))
        .when(F.col("ratio_e6") < 800_000, F.lit(1))
        .when(F.col("ratio_e6") < 950_000, F.lit(2))
        .when(F.col("ratio_e6") < 1_050_000, F.lit(3))
        .when(F.col("ratio_e6") < 1_200_000, F.lit(4))
        .when(F.col("ratio_e6") < 1_400_000, F.lit(5))
        .otherwise(F.lit(6)).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("CAST(sum(ratio_e6) DIV count(*) AS BIGINT)")
            .alias("mean_ratio_e6"),
        )
    )
