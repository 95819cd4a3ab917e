"""The Python UDF surface (SURVEY.md §2.EXT, 'UDF surface' row): one
query per UDF flavor, each oracle-checkable so the driver verifies the
Arrow exchange end-to-end, not just that the API exists.

Performance doctrine (repo-wide): built-in JVM expressions first; when
Python is unavoidable, Arrow-batched pandas UDFs (~10-100x row-at-a-time
Python UDFs); `applyInPandas` for per-group logic that doesn't fit the
aggregate/window algebra. The row-at-a-time `F.udf` entry exists to
cover the API surface and is deliberately pointed at the smallest table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.sources.tables import load_table


def udf_pandas_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched): L2 norm of each embedding.

    The UDF receives a pandas Series of numpy arrays per Arrow batch —
    one Python call per ~10k rows, all math vectorised in numpy. The
    equivalent built-in (`aggregate`/`sqrt`) exists; this entry pins the
    Arrow path itself.
    """
    import numpy as np

    @F.pandas_udf("double")
    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.map(lambda v: float(np.sqrt(np.dot(v, v))))

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm"))
    )


def udf_grouped_agg_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: trimmed mean (drop min+max) of order
    totals per status — an aggregate the built-in algebra doesn't have."""

    @F.pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        if len(v) <= 2:
            return float(v.mean())
        return float((v.sum() - v.min() - v.max()) / (len(v) - 2))

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.round(trimmed_mean("o_totalprice"), 4).alias("trimmed_avg_price"))
    )


def udf_apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas: per-user z-score of event values.

    Each group arrives as one pandas DataFrame (shuffle on user_id —
    same exchange a window would need); ddof=1 matches stddev_samp.
    Groups with zero variance (or a single row) emit z=0 so the output
    is total and deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        if pd.isna(std) or std == 0.0:
            z = pd.Series(0.0, index=pdf.index)
        else:
            z = (pdf["value"] - mean) / std
        return pd.DataFrame({
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "zscore": z.round(6),
        })

    return (
        ev.groupBy("user_id")
        .applyInPandas(zscore, "user_id long, event_id long, zscore double")
    )


def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (API-surface coverage; the slow path —
    see module docstring). Deterministic digit-sum checksum per part key,
    on the smallest fact table."""

    @F.udf("long")
    def digit_sum(key: int) -> int:
        return sum(int(d) for d in str(key))

    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", digit_sum("p_partkey").alias("key_digit_sum"))
    )


def arrow_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: L2-normalise embeddings at the Arrow
    RecordBatch level — one step lower than pandas (no pandas
    conversion cost, columnar in/out), the right API when the kernel is
    already vectorised and the pandas layer only adds copies.

    Output is the per-vector audit (norm before, first component
    after), rounded for engine portability — the DuckDB oracle
    recomputes with list arithmetic, so this Arrow kernel is
    hash-checked like any JVM operator.
    """
    import pyarrow as pa

    from hadoop_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def normalize(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = tbl.column("embedding").to_pylist()
            import math

            norms, first = [], []
            for v in vecs:
                n = math.sqrt(sum(float(x) * float(x) for x in v))
                norms.append(n)
                first.append(float(v[0]) / n if n else 0.0)
            yield pa.record_batch(
                [tbl.column("vec_id").combine_chunks(),
                 pa.array(norms, pa.float64()),
                 pa.array(first, pa.float64())],
                names=["vec_id", "l2norm", "first_component"],
            )

    out = emb.select("vec_id", "embedding").mapInArrow(
        normalize, "vec_id long, l2norm double, first_component double")
    return out.select(
        "vec_id",
        F.round("l2norm", 4).alias("l2norm"),
        F.round("first_component", 6).alias("first_component"),
    )
