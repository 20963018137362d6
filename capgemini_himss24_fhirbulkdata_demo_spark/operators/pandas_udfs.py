"""Arrow-vectorized Pandas UDF alternatives for the hot numeric paths
(SURVEY §2B UDF row: scalar + grouped-agg pandas_udf).

The engine's default similarity path is pure built-ins (codegen'd
folds — operators/similarity.py); these UDFs are the escape hatch for
semantics the built-ins can't express (learned scorers, numpy-only
kernels) and the benchmark twin proving the Arrow path's overhead
profile. Never row-at-a-time Python UDFs (SURVEY §4.3.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def cosine_to_query_udf(query_vec: list[float]):
    """Scalar pandas_udf: cosine of each row's embedding against one
    fixed query vector (numpy-batched; the query is closure-captured
    — i.e. broadcast into the Arrow worker once per batch)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def _cos(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())  # (batch, dim) float32
        m = m.astype(np.float64)
        dots = m @ q
        norms = np.linalg.norm(m, axis=1) * qn
        return pd.Series(dots / norms)

    return _cos


def vector_norm_udf():
    """Factory (not a module-level UDF: ``@pandas_udf`` needs an
    active SparkSession, so decorating at import time breaks any
    import that precedes session creation)."""

    @pandas_udf("double")
    def _norm(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        return pd.Series(np.linalg.norm(m, axis=1))

    return _norm


def centroid_per_group(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Grouped-agg pandas_udf: per-group embedding centroid — the
    IVF-index build step (coarse quantizer training input)."""

    @pandas_udf("array<double>")
    def _centroid(emb: pd.Series) -> list[float]:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        return m.mean(axis=0).tolist()

    return df.groupBy(group_col).agg(_centroid(F.col(vec_col)).alias("centroid"))


def zscore_per_group(
    df: DataFrame, group_col: str, value_col: str, out_col: str = "zscore"
) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization —
    the feature-normalization shape (whole group materialized as one
    pandas frame, numpy-vectorized, returned with an added column).

    Completes the UDF surface (SURVEY §2B UDF row): scalar pandas_udf,
    grouped-agg pandas_udf, mapInPandas, and this grouped-map
    applyInPandas.

    Scale: one shuffle on ``group_col``; each group must fit in one
    executor's memory (the applyInPandas contract) — for unbounded
    groups use the two-pass join form (groupBy stats + broadcast join)
    instead.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].to_numpy(dtype=np.float64)
        sd = v.std(ddof=1) if len(v) > 1 else 0.0
        z = (v - v.mean()) / sd if sd > 0 else np.zeros_like(v)
        return pdf.assign(**{out_col: z})

    return df.groupBy(group_col).applyInPandas(fn, out_schema)


def trimmed_mean_udf():
    """Grouped-agg pandas_udf (UDAF surface): decile-trimmed mean —
    sort the group, drop the bottom and top n//10 values, one final
    rounded double division. Integer sums stay exact in int64, so the
    result is bit-stable across engines and partitionings (Spark
    feeds each group to the kernel whole, order-independent after the
    sort)."""

    @pandas_udf("double")
    def _tmean(v: pd.Series) -> float:
        s = v.sort_values().reset_index(drop=True)
        lo = len(s) // 10
        kept = s.iloc[lo : len(s) - lo]
        return float(round(int(kept.sum()) / len(kept), 4))

    return _tmean
