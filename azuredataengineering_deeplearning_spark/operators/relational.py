"""Projection / filter / predicate operators (SURVEY §2.2 P1-P9).

Thin, named wrappers over DataFrame expressions. They exist so every
capability of the reference is an explicit, documented API point — the
physical plan is whatever Catalyst derives (filters and projections fold
into the scan; see ``tests/test_explain_audit.py``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column select/reorder (P1; ``generate_data.py:85-93``). Doing this
    *first* lets Catalyst prune the parquet scan to exactly these columns."""
    return df.select(*columns)


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column drop (P1; ``AIO_delta_table_generator.py:33``)."""
    return df.drop(*columns)


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Predicate filter (P2; ``generate_data.py:95``). String predicates are
    parsed by Catalyst, Column predicates composed — both push down."""
    return df.filter(predicate)


def rlike_filter(
    df: DataFrame, column: str, pattern: str, negate: bool = False
) -> DataFrame:
    """Regex/contains filter, optionally negated alternation (P3;
    ``generate_data.py:110``, ``synapse_sql_pool_dynamic_scaler.py:45``)."""
    cond = F.col(column).rlike(pattern)
    return df.filter(~cond if negate else cond)


def normalize_null_sentinel(
    df: DataFrame, columns: Sequence[str], sentinel: str = "<missing>"
) -> DataFrame:
    """Sentinel→NULL normalization (P4; ``discover_schema.py:13``)."""
    exprs = {
        c: F.when(F.col(c) == F.lit(sentinel), F.lit(None)).otherwise(F.col(c))
        for c in columns
    }
    return df.withColumns(exprs)


def denormalize_null_sentinel(
    df: DataFrame, columns: Sequence[str], sentinel: str = "<missing>"
) -> DataFrame:
    """NULL→sentinel (inverse of P4; ``generate_data.py:420`` fillna)."""
    return df.fillna(sentinel, subset=list(columns))


def conditional_column(
    df: DataFrame,
    name: str,
    branches: Sequence[tuple[Column, Column]],
    otherwise: Column | None = None,
) -> DataFrame:
    """CASE WHEN chain as data (P5; ``apply_scd2.py:21-27``)."""
    expr: Column | None = None
    for cond, value in branches:
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    if expr is None:
        raise ValueError("conditional_column needs at least one branch")
    if otherwise is not None:
        expr = expr.otherwise(otherwise)
    return df.withColumn(name, expr)


def fill_null(
    df: DataFrame,
    value,
    subset: Sequence[str] | None = None,
) -> DataFrame:
    """fillna: constant / subset / per-column dict (P6;
    ``count_target_onehot_encoder_spark.py:128``)."""
    if isinstance(value, Mapping):
        return df.fillna(dict(value))
    return df.fillna(value, subset=list(subset) if subset else None)


def clip(
    df: DataFrame,
    column: str,
    lower: float | None = None,
    upper: float | None = None,
    out: str | None = None,
) -> DataFrame:
    """Clamp to [lower, upper] (P9; ``stats_forecast_predict.py:549-552``)."""
    expr = F.col(column)
    if lower is not None:
        expr = F.greatest(expr, F.lit(lower))
    if upper is not None:
        expr = F.least(expr, F.lit(upper))
    return df.withColumn(out or column, expr)


def widen_narrow_input(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan produced fewer
    partitions than the cluster has slots, so downstream CPU-heavy
    per-row work (n-gram construction, UDF batches, regex pipelines)
    parallelizes. A few small single-row-group parquet files otherwise
    pin an entire stage to one task regardless of
    ``spark.sql.files.maxPartitionBytes`` (row groups are the minimum
    split unit). No-op on well-split inputs — at lake scale a 100 TB
    scan already has thousands of splits, so the shuffle only triggers
    on the narrow-input degenerate case it defends against."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def winsorize(
    df: DataFrame,
    keys,
    value: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out: str | None = None,
) -> DataFrame:
    """Winsorization: clamp a measure to its per-group exact
    [``lower``, ``upper``] percentiles — the robust-preprocessing
    sibling of :func:`clip` (whose bounds are constants). One exact-
    percentile aggregate per group + one broadcast-friendly join +
    a map-side clamp."""
    from pyspark.sql import functions as F

    kk = list(keys)
    bounds = df.groupBy(*kk).agg(
        F.expr(f"percentile({value}, {lower})").alias("__lo"),
        F.expr(f"percentile({value}, {upper})").alias("__hi"),
    )
    clamped = F.least(F.greatest(F.col(value), F.col("__lo")), F.col("__hi"))
    return (
        df.join(bounds, kk)
        .withColumn(out or f"{value}_wins", clamped)
        .drop("__lo", "__hi")
    )
