"""Window extensions over the per-bin matrix / event streams (SURVEY.md §2.7).

W5 rolling k-bin stats and W6 sessionization are the north_star's engine
generalizations of the reference's within-bin statistics. All frames are
strictly prior (rowsBetween(-k, -1)) => zero temporal leakage by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rolling_bin_stats(
    matrix: DataFrame,
    value_cols: list[str],
    k: int,
    entity_cols: tuple[str, ...] = ("source",),
    order_col: str = "bin",
) -> DataFrame:
    """Rolling mean/std/max over the k PRIOR bins (never the current one)."""
    w = (
        Window.partitionBy(*entity_cols)
        .orderBy(order_col)
        .rowsBetween(-k, -1)
    )
    stats = (("mean", F.avg), ("std", F.stddev_samp), ("max", F.max))
    # one select: each chained withColumn would re-analyse the whole plan
    return matrix.select(
        "*",
        *[fn(c).over(w).alias(f"{c}_roll_{name}") for c in value_cols for name, fn in stats],
    )


def lag_lead(
    df: DataFrame,
    cols: list[str],
    entity_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    n: int = 1,
) -> DataFrame:
    w = Window.partitionBy(*entity_cols).orderBy(*order_cols)
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_lag{n}", F.lag(c, n).over(w)).withColumn(
            f"{c}_lead{n}", F.lead(c, n).over(w)
        )
    return out


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch sessionization: new session when inactivity gap > threshold.
    lag(ts) -> gap flag -> cumulative sum = per-entity session index.
    (Streaming twin: session_window(ts, gap) in streaming/stream_features.)"""
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(
    df: DataFrame, entity_col: str, ts_col: str, gap_seconds: int
) -> DataFrame:
    """Per-session aggregate: bounds, duration, event count."""
    s = sessionize(df, entity_col, ts_col, gap_seconds)
    return s.groupBy(entity_col, "session_id").agg(
        F.min(F.col(ts_col).cast("long")).alias("session_start"),
        F.max(F.col(ts_col).cast("long")).alias("session_end"),
        (F.max(F.col(ts_col).cast("long")) - F.min(F.col(ts_col).cast("long"))).alias(
            "duration_s"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
