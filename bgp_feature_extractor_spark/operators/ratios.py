"""Ratio features, schema fix-up, batch padding, randomized clips
(reference label_csv.py; SURVEY §2.3 P6/P7, §2.10 R1/R2).

Quirk Q9: pandas produces inf for x/0 (replaced by 0 immediately) and NaN
for 0/0 (zeroed by the later global fillna). Both end up 0, so the engine
uses coalesce(num/den, 0) — Spark division by zero yields NULL — which is
value-identical on every exported row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (name, numerator expr builder, denominator expr builder) — label_csv.py:63-96
RATIO_DEFS: list[tuple[str, str, str]] = [
    ("ratio_ann", "announcements", "withdrawals + announcements"),
    ("ratio_wd", "withdrawals", "withdrawals + announcements"),
    ("ratio_origin0", "origin_0", "origin_0 + origin_1 + origin_2"),
    ("ratio_origin1", "origin_1", "origin_0 + origin_1 + origin_2"),
    ("ratio_origin2", "origin_2", "origin_0 + origin_1 + origin_2"),
    ("ratio_dups", "dups", "announcements"),
    ("ratio_flaps", "flaps", "announcements"),
    ("ratio_imp_wd", "imp_wd", "announcements"),
    ("ratio_nadas", "nadas", "announcements"),
    ("ratio_news", "news", "announcements"),
    ("ratio_longer", "ann_to_longer", "announcements"),
    ("ratio_shorter", "ann_to_shorter", "announcements"),
    ("ratio_longer2", "ann_to_longer", "ann_to_longer + ann_to_shorter"),
    ("ratio_shorter2", "ann_to_shorter", "ann_to_longer + ann_to_shorter"),
    ("ratio_imp_wd2", "imp_wd", "imp_wd + withdrawals"),
    ("ratio_exp_wd", "withdrawals", "imp_wd + withdrawals"),
    ("ratio_wd_dups", "wd_dups", "withdrawals"),
    ("ratio_imp_wd_dpath", "imp_wd_dpath", "imp_wd"),
    ("ratio_imp_wd_spath", "imp_wd_spath", "imp_wd"),
]


def add_ratio_columns(df: DataFrame) -> DataFrame:
    cols = [df[c] for c in df.columns]
    # try_divide: NULL on zero denominator (ANSI-safe), zeroed like the
    # reference's inf/NaN -> 0 (quirk Q9)
    extra = [
        F.coalesce(F.try_divide(F.expr(num), F.expr(den)), F.lit(0.0)).alias(name)
        for name, num, den in RATIO_DEFS
    ]
    return df.select(*cols, *extra)


def drop_edit_distance_columns(df: DataFrame) -> DataFrame:
    """label_csv.py:11-30: ratio datasets drop the pivot dict families."""
    drops = [c for c in df.columns if c.startswith("edit_distance_dict_") or c.startswith("edit_distance_unique_dict_")]
    return df.drop(*drops)


def pad_to_batch_size(
    df: DataFrame,
    batch_size: int = 32,
    partition_cols: tuple[str, ...] = ("source",),
    order_col: str = "bin",
) -> DataFrame:
    """Repeat the last row until count % batch_size == 0
    (label_csv.py:98-104), per partition group.

    One pass over ``df``: each group's last row carries its number of
    copies and is exploded, so the input plan runs once (a union of the
    rows with their pads would run it twice)."""
    w = Window.partitionBy(*partition_cols)
    last = F.row_number().over(w.orderBy(F.desc(order_col))) == 1
    # Spark % keeps the dividend's sign, so use the explicit form
    short = (F.lit(batch_size) - F.count(F.lit(1)).over(w) % batch_size) % batch_size
    sized = df.select("*", F.when(last, short).otherwise(0).alias("_copies"))
    # a generator over window expressions in one select fails analysis
    return sized.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("_copies"))).alias("_copy")
    ).drop("_copies", "_copy")


def randomized_clips(
    df: DataFrame,
    start_ts: int,
    end_ts: int,
    n_variants: int = 5,
    seed: int = 42,
    margin: int = 10,
    partition_col: str = "source",
    order_col: str = "bin",
) -> list[DataFrame]:
    """Seeded re-implementation of label_csv.py:209-222: clip a random
    amount of the before/after context around the anomaly interval."""
    import random as _random

    rng = _random.Random(seed)
    w = Window.partitionBy(partition_col).orderBy(order_col)
    idxed = df.withColumn("_idx", F.row_number().over(w) - 1).withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy(partition_col))
    )
    before = F.sum(F.when(F.col("timestamp2") < start_ts, 1).otherwise(0)).over(
        Window.partitionBy(partition_col)
    )
    after = F.sum(F.when(F.col("timestamp2") > end_ts, 1).otherwise(0)).over(
        Window.partitionBy(partition_col)
    )
    idxed = idxed.withColumn("_before", before).withColumn("_after", after)
    out = []
    for _ in range(n_variants):
        lo_frac, hi_frac = rng.random(), rng.random()
        clipped = idxed.filter(
            (F.col("_idx") >= (F.col("_before") - margin).cast("double") * lo_frac)
            & (
                F.col("_idx")
                < F.least(
                    F.col("_cnt"),
                    (F.col("_cnt") - F.col("_after")).cast("double")
                    + hi_frac * (F.col("_after") + margin),
                )
            )
        )
        out.append(clipped.drop("_idx", "_cnt", "_before", "_after"))
    return out
