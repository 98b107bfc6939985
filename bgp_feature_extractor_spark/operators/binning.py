"""Event-time binning + dense bin spine (SURVEY.md §2.7 W1/W2).

Reference semantics: ``bin = (ts - first_ts) // bin_size`` with first_ts the
timestamp of the first event (bgpmetrics_as.py:279-280,352,365-366 — bins
are data-anchored, not epoch-aligned), and a dense 0..last_bin spine with
zero fill (bgpmetrics_as.py:776-819; feature-extractor.py:71).

Scale: first_ts is a per-source scalar — computed with one tiny aggregate
and joined back with an explicit broadcast, so adding the bin column costs
no shuffle on the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig


def first_ts_per_source(events: DataFrame) -> DataFrame:
    """Q4 anchor: min event ts per source (== first message of first file
    under the reference's chronological file order). Also carries max ts so
    the dense spine can be derived WITHOUT re-executing the fact pipeline
    (bin is monotone in ts, so max_bin = (max_ts - first_ts) // bin_size),
    and the per-source row count that LPT-packs the exact rare kernel
    (operators/packing.py)."""
    return events.groupBy("source").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _bin_size(df: DataFrame, cfg: EngineConfig) -> Column:
    """Bin width in seconds: the rows' own ``minutes_window`` when they carry
    one (the width-as-data plan's rows, one per width), else ``cfg``'s."""
    if "minutes_window" in df.columns:
        return (F.col("minutes_window") * F.lit(60)).cast("long")
    return F.lit(cfg.bin_size)


def with_bin(
    df: DataFrame, firsts: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    cfg = cfg or EngineConfig()
    if "bin" in df.columns:
        # replace semantics (ADVICE r3: the appending select would
        # otherwise produce a duplicate, ambiguous 'bin' column)
        df = df.drop("bin")
    if "first_ts" in df.columns:
        # anchor already carried on the rows (the feature-matrix plan joins
        # it once, before the widths are exploded) — binning is a pure
        # projection, no join per width (guide §2.4: remove shuffles/joins
        # outright)
        joined = df
    else:
        joined = df.join(F.broadcast(firsts.select("source", "first_ts")), "source")
    return joined.select(
        *[c for c in joined.columns if c != "first_ts"],
        ((F.col("ts") - F.col("first_ts")) / _bin_size(joined, cfg)).cast("long").alias("bin"),
    )


def dense_spine(
    per_bin: DataFrame,
    firsts: DataFrame,
    cfg: EngineConfig | None = None,
    keys: tuple[str, ...] = ("source", "bin"),
) -> DataFrame:
    """Left-join the aggregated matrix onto the full 0..max_bin spine and
    zero-fill, then reconstruct timestamps (bgpmetrics_as.py:771-772).

    The spine comes from the tiny per-source (first_ts, last_ts) aggregate,
    NOT from per_bin — deriving max(bin) from per_bin would re-execute the
    whole classify/rare/UDF/agg pipeline a second time (verified via
    .explain: 28 exchanges before, half after). When ``firsts`` carries a
    ``minutes_window`` column (one row per width and source), each row's
    spine is cut at that width and ``keys`` must include it."""
    cfg = cfg or EngineConfig()
    bsz = _bin_size(firsts, cfg)
    # first_ts rides ON the spine rows (the spine IS derived from firsts),
    # so the timestamp reconstruction at the tail needs no second broadcast
    # join back to firsts — one join per width instead of two (guide §2.4)
    spine = firsts.select(
        *[k for k in keys if k != "bin"],
        "first_ts",
        F.explode(
            F.sequence(F.lit(0), ((F.col("last_ts") - F.col("first_ts")) / bsz).cast("long"))
        ).alias("bin"),
    )
    float_cols = {"edit_distance_avg", "rare_ases_avg"}
    value_cols = [c for c in per_bin.columns if c not in keys]
    out = spine.join(per_bin, list(keys), "left")
    out = out.na.fill(0, [c for c in value_cols if c not in float_cols])
    out = out.na.fill(0.0, list(float_cols & set(value_cols)))
    ts2 = F.col("first_ts") + F.col("bin") * bsz
    out = out.drop("timestamp2", "timestamp")  # replace, never duplicate
    return out.select(
        *[c for c in out.columns if c != "first_ts"],
        ts2.alias("timestamp2"),
        F.timestamp_seconds(ts2).alias("timestamp"),
    )
