"""Focused equivalence tests for the round-6 optimization rewrites:
each one asserts the optimized path is value-identical to the reference
shape it replaced (the bench must get faster, never different)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_with_bin_carried_anchor_fast_path(spark):
    """with_bin over a frame that already carries first_ts (the multi-width
    persisted-cache shape) must equal the joined path bin-for-bin."""
    from bgp_feature_extractor_spark.config import EngineConfig
    from bgp_feature_extractor_spark.operators.binning import (
        first_ts_per_source,
        with_bin,
    )

    ev = spark.createDataFrame(
        [("s%d" % (i % 3), i * 37, i) for i in range(200)],
        "source string, ts long, seq long",
    )
    cfg = EngineConfig(minutes_window=5)
    firsts = first_ts_per_source(ev)
    joined_path = with_bin(ev, firsts, cfg).select("source", "seq", "bin")
    carried = ev.join(firsts.select("source", "first_ts"), "source")
    fast_path = with_bin(carried, firsts, cfg).select("source", "seq", "bin")
    assert "first_ts" not in fast_path.columns
    got = sorted(map(tuple, fast_path.collect()))
    want = sorted(map(tuple, joined_path.collect()))
    assert got == want


def test_multi_width_exploded_equals_per_width_loop(spark):
    """The widths-as-data matrix must be row-identical to six independent
    single-width feature_matrix runs stacked with a width column."""
    import dataclasses

    from bgp_feature_extractor_spark.config import EngineConfig, golden_columns
    from bgp_feature_extractor_spark.plans.feature_matrix import (
        feature_matrix,
        multi_width_matrices,
    )
    from bgp_feature_extractor_spark.sources.synth import synth_events

    ev = synth_events(spark, 4000, n_sources=4, ts_scale=10)
    cfg = EngineConfig(minutes_window=1)
    widths = (1, 5, 15)
    caches: list = []
    got = multi_width_matrices(ev, None, cfg, widths=widths, caches=caches).drop(
        "timestamp"
    )
    ref = None
    for w in widths:
        wcfg = dataclasses.replace(cfg, minutes_window=w)
        m = feature_matrix(ev, None, wcfg).select(
            F.lit(int(w)).alias("minutes_window"), "source", "bin", *golden_columns(wcfg)
        ).drop("timestamp")
        ref = m if ref is None else ref.unionByName(m)
    cols = got.columns
    assert sorted(cols) == sorted(ref.columns)
    g = sorted(map(tuple, got.select(*cols).collect()))
    r = sorted(map(tuple, ref.select(*cols).collect()))
    assert g == r
    for c in caches:
        c.unpersist()
