"""Vectorized rare-token kernel == dict-loop transliteration of the
reference control flow, across block boundaries (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pytest

from bgp_feature_extractor_spark.operators.rare import rare_counts_exact, rare_counts_loop


@pytest.mark.parametrize("block", [10, 37, 100])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vectorized_equals_loop(block, seed):
    rng = np.random.default_rng(seed)
    n = 557
    paths = [
        np.unique(rng.zipf(1.5, size=rng.integers(1, 12)) % 300) for _ in range(n)
    ]
    r_v, g_v = rare_counts_exact(paths, block=block, pctile=20.0)
    r_l, g_l = rare_counts_loop([list(p) for p in paths], block=block, pctile=20.0)
    np.testing.assert_array_equal(g_v, g_l)
    np.testing.assert_array_equal(r_v, r_l)


def test_empty_and_short_streams():
    r, g = rare_counts_exact([], block=10)
    assert len(r) == 0 and len(g) == 0
    paths = [np.array([1, 2])] * 5  # shorter than one block
    r, g = rare_counts_exact(paths, block=10)
    assert not g.any() and not r.any()


def test_block_mode_matches_contract_oracle(spark):
    """'block' relaxation (salted shards, thresholds frozen per shard,
    prior-shards-only): the 3-pass Spark plan equals the sequential
    pure-python contract oracle, including non-aligned shard boundaries."""
    from dataclasses import replace

    import pandas as pd

    from bgp_feature_extractor_spark.config import EngineConfig
    from bgp_feature_extractor_spark.operators.binning import (
        first_ts_per_source,
        with_bin,
    )
    from bgp_feature_extractor_spark.operators.rare import (
        rare_bin_aggregates_block,
        rare_counts_block_loop,
    )
    from bgp_feature_extractor_spark.sources.synth import synth_events

    cfg = replace(EngineConfig(), rare_block=50, rare_shard_paths=37)
    ev = synth_events(spark, 5_000, n_sources=4, entities_per_source=50, vocab=200).cache()
    binned = with_bin(ev, first_ts_per_source(ev), cfg)
    got = (
        rare_bin_aggregates_block(binned, cfg)
        .toPandas()
        .sort_values(["source", "bin"])
        .reset_index(drop=True)
    )
    pdf = binned.filter("kind = 'ann' AND tokens IS NOT NULL").select(
        "source", "bin", "ts", "seq", "tokens"
    ).toPandas()
    rows = []
    for src, g in pdf.groupby("source"):
        g = g.sort_values(["ts", "seq"])
        paths = [list(np.unique(np.asarray(t, dtype=np.int64))) for t in g["tokens"]]
        rare, gated = rare_counts_block_loop(paths, block=50, pctile=20.0, shard_paths=37)
        sub = pd.DataFrame({"bin": g["bin"].to_numpy()[gated], "rare": rare[gated]})
        a = sub.groupby("bin")["rare"].agg(["sum", "max", "mean"]).reset_index()
        a.insert(0, "source", src)
        rows.append(a)
    want = (
        pd.concat(rows)
        .rename(
            columns={
                "sum": "number_rare_ases",
                "max": "rare_ases_max",
                "mean": "rare_ases_avg",
            }
        )
        .sort_values(["source", "bin"])
        .reset_index(drop=True)
    )
    got = got[want.columns]
    assert got.shape == want.shape and got.shape[0] > 0
    assert (got["source"].values == want["source"].values).all()
    np.testing.assert_allclose(
        got.select_dtypes("number").values, want.select_dtypes("number").values
    )


@pytest.mark.parametrize("variant", ["stream"])
def test_distributed_equals_fold(spark, variant):
    """The Arrow-streaming kernel ('exact') is bit-identical to the per-bin
    values of the dict-loop fold (rare_counts_loop, the reference control
    flow transliterated) replayed per source in pandas — including empty
    token arrays, sub-block sources, and block boundaries."""
    from dataclasses import replace

    import pandas as pd

    from bgp_feature_extractor_spark.config import EngineConfig
    from bgp_feature_extractor_spark.operators.binning import (
        first_ts_per_source,
        with_bin,
    )
    from bgp_feature_extractor_spark.operators.rare import rare_bin_aggregates_stream
    from bgp_feature_extractor_spark.sources.synth import synth_events

    assert variant == "stream"  # the one reference-exact distributed kernel
    cfg = replace(EngineConfig(), rare_block=50)
    ev = synth_events(spark, 5_000, n_sources=4, entities_per_source=50, vocab=200)
    binned = with_bin(ev, first_ts_per_source(ev), cfg).cache()
    pdf = binned.filter("kind = 'ann' AND tokens IS NOT NULL").select(
        "source", "bin", "ts", "seq", "tokens"
    ).toPandas()
    rows = []
    for src, g in pdf.groupby("source"):
        g = g.sort_values(["ts", "seq"], kind="stable")
        paths = [list(dict.fromkeys(int(t) for t in toks)) for toks in g["tokens"]]
        rare, gated = rare_counts_loop(paths, block=50, pctile=20.0)
        sub = pd.DataFrame(
            {"bin": g["bin"].to_numpy()[gated], "rare": rare[gated].astype(np.int64)}
        )
        a = sub.groupby("bin")["rare"].agg(["sum", "max", "mean"]).reset_index()
        a.insert(0, "source", src)
        rows.append(a)
    key = ["source", "bin"]
    fold = (
        pd.concat(rows)
        .rename(
            columns={"sum": "number_rare_ases", "max": "rare_ases_max", "mean": "rare_ases_avg"}
        )
        .sort_values(key)
        .reset_index(drop=True)
    )
    got = rare_bin_aggregates_stream(binned, cfg).toPandas()
    got = got.sort_values(key).reset_index(drop=True)[fold.columns]
    assert fold.shape == got.shape and fold.shape[0] > 0
    assert (fold["number_rare_ases"] > 0).any()
    np.testing.assert_array_equal(fold.values, got.values)


@pytest.mark.parametrize("mode", ["block"])
def test_per_event_rebinned_equals_per_bin(spark, mode):
    """Width-independent per-event kernel: ``rare_events_block`` output,
    re-binned at a width via rare_bins_from_events, equals the block mode's
    per-bin aggregates of the events pre-binned at the same width —
    for two different widths from ONE per-event frame (the multi-width
    sharing contract)."""
    from dataclasses import replace

    import pandas as pd

    from bgp_feature_extractor_spark.config import EngineConfig
    from bgp_feature_extractor_spark.operators import rare as R
    from bgp_feature_extractor_spark.operators.binning import (
        first_ts_per_source,
        with_bin,
    )
    from bgp_feature_extractor_spark.sources.synth import synth_events

    cfg = replace(EngineConfig(), rare_block=50, rare_shard_paths=37)
    ev = synth_events(
        spark, 5_000, n_sources=4, entities_per_source=50, vocab=200
    ).cache()
    firsts = first_ts_per_source(ev)
    assert mode == "block"
    per_event = R.rare_events_block(ev, cfg)
    key = ["source", "bin"]
    for w in (1, 5):
        wcfg = replace(cfg, minutes_window=w)
        got = R.rare_bins_from_events(per_event, firsts, wcfg).toPandas()
        want = R.rare_bin_aggregates_block(with_bin(ev, firsts, wcfg), wcfg).toPandas()
        got = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
        want = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
        assert want.shape[0] > 0
        assert (want["number_rare_ases"] > 0).any()
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
