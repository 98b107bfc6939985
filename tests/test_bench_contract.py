"""What the benchmark (perfbench/) uses of the engine: its imports, the
default rare mode its traced replay dispatches on, the layer-by-layer
replay of feature_matrix, and multi_width_matrices' cache list."""

from __future__ import annotations

import os
import sys

import pytest

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.operators.rare import resolve_rare_mode
from bgp_feature_extractor_spark.plans.feature_matrix import (
    feature_matrix,
    multi_width_matrices,
)
from bgp_feature_extractor_spark.sources.synth import synth_events

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, PERFBENCH)
    try:
        import tracing
        import workloads

        yield workloads, tracing
    finally:
        sys.path.remove(PERFBENCH)


def test_default_rare_mode_is_a_replayed_kernel(workloads):
    sizes = [("src0", 10), ("src1", 5_000_000_000)]
    assert resolve_rare_mode(EngineConfig(), sizes) == "exact"


def test_traced_replay_equals_feature_matrix(spark, workloads):
    wl, tracing = workloads
    ev = synth_events(spark, 2_000, n_sources=4).cache()
    counts, matrix, frames = wl._layers_feature_matrix(tracing.Tracer(spark), ev)
    assert counts["rare_mode"] == "exact"
    keys = ["source", "bin"]
    got = matrix.toPandas().sort_values(keys).reset_index(drop=True)
    want = feature_matrix(ev, None, wl.CFG).toPandas().sort_values(keys).reset_index(drop=True)
    assert got.equals(want[got.columns])
    for df in [ev, *frames]:
        df.unpersist()


def test_multi_width_caches_contract(spark, workloads):
    """The multi-width workload's trace reads caches[0] as the per-source
    stats and caches[1] as the classified rows with edit distances."""
    wl, _ = workloads
    ev = synth_events(spark, 1_000, n_sources=3)
    caches: list = []
    multi_width_matrices(ev, None, wl.CFG, caches=caches)
    assert len(caches) == 3
    assert "n_rows" in caches[0].columns
    assert "edit_dist" in caches[1].columns and caches[1].count() == 1_000
    for c in caches:
        c.unpersist()
