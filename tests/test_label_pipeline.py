"""EP2 invariants not covered by the DuckDB oracle cross-checks:
padding multiple and pad rows, annotated 'mark' label, randomized clips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.oracle import make_anomaly_intervals, make_events_updates
from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix
from bgp_feature_extractor_spark.plans.label_pipeline import (
    annotated_dataset,
    labeled_ratio_dataset,
    summarize_dataset,
)
from bgp_feature_extractor_spark.operators.ratios import randomized_clips
from tests.conftest import events_sdf

CFG = EngineConfig()


@pytest.fixture(scope="module")
def matrix_and_intervals(spark):
    ev = make_events_updates(n_events=2500)
    m = feature_matrix(events_sdf(spark, ev), None, CFG).cache()
    iv = spark.createDataFrame(make_anomaly_intervals(ev))
    return m, iv


def test_padding_multiple_of_32(spark, matrix_and_intervals):
    m, iv = matrix_and_intervals
    out = labeled_ratio_dataset(m, iv, CFG, pad=True)
    per = out.groupBy("source").count().collect()
    assert per and all(r["count"] % 32 == 0 for r in per)


def test_padding_repeats_last_row_without_union(spark, matrix_and_intervals):
    """Padding runs the input plan once (no self-union) and every pad row
    is a copy of its group's max-bin row."""
    m, iv = matrix_and_intervals
    padded = labeled_ratio_dataset(m, iv, CFG, pad=True)
    assert "Union" not in padded._jdf.queryExecution().executedPlan().toString()
    got = padded.toPandas()
    base = labeled_ratio_dataset(m, iv, CFG, pad=False).toPandas()
    assert set(got["source"]) == set(base["source"])
    for src, g in got.groupby("source"):
        b = base[base["source"] == src]
        assert len(g) % 32 == 0 and 0 <= len(g) - len(b) < 32
        assert sorted(g["bin"].unique()) == sorted(b["bin"])
        last = b.loc[b["bin"].idxmax()]
        copies = g[g["bin"] == last["bin"]]
        assert len(copies) == len(g) - len(b) + 1
        assert all(row.equals(last) for _, row in copies.iterrows())


def test_labels_only_inside_interval(spark, matrix_and_intervals):
    m, iv = matrix_and_intervals
    out = labeled_ratio_dataset(m, iv, CFG, pad=False)
    j = out.join(iv.select("source", "start_ts", "end_ts"), "source")
    bad = j.filter(
        (F.col("class") != 0)
        & ~F.col("timestamp2").between(F.col("start_ts"), F.col("end_ts"))
    ).count()
    assert bad == 0
    assert out.filter(F.col("class") != 0).count() > 0


def test_annotated_mark_label(spark, matrix_and_intervals):
    m, iv = matrix_and_intervals
    out = annotated_dataset(m, iv, CFG)
    marks = {r["source"]: r["mx"] for r in m.groupBy("source").agg(F.max("announcements").alias("mx")).collect()}
    got = out.filter(F.col("class") != 0).select("source", "class").distinct().collect()
    assert got and all(r["class"] == marks[r["source"]] for r in got)


def test_randomized_clips_deterministic_and_shrinking(spark, matrix_and_intervals):
    m, iv = matrix_and_intervals
    lab = labeled_ratio_dataset(m, iv, CFG, pad=False)
    one = iv.limit(1).collect()[0]
    src = lab.filter(F.col("source") == one["source"])
    clips = randomized_clips(src, one["start_ts"], one["end_ts"], n_variants=3, seed=7)
    base = src.count()
    counts = [c.count() for c in clips]
    assert all(0 < c <= base for c in counts)
    # deterministic under the same seed
    again = [c.count() for c in randomized_clips(src, one["start_ts"], one["end_ts"], n_variants=3, seed=7)]
    assert counts == again


def test_summarize_dataset_shape(spark, matrix_and_intervals):
    m, iv = matrix_and_intervals
    lab = labeled_ratio_dataset(m, iv, CFG, pad=False)
    s = summarize_dataset(lab).toPandas()
    assert {"source", "column", "mean", "median"} <= set(s.columns)
    assert len(s) > 0
