"""Streaming twins vs the batch engine on the same static input."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.oracle import make_events_updates
from bgp_feature_extractor_spark.operators.asof import classify_window
from bgp_feature_extractor_spark.operators.windows import session_stats
from bgp_feature_extractor_spark.streaming.stream_features import (
    read_event_stream,
    run_to_memory,
    stream_bin_counts,
    stream_classify,
    stream_sessions,
)
from tests.conftest import events_sdf

CFG = EngineConfig()


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    ev = make_events_updates(n_events=1200, n_sources=4)
    path = str(tmp_path_factory.mktemp("stream") / "events")
    events_sdf(spark, ev).repartition(4).write.parquet(path)
    return ev, path


def test_stream_classify_matches_batch(spark, staged):
    ev, path = staged
    got = run_to_memory(stream_classify(read_event_stream(spark, path), CFG), "cls_out")
    got_counts = {}
    for r in got:
        got_counts[r["cls"]] = got_counts.get(r["cls"], 0) + 1
    want = {
        r["cls"]: r["n"]
        for r in classify_window(events_sdf(spark, ev), None, CFG)
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got_counts == want


def test_stream_bin_counts_totals(spark, staged):
    ev, path = staged
    # complete mode: append would hold back windows above the final
    # watermark, which never close on a finite static input
    rows = run_to_memory(
        stream_bin_counts(read_event_stream(spark, path), CFG), "bins_out", "complete"
    )
    total_ann = sum(r["announcements"] for r in rows)
    assert total_ann == (ev["kind"] == "ann").sum()


def test_stream_sessions_runs(spark, staged):
    _, path = staged
    rows = run_to_memory(
        stream_sessions(read_event_stream(spark, path)), "sess_out", "complete"
    )
    assert sum(r["n_events"] for r in rows) > 0


def test_stream_sessions_match_batch(spark, tmp_path):
    """session_window(gap) and the batch sessionizer agree on every
    session's event count. Gaps of 1799 s and exactly 1800 s stay in one
    session, 1802 s starts a new one, and a repeated timestamp is two
    events of the same session."""
    rows = []
    for source, starts in {"a": [0], "b": [0, 10_000], "c": [0, 10_000, 20_000]}.items():
        for t0 in starts:
            # offsets 0, 1799, 3599 (gap 1800), 3599 again (duplicate)
            for k, off in enumerate([0, 1799, 3599, 3599]):
                rows.append((source, t0 + off, k))
    # one extra session on "a": 1802 s after its last event
    rows.append(("a", 3599 + 1802, 9))
    pdf = pd.DataFrame(rows, columns=["source", "ts", "seq"])
    ev = pdf.assign(doc_id="e0", kind="ann", tokens=None, origin=None, attrs_sig=None)
    path = str(tmp_path / "sessions")
    events_sdf(spark, ev).repartition(2).write.parquet(path)

    got = run_to_memory(
        stream_sessions(read_event_stream(spark, path), gap="30 minutes"),
        "sess_out",
        "complete",
    )
    want = session_stats(spark.read.parquet(path), "source", "ts", 1800).collect()

    def key(rs):
        return sorted((r["source"], r["n_events"]) for r in rs)

    assert key(got) == key(want)
    assert len(want) > 3, "fixture must give some source several sessions"
