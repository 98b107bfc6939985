#!/usr/bin/env python
"""Per-stage wall-clock profile of the feature-matrix pipeline.

Usage: python scripts/profile_stages.py [cpus] [rows] [hot_pct]

Each cumulative prefix of the pipeline is warmed once then timed twice with
the noop sink (min reported); the per-stage DELTA between consecutive
prefixes attributes wall-clock to the stage. Emits ONE JSON line and appends
it to .bench-cache/stage_profiles.jsonl with the loadavg seen, so quiet-
window runs are distinguishable from polluted ones.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
from bgp_feature_extractor_spark.operators.aggregates import aggregate_bins
from bgp_feature_extractor_spark.operators.asof import classify_window
from bgp_feature_extractor_spark.operators.binning import (
    dense_spine,
    first_ts_per_source,
    with_bin,
)
from bgp_feature_extractor_spark.operators.rare import join_rare, rare_bin_aggregates_stream
from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix
from bgp_feature_extractor_spark.session import get_spark
from bgp_feature_extractor_spark.sources.synth import synth_events


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    hot = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    n_sources = int(sys.argv[4]) if len(sys.argv) > 4 else 20
    ts_scale = int(sys.argv[5]) if len(sys.argv) > 5 else 1
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/root/repo/.bench-cache")
    os.makedirs(cache, exist_ok=True)
    suffix = "" if hot == 40 else f"_hot{hot}"
    if n_sources != 20:
        suffix += f"_s{n_sources}"
    if ts_scale != 1:
        suffix += f"_t{ts_scale}"
    # legacy 4-file layout, deliberately (see scaling_bench.py: the r4
    # 64-file experiment sped the scan 2.5x but slowed the whole job --
    # map-side combine density + branch overlap; kept for cross-round
    # comparability)
    path = f"{cache}/bench_events_{rows}{suffix}.parquet"
    if not os.path.isdir(path):
        synth_events(spark, rows, hot_pct=hot, n_sources=n_sources, ts_scale=ts_scale).write.mode(
            "overwrite"
        ).parquet(path)
    ev = spark.read.parquet(path)
    cfg = EngineConfig()

    stages: dict[str, float] = {}
    loads: list[float] = []

    def timed(name, df):
        force(df)
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            force(df)
            ts.append(time.perf_counter() - t0)
        stages[name] = round(min(ts), 2)
        loads.append(float(open("/proc/loadavg").read().split()[0]))
        print(f"cpus={cpus} {name}: {stages[name]}s load={loads[-1]}", file=sys.stderr, flush=True)

    firsts = first_ts_per_source(ev).cache()
    timed("scan_only", ev)
    cl = classify_window(ev, None, cfg)
    timed("classify", cl)
    binned = with_bin(cl, firsts, cfg)
    dist = with_edit_distance(binned, "tokens", "prev_tokens").drop("prev_tokens")
    timed("classify+bin+editdist", dist)
    raw_binned = with_bin(ev, firsts, cfg)
    # production path: LPT-packed placement from the per-source stats (a
    # bare call would fall back to repartitionByRange, whose sampling pass
    # re-executes the child — NOT the shape feature_matrix runs)
    sizes = [
        (r["source"], int(r["n_rows"]))
        for r in firsts.select("source", "n_rows").collect()
    ]
    timed("rare_stream(alone)", rare_bin_aggregates_stream(raw_binned, cfg, sizes=sizes))
    agg = aggregate_bins(dist, cfg, slim=raw_binned)
    timed("classify..+split_agg", agg)
    per_bin = join_rare(agg, rare_bin_aggregates_stream(raw_binned, cfg, sizes=sizes))
    timed("+rare_join", per_bin)
    timed("+spine(full_decomposed)", dense_spine(per_bin, firsts, cfg))
    timed("feature_matrix(whole)", feature_matrix(ev, None, cfg))

    rec = {
        "cpus": cpus,
        "rows": rows,
        "hot_pct": hot,
        "n_sources": n_sources, "ts_scale": ts_scale,
        "stages": stages,
        "loads": [round(x, 2) for x in loads],
        "max_load": round(max(loads), 2),
    }
    line = json.dumps(rec)
    print(line)
    with open(f"{cache}/stage_profiles.jsonl", "a") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
