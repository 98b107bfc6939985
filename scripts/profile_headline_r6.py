#!/usr/bin/env python
"""Load-gated decomposition of the headline feature_matrix at 1M rows.

Waits for loadavg < GATE before each timing (the sandbox suffers host-level
contention waves), times each sub-plan with the noop sink (min of 2), and
prints one JSON line. Sub-plans:

  classify            window classification only
  editdist            classify + bin + Arrow Levenshtein
  main_agg            the ~110-column codegen HashAggregate over dist
  fold_stats          fold_bin_aggregates' stats pass alone
  fold_full           full fold_bin_aggregates (3 aggs + joins)
  rare_alone          rare_bin_aggregates_stream
  agg_full            aggregate_bins(dist, slim=raw_binned)
  whole               feature_matrix end to end
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
from bgp_feature_extractor_spark.operators.aggregates import (
    _main_aggs,
    aggregate_bins,
    fold_bin_aggregates,
)
from bgp_feature_extractor_spark.operators.asof import classify_window
from bgp_feature_extractor_spark.operators.binning import first_ts_per_source, with_bin
from bgp_feature_extractor_spark.operators.rare import rare_bin_aggregates_stream
from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix
from bgp_feature_extractor_spark.session import get_spark

GATE = float(os.environ.get("R6_LOAD_GATE", "3.0"))


def wait_quiet():
    for _ in range(600):
        if os.getloadavg()[0] < GATE:
            return
        time.sleep(5)


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/root/repo/.bench-cache")
    ev = spark.read.parquet(f"{cache}/bench_events_1000000.parquet")
    cfg = EngineConfig(minutes_window=1)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    loads = {}

    def timed(name, df, reps=2):
        force(df)  # warm
        best = 1e9
        for _ in range(reps):
            wait_quiet()
            t0 = time.perf_counter()
            force(df)
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)
        loads[name] = round(os.getloadavg()[0], 1)
        print(f"{name}: {out[name]}s load={loads[name]}", file=sys.stderr, flush=True)

    firsts = first_ts_per_source(ev).cache()
    sizes = [
        (r["source"], int(r["n_rows"])) for r in firsts.select("source", "n_rows").collect()
    ]
    cl = classify_window(ev, None, cfg)
    timed("classify", cl)
    binned = with_bin(cl, firsts, cfg)
    dist = with_edit_distance(binned, "tokens", "prev_tokens").drop("prev_tokens")
    timed("editdist", dist)
    raw_binned = with_bin(ev, firsts, cfg)
    timed("main_agg", dist.groupBy("source", "bin").agg(*_main_aggs(cfg)))
    is_ann = F.col("kind") == "ann"
    slim = raw_binned.select(
        "source", "bin", "kind", "doc_id", "ts", "seq",
        F.size("tokens").alias("n_tok"),
        F.size(F.array_distinct("tokens")).alias("uniq_len"),
    )
    timed("fold_stats", slim.groupBy("source", "bin").agg(
        F.count(F.when(is_ann, 1)).alias("n_ann"),
        F.max(F.when(is_ann, F.col("n_tok"))).alias("mx"),
    ))
    timed("fold_full", fold_bin_aggregates(raw_binned))
    timed("rare_alone", rare_bin_aggregates_stream(raw_binned, cfg, sizes=sizes))
    timed("agg_full", aggregate_bins(dist, cfg, slim=raw_binned))
    timed("whole", feature_matrix(ev, None, cfg))
    print(json.dumps({"stages": out, "loads": loads, "cpus": cpus}))


if __name__ == "__main__":
    main()
