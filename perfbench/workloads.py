"""The benchmark's workloads.

Each workload stages a seeded input, times one public engine call through to
a committed parquet write, checks every output outside the timed region, and
can replay its pipeline layer by layer under a :class:`tracing.Tracer`.

  dataset_multi_width   8 sources over ~13 h (an event every 4 s, several
                        bins at every width up to 120 min) ->
                        multi_width_matrices (6 widths) ->
                        rolling_bin_stats -> labeled_ratio_dataset (padded)
  matrix_skewed_sparse  skewed, sparse input (20 sources, one holding 40% of
                        rows, ~1 event per second) written as the (source,
                        day)-partitioned table -> feature_matrix; the traced
                        run adds extract_from_partitioned over the same
                        table, killed after half the bucket groups, resumed
"""

from __future__ import annotations

import random
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig, golden_columns
from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
from bgp_feature_extractor_spark.operators.aggregates import aggregate_bins
from bgp_feature_extractor_spark.operators.asof import EVENT_COLS, classify_window
from bgp_feature_extractor_spark.operators.binning import (
    dense_spine,
    first_ts_per_source,
    with_bin,
)
from bgp_feature_extractor_spark.operators.rare import (
    join_rare,
    rare_bin_aggregates_block,
    rare_bin_aggregates_stream,
    resolve_rare_mode,
)
from bgp_feature_extractor_spark.operators.windows import rolling_bin_stats
from bgp_feature_extractor_spark.oracle import ReferenceOracle
from bgp_feature_extractor_spark.plans.feature_matrix import (
    REFERENCE_TIMESCALES,
    feature_matrix,
    multi_width_matrices,
)
from bgp_feature_extractor_spark.plans.incremental import extract_from_partitioned
from bgp_feature_extractor_spark.plans.label_pipeline import labeled_ratio_dataset
from bgp_feature_extractor_spark.sources.checkpoint import CheckpointManager
from bgp_feature_extractor_spark.sources.partitioned import (
    read_events_pruned,
    write_partitioned_events,
)
from bgp_feature_extractor_spark.sources.synth import synth_events
from tracing import SqlExecution, Tracer

CFG = EngineConfig(minutes_window=1)
ORACLE_SOURCES = 3  # non-hot sources replayed through the reference oracle
HOT_SOURCE = "src0"  # synth_events' skew target


def _persist(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def _cached_bytes(spark: SparkSession) -> int:
    return sum(
        int(i.memSize()) + int(i.diskSize())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def _to_pandas(df: DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def _same(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], cols: list[str]) -> bool:
    """Equal keys and allclose (rtol 1e-9) values, row for row."""
    if len(got) != len(want) or not all((got[k].values == want[k].values).all() for k in keys):
        return False
    for c in cols:
        g, w = got[c], want[c]
        if c == "timestamp":
            g, w = pd.to_datetime(g).astype("int64"), pd.to_datetime(w).astype("int64")
        if not np.allclose(np.asarray(g, np.float64), np.asarray(w, np.float64), rtol=1e-9, atol=0):
            return False
    return True


def _oracle(events: DataFrame, sources: list[str], cfg: EngineConfig) -> pd.DataFrame:
    """The reference semantics replayed per source. Comparing the engine on
    a sample of sources is exact because all engine state is per source."""
    ev = events.filter(F.col("source").isin(sources)).select(*EVENT_COLS).toPandas()
    ev["tokens"] = [None if t is None else [int(x) for x in t] for t in ev["tokens"]]
    ev["attrs_sig"] = [None if s is None else dict(s) for s in ev["attrs_sig"]]
    return ReferenceOracle(cfg).run(ev).sort_values(["source", "bin"]).reset_index(drop=True)


def _rows_of(matrix: pd.DataFrame, sources: list[str]) -> pd.DataFrame:
    return matrix[matrix["source"].isin(sources)].reset_index(drop=True)


def _sample_sources(seed: int, events: DataFrame) -> list[str]:
    names = sorted(r["source"] for r in events.select("source").distinct().collect())
    names = [s for s in names if s != HOT_SOURCE]
    return random.Random(seed).sample(names, min(ORACLE_SOURCES, len(names)))


def _generate(wl, rows: int, seed: int) -> DataFrame:
    """The workload's seeded input: ``synth_events`` with every timestamp
    stretched by ``ts_spacing_s`` (the generator's finest rate is one event
    per second)."""
    events = synth_events(wl.spark, rows, seed=seed, **wl.synth)
    return events.withColumn("ts", F.col("ts") * wl.ts_spacing_s)


def _layers_feature_matrix(tracer: Tracer, ev: DataFrame) -> tuple[dict, DataFrame, list]:
    """feature_matrix's layers called one by one on persisted inputs;
    returns (counts, final matrix, frames to unpersist)."""
    frames = []

    def keep(df: DataFrame) -> tuple[DataFrame, int]:
        df, n = _persist(df)
        frames.append(df)
        return df, n

    counts = {}
    with tracer.span("binning.firsts"):
        firsts, _ = keep(first_ts_per_source(ev))
    with tracer.span("asof.classify"):
        classified, _ = keep(classify_window(ev, None, CFG))
    with tracer.span("binning.bin"):
        binned, counts["editdist.rows_in"] = keep(with_bin(classified, firsts, CFG))
        raw_binned, _ = keep(with_bin(ev.select(*EVENT_COLS), firsts, CFG))
    with tracer.span("editdist.udf"):
        dist, counts["aggregates.rows_in"] = keep(
            with_edit_distance(binned, "tokens", "prev_tokens").drop("prev_tokens")
        )
    counts["editdist.pairs_computed"] = dist.filter(F.col("edit_dist").isNotNull()).count()
    with tracer.span("aggregates.agg"):
        per_bin, counts["aggregates.groups_out"] = keep(aggregate_bins(dist, CFG, slim=raw_binned))
    sizes = [(r["source"], int(r["n_rows"])) for r in firsts.collect()]
    counts["rare_mode"] = resolve_rare_mode(CFG, sizes)
    kernels = {
        "exact": lambda: rare_bin_aggregates_stream(raw_binned, CFG, sizes=sizes),
        "block": lambda: rare_bin_aggregates_block(raw_binned, CFG),
    }
    with tracer.span("rare.kernel"):
        rare_pb, _ = keep(kernels[counts["rare_mode"]]())
    with tracer.span("rare.join"):
        joined, _ = keep(join_rare(per_bin, rare_pb))
    with tracer.span("binning.spine"):
        matrix, counts["binning.spine_rows"] = keep(
            dense_spine(joined, firsts, CFG).select("source", "bin", *golden_columns(CFG))
        )
    return counts, matrix, frames


class MultiWidthDataset:
    name = "dataset_multi_width"
    # 12k events 4 s apart span 800 min: 6 bins of the widest width (120 min),
    # so the k prior bins and the middle-third labels are real at every width
    default_rows = 12_000
    synth = dict(n_sources=8, hot_pct=12, ts_scale=1)
    ts_spacing_s = 4
    roll_cols = ["announcements", "withdrawals", "dups", "edit_distance_avg"]
    roll_k = 5
    keys = ("minutes_window", "source")
    checked_widths = (1, 5)
    min_calls = 1  # one call takes longer than the measured window
    # labeled_ratio_dataset drops the edit-distance pivots and relabels class
    checked_cols = {
        c for c in golden_columns(CFG) if c != "class" and not c.startswith("edit_distance_")
    } | {"edit_distance_avg", "edit_distance_max"}
    # the traced spans that replay exactly what run() times
    replay_spans = (
        "sources.scan",
        "feature_matrix.cache",
        "aggregates.agg",
        "windows.rolling",
        "label.label",
        "sink.write",
    )

    def __init__(self, spark: SparkSession, work: str, rows: int, seed: int):
        self.spark, self.work, self.rows, self.seed = spark, work, rows, seed
        self.events_path = f"{work}/events"

    def stage(self) -> None:
        _generate(self, self.rows, self.seed).write.mode("overwrite").parquet(self.events_path)

    def events(self) -> DataFrame:
        return self.spark.read.parquet(self.events_path)

    def _rolled(self, matrix: DataFrame) -> DataFrame:
        return rolling_bin_stats(matrix, self.roll_cols, self.roll_k, entity_cols=self.keys)

    def _labeled(self, rolled: DataFrame, matrix: DataFrame) -> DataFrame:
        # label the middle third of each (width, source) span
        iv = matrix.groupBy(*self.keys).agg(
            F.expr("min(timestamp2) + (max(timestamp2) - min(timestamp2)) div 3").alias("start_ts"),
            F.expr("max(timestamp2) - (max(timestamp2) - min(timestamp2)) div 3").alias("end_ts"),
            F.lit(1).cast("long").alias("label"),
        )
        return labeled_ratio_dataset(rolled, iv, CFG, pad=True, keys=self.keys)

    def warm_up(self, out: str) -> None:
        self.run(out)

    def run(self, out: str) -> float:
        t0 = time.perf_counter()
        caches: list[DataFrame] = []
        matrix = multi_width_matrices(self.events(), None, CFG, caches=caches)
        self._labeled(self._rolled(matrix), matrix).write.mode("overwrite").parquet(out)
        for c in caches:
            c.unpersist()
        return time.perf_counter() - t0

    def feature_rows(self, out: str) -> int:
        return self.spark.read.parquet(out).select(*self.keys, "bin").distinct().count()

    def gate(self, outs: list[str]) -> list[bool]:
        """For seed-chosen non-hot sources, the width-1 and width-5 slices
        (pads dropped) equal the reference oracle at that width, and the
        label marks exactly the middle third of each source's span."""
        events = self.events()
        sources = _sample_sources(self.seed, events)
        want = {w: _oracle(events, sources, EngineConfig(minutes_window=w)) for w in self.checked_widths}
        cols = [c for c in golden_columns(CFG) if c in self.checked_cols]
        ok = []
        for out in outs:
            result = self.spark.read.parquet(out).filter(F.col("source").isin(sources))
            passed = True
            for w, ref in want.items():
                got = _to_pandas(
                    result.filter(F.col("minutes_window") == w).dropDuplicates(["source", "bin"]),
                    ["source", "bin"],
                )
                span = ref.groupby("source")["timestamp2"].agg(["min", "max"])
                third = (span["max"] - span["min"]) // 3
                ts, src = ref["timestamp2"], ref["source"]
                label = (ts >= src.map(span["min"] + third)) & (ts <= src.map(span["max"] - third))
                passed &= _same(got, ref, ["source", "bin"], cols) and (
                    got["class"].values == label.astype(int).values
                ).all()
            ok.append(bool(passed))
        return ok

    def trace(self, tracer: Tracer, out: str) -> dict:
        """Classify, edit distance and the rare kernel run inside the engine
        call, once for all widths, and are timed together as
        ``feature_matrix.cache``; their own split is matrix_skewed_sparse's."""
        spark, counts = self.spark, {}
        with tracer.span("sources.scan"):
            ev, counts["events"] = _persist(self.events())
        before = _cached_bytes(spark)
        caches: list[DataFrame] = []  # [firsts, classified + edit_dist, rare events]
        with tracer.span("feature_matrix.cache"):
            matrix = multi_width_matrices(ev, None, CFG, caches=caches)
        counts["feature_matrix.cache_bytes"] = _cached_bytes(spark) - before
        firsts, dist = caches[0], caches[1]
        sizes = [(r["source"], int(r["n_rows"])) for r in firsts.collect()]
        counts["rare_mode"] = resolve_rare_mode(CFG, sizes)
        counts["editdist.rows_in"] = dist.count()
        counts["editdist.pairs_computed"] = dist.filter(F.col("edit_dist").isNotNull()).count()
        # widths are exploded rows: every cached event row is aggregated once per width
        counts["aggregates.rows_in"] = counts["editdist.rows_in"] * len(REFERENCE_TIMESCALES)
        with tracer.span("aggregates.agg"):
            matrix, counts["binning.spine_rows"] = _persist(matrix)
        counts["aggregates.groups_out"] = matrix.filter(
            F.col("announcements") + F.col("withdrawals") > 0
        ).count()
        with tracer.span("windows.rolling"):
            rolled, _ = _persist(self._rolled(matrix))
        with tracer.span("label.label"):
            labeled, n_labeled = _persist(self._labeled(rolled, matrix))
        counts["label.pad_ratio"] = (n_labeled - counts["binning.spine_rows"]) / n_labeled
        with tracer.span("sink.write"):
            labeled.write.mode("overwrite").parquet(out)
        for df in (ev, matrix, rolled, labeled, *caches):
            df.unpersist()
        return counts


class MatrixSkewedSparse:
    name = "matrix_skewed_sparse"
    # a call's time is mostly its fixed job and stage overhead (about 5 s at
    # 6k or 12k events on four cores), so a small input fits several timed
    # calls into a run. Their median is the run's wall_s, so the slowest call
    # drops out: most often the first after the warm-up, which still pays
    # JIT compilation
    default_rows = 12_000
    min_calls = 3
    synth = dict(n_sources=20, hot_pct=40, ts_scale=1)
    ts_spacing_s = 1
    # traced run only: checkpointed extraction killed after half the buckets
    n_buckets = 2
    kill_after = 1  # bucket groups committed before the simulated kill
    stage_name = "feature_matrix"  # checkpointed_feature_matrix's default
    replay_spans = (
        "sources.scan",
        "binning.firsts",
        "asof.classify",
        "binning.bin",
        "editdist.udf",
        "aggregates.agg",
        "rare.kernel",
        "rare.join",
        "binning.spine",
    )

    def __init__(self, spark: SparkSession, work: str, rows: int, seed: int):
        self.spark, self.work, self.rows, self.seed = spark, work, rows, seed
        self.table = f"{work}/events_by_source_day"
        self.recompute_ratios: dict[str, float] = {}

    def stage(self) -> None:
        write_partitioned_events(_generate(self, self.rows, self.seed), self.table)

    def events(self) -> DataFrame:
        return read_events_pruned(self.spark, self.table).drop("day")

    def warm_up(self, out: str) -> None:
        self.run(out)

    def run(self, out: str) -> float:
        t0 = time.perf_counter()
        feature_matrix(self.events(), None, CFG).write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    def feature_rows(self, out: str) -> int:
        return self.spark.read.parquet(out).count()

    def gate(self, outs: list[str]) -> list[bool]:
        """The first output equals the reference oracle on seed-chosen
        non-hot sources; every output equals the first row for row (a
        resumed one too, whose resume must have recomputed exactly the
        buckets the kill left uncommitted)."""
        keys, cols = ["source", "bin"], golden_columns(CFG)
        if not outs:
            return []
        first = _to_pandas(self.spark.read.parquet(outs[0]), keys)
        events = self.events()
        sources = _sample_sources(self.seed, events)
        oracle_ok = _same(_rows_of(first, sources), _oracle(events, sources, CFG), keys, cols)
        expect_ratio = 1 - self.kill_after / self.n_buckets
        return [
            oracle_ok
            and self.recompute_ratios.get(out, expect_ratio) == expect_ratio
            and _same(_to_pandas(self.spark.read.parquet(out), keys), first, keys, cols)
            for out in outs
        ]

    def trace(self, tracer: Tracer, out: str) -> dict:
        with tracer.span("sources.scan"):
            ev, n_events = _persist(self.events())
        counts, _, frames = _layers_feature_matrix(tracer, ev)
        counts["events"] = n_events
        for df in [ev, *frames]:
            df.unpersist()
        # the checkpoint layer: kill after half the bucket groups, resume
        ckpt = CheckpointManager(f"{self.work}/checkpoint", n_buckets=self.n_buckets)

        def lineage_rows() -> int:
            return ckpt.stage_metrics(self.spark, self.stage_name).count()

        with tracer.span("checkpoint.kill"):
            extract_from_partitioned(
                self.spark, self.table, ckpt, CFG, buckets_per_job=1, max_jobs=self.kill_after
            )
        killed = lineage_rows()
        with tracer.span("checkpoint.resume"):
            extract_from_partitioned(
                self.spark, self.table, ckpt, CFG, buckets_per_job=1
            ).write.mode("overwrite").parquet(out)
        # every bucket the resume recomputed appended one lineage row
        ratio = (lineage_rows() - killed) / self.n_buckets
        counts["checkpoint.recompute_ratio"] = self.recompute_ratios[out] = ratio
        counts["checkpoint.base"] = ckpt.base
        return counts


WORKLOADS = {w.name: w for w in (MatrixSkewedSparse, MultiWidthDataset)}


def checkpoint_seconds(sql: list[SqlExecution], tracer: Tracer, base: str) -> tuple[float, float]:
    """(write_s, lineage_s) inside the kill and resume spans: bucket-data
    writes, and every execution that appends to, reads, or counts back
    through the lineage (the engine's eager per-source stats collect is
    neither)."""
    spans = [s for s in tracer.spans if s.name in ("checkpoint.kill", "checkpoint.resume")]
    write_s = lineage_s = 0.0
    for q in sql:
        if not any(s.start <= q.start <= s.end for s in spans) or base not in q.plan:
            continue
        if "InsertIntoHadoopFsRelationCommand" in q.plan and "/_lineage" not in q.plan:
            write_s += q.end - q.start
        else:
            lineage_s += q.end - q.start
    return write_s, lineage_s
