#!/usr/bin/env python3
"""Feature-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process = one workload on a fresh
``local[nproc]`` session:

  set-up    session start, input staging (generation + write, three times,
            median kept; once in a traced run) and one warm-up call
  measure   the workload's public engine call through to a committed parquet
            write, repeated until ``--seconds`` have passed and the
            workload's ``min_calls`` were made
  gate      every output of the timed calls is checked outside the clock

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` replays the
pipeline layer by layer under spans and the Spark event log and prints the
per-layer metrics. The last stdout line is the result JSON; the line before
it records the host and the run's samples.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGINGS = 3

END_TO_END = {
    "wall_s": "s",
    "events_per_s": "1/s",
    "feature_rows_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "asof.classify_s": "s",
    "asof.shuffle_write_bytes": "bytes",
    "asof.task_skew": "ratio",
    "editdist.udf_s": "s",
    "editdist.rows_in": "count",
    "editdist.pairs_computed": "count",
    "editdist.useful_ratio": "ratio",
    "aggregates.agg_s": "s",
    "aggregates.rows_in": "count",
    "aggregates.groups_out": "count",
    "aggregates.shuffle_write_bytes": "bytes",
    "aggregates.spill_bytes": "bytes",
    "binning.firsts_s": "s",
    "binning.bin_s": "s",
    "binning.spine_s": "s",
    "binning.spine_rows": "count",
    "binning.empty_bin_ratio": "ratio",
    "rare.kernel_s": "s",
    "rare.task_skew": "ratio",
    "rare.shuffle_write_bytes": "bytes",
    "rare.join_s": "s",
    "windows.rolling_s": "s",
    "label.label_s": "s",
    "label.pad_ratio": "ratio",
    "feature_matrix.cache_bytes": "bytes",
    "feature_matrix.cache_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.recompute_ratio": "ratio",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.tracing_overhead_s": "s",
    "scaling.eff_1to4": "ratio",
}


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, heap_mb: int) -> dict[str, str]:
    """Process environment the session and its Python workers inherit: the
    repository on PYTHONPATH (the Arrow UDF workers import the engine), the
    heap sized from /proc/meminfo, and every temporary directory in ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": tmp,
    }


def session(cores: int, work: str, event_log: str | None):
    from bgp_feature_extractor_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    else:  # a session restarted in the JVM inherits the first one's conf
        conf["spark.eventLog.enabled"] = "false"
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _measure(wl, work: str, seconds: float, min_calls: int) -> tuple[list[str], list[float], int]:
    """Timed calls until ``seconds`` have passed and at least ``min_calls``
    were made; (outputs, times, raised)."""
    outs, times, raised = [], [], 0
    start = time.perf_counter()
    while len(times) < min_calls or time.perf_counter() - start < seconds:
        out = f"{work}/out/run-{len(times)}"
        t0 = time.perf_counter()
        try:
            times.append(wl.run(out))
            outs.append(out)
        except Exception as exc:  # a failed call is counted, not fatal
            print(f"run {len(times)} raised: {exc!r}", file=sys.stderr)
            times.append(time.perf_counter() - t0)
            raised += 1
    return outs, times, raised


def _layer_metrics(wl, tracer, layers, sql, counts: dict, wall_s: float) -> dict[str, float]:
    from workloads import checkpoint_seconds

    def stat(layer: str, attr: str) -> float:
        return getattr(layers[layer], attr) if layer in layers else 0

    def skew(layer: str) -> float:
        return layers[layer].task_skew() if layer in layers else 0.0

    rows_in = counts.get("editdist.rows_in", 0)
    spine = counts.get("binning.spine_rows", 0)
    write_s, lineage_s = (
        checkpoint_seconds(sql, tracer, counts["checkpoint.base"])
        if "checkpoint.base" in counts
        else (0.0, 0.0)
    )
    m = {
        "asof.classify_s": tracer.seconds("asof.classify"),
        "asof.shuffle_write_bytes": stat("asof.classify", "shuffle_write_bytes"),
        "asof.task_skew": skew("asof.classify"),
        "editdist.udf_s": tracer.seconds("editdist.udf"),
        "editdist.rows_in": rows_in,
        "editdist.pairs_computed": counts.get("editdist.pairs_computed", 0),
        "editdist.useful_ratio": counts.get("editdist.pairs_computed", 0) / rows_in if rows_in else 0.0,
        "aggregates.agg_s": tracer.seconds("aggregates.agg"),
        "aggregates.rows_in": counts.get("aggregates.rows_in", 0),
        "aggregates.groups_out": counts.get("aggregates.groups_out", 0),
        "aggregates.shuffle_write_bytes": stat("aggregates.agg", "shuffle_write_bytes"),
        "aggregates.spill_bytes": stat("aggregates.agg", "spill_bytes"),
        "binning.firsts_s": tracer.seconds("binning.firsts"),
        "binning.bin_s": tracer.seconds("binning.bin"),
        "binning.spine_s": tracer.seconds("binning.spine"),
        "binning.spine_rows": spine,
        "binning.empty_bin_ratio": (spine - counts.get("aggregates.groups_out", 0)) / spine if spine else 0.0,
        "rare.kernel_s": tracer.seconds("rare.kernel"),
        "rare.task_skew": skew("rare.kernel"),
        "rare.shuffle_write_bytes": stat("rare.kernel", "shuffle_write_bytes"),
        "rare.join_s": tracer.seconds("rare.join"),
        "windows.rolling_s": tracer.seconds("windows.rolling"),
        "label.label_s": tracer.seconds("label.label"),
        "label.pad_ratio": counts.get("label.pad_ratio", 0.0),
        "feature_matrix.cache_bytes": counts.get("feature_matrix.cache_bytes", 0),
        "feature_matrix.cache_s": tracer.seconds("feature_matrix.cache"),
        "checkpoint.write_s": write_s,
        "checkpoint.lineage_s": lineage_s,
        "checkpoint.recompute_ratio": counts.get("checkpoint.recompute_ratio", 0.0),
        "sources.scan_s": tracer.seconds("sources.scan"),
        "sources.scan_bytes": stat("sources.scan", "input_bytes"),
        "spark.gc_s": sum(s.gc_ms for s in layers.values()) / 1000,
        "spark.failed_tasks": sum(s.failed_tasks for s in layers.values()),
        "spark.tracing_overhead_s": sum(tracer.seconds(n) for n in wl.replay_spans) - wall_s,
    }
    return m


def shutdown() -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this one started (the JVM's Python workers included)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import host

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def _feature_matrix_seconds(wl, out: str, warm_up: bool) -> float:
    """One ``feature_matrix`` call on the workload's staged input through a
    committed write, after an untimed one if ``warm_up``."""
    from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix
    from workloads import CFG

    def call() -> None:
        feature_matrix(wl.events(), None, CFG).write.mode("overwrite").parquet(out)

    if warm_up:
        call()
    return _time(call)


def bench(kind, rows: int, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """One benchmark run of workload class ``kind`` on ``rows`` input rows;
    returns (info, result). The command line always uses the workload's own
    size; the smoke test passes a tiny one."""
    import host
    from tracing import Tracer, parse_event_log

    # staged inputs are keyed on every generator parameter and the seed
    key = hashlib.sha1(json.dumps([kind.synth, kind.ts_spacing_s, rows, seed], sort_keys=True).encode()).hexdigest()[:12]
    work = f"{HERE}/.work/{kind.name}-{rows}-seed{seed}-{key}"
    shutil.rmtree(work, ignore_errors=True)
    cores, heap_mb = host.nproc(), host.driver_heap_mb()
    os.environ.update(_environment(work, heap_mb))
    event_log = f"{work}/eventlog" if trace else None
    info: dict = {}
    try:
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = session(cores, work, event_log)
            session_s = time.perf_counter() - t0
            info["spark_version"] = spark.version
            wl = kind(spark, work, rows, seed)
            stage_s = statistics.median(_time(wl.stage) for _ in range(1 if trace else STAGINGS))
            warmup_s = _time(lambda: wl.warm_up(f"{work}/out/warmup"))
            # the traced run times one untraced call, the base of its overhead
            outs, times, raised = _measure(wl, work, 0 if trace else seconds, 1 if trace else kind.min_calls)
            if trace:
                tracer = Tracer(spark)
                counts = wl.trace(tracer, f"{work}/out/traced")
                outs.append(f"{work}/out/traced")
                info["rare_mode"] = counts["rare_mode"]
            passed = wl.gate(outs)
            feature_rows = wl.feature_rows(outs[0]) if outs else 0
            if trace:
                full_s = _feature_matrix_seconds(wl, f"{work}/out/scaling-{cores}", warm_up=True)
                spark.stop()  # closes the event log
                layers, sql = parse_event_log(glob.glob(f"{event_log}/*")[0], tracer)
                # the small side restarts Spark in this JVM, whose JIT and
                # generated code are warm, so it times its first call
                small = max(1, cores // 4)
                wl.spark = session(small, work, None)
                small_s = _feature_matrix_seconds(wl, f"{work}/out/scaling-{small}", warm_up=False)
            shutdown()
        attempted = len(times) + trace
        failed = raised + passed.count(False)
        wall_s = statistics.median(times)
        if trace:
            metrics = _layer_metrics(wl, tracer, layers, sql, counts, wall_s)
            # speed-up over the core ratio: 1.0 is linear scaling
            metrics["scaling.eff_1to4"] = (small_s / full_s) * small / cores
            units = PER_LAYER
        else:
            metrics = {
                "wall_s": wall_s,
                "events_per_s": rows / wall_s,
                "feature_rows_per_s": feature_rows / wall_s,
                "setup_s": session_s + stage_s + warmup_s,
                "peak_rss_mb": rss.peak_mb,
            }
            units = END_TO_END
        info |= {
            "workload": kind.name,
            "seed": seed,
            "rows": rows,
            "feature_rows": feature_rows,
            "wall_s_samples": times,
            # 0 on every correct run, so not an end-to-end metric (those are never 0)
            "failed_ratio": failed / attempted,
            "setup_parts_s": {"session": session_s, "stage_median": stage_s, "warmup": warmup_s},
            "nproc": cores,
            "loadavg_1m": host.loadavg_1m(),
            "driver_heap_mb": heap_mb,
        }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return info, result
    finally:
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bgp_feature_extractor_spark")):
        print("perfbench: run from a checkout that holds bgp_feature_extractor_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    kind = WORKLOADS[args.workload]
    info, result = bench(kind, kind.default_rows, args.seed, args.seconds, args.trace)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
