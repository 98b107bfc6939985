"""Plan-shape regression tests: the physical plans we rely on at 100TB
(pushdown, pruning, no accidental cartesian joins) must not silently
degrade when operators change. Complements the plan dumps that
scripts/explain_plans.py writes for human review."""

from __future__ import annotations

import pytest

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.plans.feature_matrix import (
    feature_matrix,
    multi_width_matrices,
)
from bgp_feature_extractor_spark.sources.synth import synth_events


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "events.parquet")
    synth_events(spark, 2_000).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_feature_matrix_no_cartesian(events_parquet):
    plan = _plan(feature_matrix(events_parquet, None, EngineConfig()))
    assert "CartesianProduct" not in plan


def test_first_ts_scan_prunes_columns(spark, events_parquet):
    """The per-source first-ts aggregate must read only (source, ts) from
    parquet — a scan pulling tokens/attrs for a 2-column aggregate would
    be a 100TB-scale bug."""
    from bgp_feature_extractor_spark.operators.binning import first_ts_per_source

    plan = first_ts_per_source(events_parquet)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read and "attrs_sig" not in read


def test_iceberg_fallback_roundtrip(spark, tmp_path):
    from bgp_feature_extractor_spark.sources.iceberg import (
        iceberg_available,
        read_table,
        write_table,
    )

    assert iceberg_available(spark) is False  # no runtime jar in this image
    df = synth_events(spark, 100)
    target = str(tmp_path / "tbl")
    kind = write_table(df, target, partition_by=["source"])
    assert kind == "parquet"
    back = read_table(spark, target)
    assert back.count() == 100
    assert set(back.columns) == set(df.columns)


def test_rare_auto_mode_switches_plan(spark, events_parquet):
    """rare_mode picks the plan explicitly: 'block' runs the salted kernel,
    identifiable by its applyInPandas re-merge stage
    (FlatMapGroupsInPandas); 'exact' (the default) has none."""
    import dataclasses

    plan_block = _plan(
        feature_matrix(events_parquet, None, dataclasses.replace(EngineConfig(), rare_mode="block"))
    )
    plan_exact = _plan(feature_matrix(events_parquet, None, EngineConfig()))
    assert EngineConfig().rare_mode == "exact"
    assert "FlatMapGroupsInPandas" in plan_block, "block mode did not plan the salted kernel"
    assert "FlatMapGroupsInPandas" not in plan_exact, "exact mode planned the salted kernel"


def test_rare_auto_block_values_match_exact_below_shard(spark, events_parquet):
    """Below one shard (rare_shard_paths) the block relaxation is
    value-identical to exact."""
    import dataclasses

    exact = feature_matrix(
        events_parquet, None, dataclasses.replace(EngineConfig(), rare_mode="exact")
    )
    block = feature_matrix(
        events_parquet, None, dataclasses.replace(EngineConfig(), rare_mode="block")
    )
    cols = ["source", "bin", "number_rare_ases", "rare_ases_max", "rare_ases_avg"]
    a = exact.select(cols).orderBy("source", "bin").toPandas()
    b = block.select(cols).orderBy("source", "bin").toPandas()
    assert a.equals(b)


@pytest.mark.parametrize("mode", ["fold", "dist", "auto", "Exact"])
def test_unknown_rare_mode_rejected(events_parquet, mode):
    """An unknown rare_mode fails when the plan is built instead of
    silently zero-filling the rare family."""
    import dataclasses

    cfg = dataclasses.replace(EngineConfig(), rare_mode=mode)
    with pytest.raises(ValueError, match="rare_mode"):
        feature_matrix(events_parquet, None, cfg)
    with pytest.raises(ValueError, match="rare_mode"):
        multi_width_matrices(events_parquet, None, cfg, widths=(1, 5))


def test_partitioned_events_prune(spark, tmp_path):
    """S1: a (source, day)-partitioned layout + a day/source predicate must
    prune at the listing level — PartitionFilters non-empty and the pruned
    scan reads fewer files than the full table."""
    from bgp_feature_extractor_spark.sources.partitioned import (
        read_events_pruned,
        write_partitioned_events,
    )

    ev = synth_events(spark, 5_000, n_sources=4)
    path = str(tmp_path / "events_part")
    write_partitioned_events(ev, path)

    pruned = read_events_pruned(spark, path, sources=["src0"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "source" in pf and pf.strip() != "", f"empty PartitionFilters: {pf!r}"
    # the predicate must NOT appear as a post-scan data filter on source
    n_all = spark.read.parquet(path).count()
    n_pruned = pruned.count()
    assert 0 < n_pruned < n_all

    # day-range predicate prunes too
    some_day = spark.read.parquet(path).select("day").distinct().orderBy("day").first()[0]
    by_day = read_events_pruned(spark, path, start_day=some_day, end_day=some_day)
    plan2 = by_day._jdf.queryExecution().executedPlan().toString()
    pf2 = plan2.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in pf2


def test_rare_exact_plan_uses_packed_exchange(spark, events_parquet):
    """The exact rare stage's shuffle must be the LPT-packed hash exchange
    on the injective _pack_x token (REPARTITION_BY_NUM), not a plain hash
    repartition on source (collision stragglers) and not a range exchange
    (boundary-sampling re-execution of the child plan)."""
    import dataclasses

    cfg = dataclasses.replace(EngineConfig(), rare_mode="exact")
    plan = _plan(feature_matrix(events_parquet, None, cfg))
    assert "_pack_x" in plan, "rare stage lost the packed exchange"
    assert "rangepartitioning(source" not in plan


def _persisted_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


def test_plans_persist_nothing(spark, events_parquet):
    """Neither plan builder leaves a persistent RDD behind after an action
    (the 'exact' rare mode still collects the per-source stats at build)."""
    for build in (feature_matrix, multi_width_matrices):
        before = _persisted_ids(spark)
        build(events_parquet, None, EngineConfig()).count()
        leaked = _persisted_ids(spark) - before
        assert leaked == set(), f"persistent RDDs left by {build.__name__}: {leaked}"


def test_materialized_frees_all_caches(spark):
    """The multi-width declared queries persist nothing: after each one is
    built and counted, no persistent RDD it introduced remains in the
    session, the result frame included (the correctness gate runs every
    query in one session). Asserted as set-difference against the
    pre-query persisted ids so the check is order-independent under the
    session-scoped fixture."""
    import __spark_entry__ as entrymod

    for name in ("multi_width", "multi_width_labeled", "multi_width_rare"):
        before = _persisted_ids(spark)
        entrymod.queries()[name](spark, "/root/testdata/sf0.001").count()
        leaked = _persisted_ids(spark) - before
        assert leaked == set(), f"persistent RDDs leaked by {name}: {leaked}"


def test_materialized_probe_sees_a_leak(spark):
    """Negative control for the probe above: a frame persisted and never
    unpersisted must show up as a leaked persistent RDD."""
    before = _persisted_ids(spark)
    df = spark.range(10).persist()
    df.count()
    try:
        assert _persisted_ids(spark) - before, "probe missed a persisted frame"
    finally:
        df.unpersist()


def test_explain_plans_names_declared_queries():
    """scripts/explain_plans.py dumps its PLAN_QUERIES by name, so each one
    must still be a declared query (a deleted query would make the script
    fail with a KeyError)."""
    import os
    import runpy

    import __spark_entry__ as entrymod

    script = os.path.join(os.path.dirname(__file__), "..", "scripts", "explain_plans.py")
    missing = set(runpy.run_path(script)["PLAN_QUERIES"]) - set(entrymod.queries())
    assert not missing, f"explain_plans.py names undeclared queries: {sorted(missing)}"
