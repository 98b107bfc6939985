#!/usr/bin/env python
"""Dump formatted physical plans for the headline queries into PLANS.md —
the plan-shape evidence (pushdown, pruning, codegen spans, join strategies)
reviewed after every operator change.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLAN_QUERIES = [
    "feature_matrix",
    "multi_width",
    "rare_bins",
    "asof_classify",
    "event_bins_dense",
    "rolling",
    "sessionize",
    "interval_label",
    "multi_width_labeled",
    "multi_width_rare",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from bgp_feature_extractor_spark.session import get_spark

    spark = get_spark(app_name="explain", master="local[4]")
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans (generated by scripts/explain_plans.py)",
        "",
        f"Input: `{sf_dir}`. Things to check per plan: `PushedFilters`/`ReadSchema`",
        "on every scan (pushdown + pruning), wide `WholeStageCodegen` spans,",
        "`BroadcastHashJoin` for dim/spine joins, no `CartesianProduct`,",
        "partial+final `HashAggregate` pairs around each exchange.",
        "",
        "Note: `BroadcastNestedLoopJoin Inner` nodes with a single-row build",
        "side (a `min(ts)`/interval-bounds aggregate under a",
        "`BroadcastExchange IdentityBroadcastMode`) are intentional scalar",
        "attaches — broadcasting one row to every partition is the correct",
        "O(N) physical shape for a data-anchored global constant, not a",
        "quadratic join.",
        "",
    ]
    for name in PLAN_QUERIES:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    out.append(_pruning_section(spark, sf_dir))
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def _pruning_section(spark, sf_dir: str) -> str:
    """S1 evidence: write the (source, day)-partitioned event layout into a
    temporary directory, scan it with a source predicate, and show the
    PartitionFilters line — the file-listing-level prune that dominates at
    100TB."""
    import re
    import shutil
    import tempfile

    import __spark_entry__ as entrymod
    from bgp_feature_extractor_spark.sources.partitioned import (
        read_events_pruned,
        write_partitioned_events,
    )

    tmp = tempfile.mkdtemp(prefix="spark_graft_plans_")
    try:
        ev = entrymod._doc_events(spark, sf_dir)
        path = f"{tmp}/events_part"
        write_partitioned_events(ev, path)
        pruned = read_events_pruned(
            spark, path, sources=[ev.select("source").first()[0]]
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    keep = []
    for line in plan.splitlines():
        if "Scan parquet" not in line and "FileScan" not in line:
            continue
        for key in ("PartitionFilters", "PushedFilters", "ReadSchema"):
            m = re.search(rf"{key}: (\[[^\]]*\]|\S+)", line)
            if m:
                keep.append(f"{key}: {m.group(1)[:160]}")
    return (
        "## partition pruning (S1: (source, day)-partitioned events)\n\n"
        "Scan-relevant lines only — `PartitionFilters` non-empty means the\n"
        "predicate prunes at the FILE LISTING, before any IO:\n\n"
        "```\n" + ("\n".join(keep) or "(no scan nodes found)") + "\n```\n"
    )


if __name__ == "__main__":
    main()
