"""Per-bin feature aggregation — ONE groupBy(source, bin) for the whole
matrix (SURVEY.md §2.6 A1-A8; reference accumulators bgpmetrics_as.py:199-253).

Everything in the MAIN pass is a plain declarative aggregate expression
(partial + final whole-stage-codegen HashAggregate, map-side combine for
free). The order-dependent quirks and the exact distinct live in a separate
slim pass over the raw branch (``fold_bin_aggregates``) because each of them
individually de-optimizes a combined aggregation (ObjectHashAggregate /
SortAggregate / distinct-rewrite — measured 16.9s vs 1.2s at 8M rows):

  * A5 ``as_path_avg`` — Py2 floor-division recurrence over arrival order
    (bgpmetrics_as.py:635-636, quirk Q1):
        v_n = (len_n * n + v_{n-1}) // n  ==  len_n + v_{n-1} // n
    computed as F.aggregate over an array_sort'ed collect_list for SMALL
    bins only; large bins provably collapse to the last path length (see
    fold_bin_aggregates), so the aggregation buffer is bounded by the token
    length, never the bin's row count.
  * A6 ``unique_as_path_avg`` (bgpmetrics_as.py:637, quirk Q2) references the
    *running max*, which telescopes to a closed form over builtins:
        u_n = ulen_n + (ulen_n*n + max)//n - ulen_n = ulen_n + max_bin // n
    i.e. max_by(last path's unique length) + floor(max / count).

The pivot families (A7/A8) are conditional sums instead of ``.pivot()`` so
the whole matrix stays a single aggregate pass over the classified events
(pivot would re-shuffle; keys are clamped to <11 per bgpmetrics_as.py:176-185).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.operators.asof import (
    CLS_DUP,
    CLS_FLAP,
    CLS_IMP_DPATH,
    CLS_IMP_SPATH,
    CLS_NADA,
    CLS_NEW,
    CLS_WD_DUP,
)


def _cnt(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _as_path_avg_expr(len_col: Column) -> Column:
    """A5 Py2 pseudo-mean fold (quirk Q1): array_sort'ed collect_list of
    (ts, seq, len) then a JVM higher-order fold in arrival order."""
    is_ann = F.col("kind") == "ann"
    path_entry = F.when(
        is_ann,
        F.struct(F.col("ts").alias("ts"), F.col("seq").alias("seq"), len_col.alias("len")),
    )
    return F.aggregate(
        F.array_sort(F.collect_list(path_entry)),
        F.struct(F.lit(0).cast("long").alias("i"), F.lit(0).cast("long").alias("v")),
        lambda acc, x: F.struct(
            (acc["i"] + 1).alias("i"),
            (x["len"] + F.floor(acc["v"] / (acc["i"] + 1)).cast("long")).alias("v"),
        ),
        lambda acc: acc["v"],
    )


def fold_bin_aggregates(
    raw_binned: DataFrame, keys: tuple[str, ...] = ("source", "bin")
) -> DataFrame:
    """The aggregates that would de-optimize the main pass, computed on a slim
    projection of the RAW binned events (no classify/edit-distance dependency
    — kind/doc_id/ts/seq/tokens are source columns):

      * ``as_path_avg`` — collect_list forces the WHOLE aggregation into
        interpreted ObjectHashAggregate (no whole-stage codegen), so mixing it
        with the ~50 plain sums made every one of them interpreted (measured
        16.9s vs 1.2s for the codegen pass alone at 8M rows / 16 cores).
      * ``unique_as_path_avg`` — max_by keyed on struct(ts, seq) carries a
        struct aggregation buffer, which HashAggregateExec cannot hold in an
        UnsafeRow; its presence demoted the whole main pass to SortAggregate
        (map-side sort of every event by (source, bin)).
      * ``nlri_ann`` — exact count-distinct triggers the two-phase distinct
        rewrite (extra shuffle keyed by (source, bin, doc_id)); over this slim
        projection that is cheap, over the 50-agg pass it is not. It is a
        separate groupBy here so the distinct rewrite does not also drag the
        collect_list fold through two exchanges.

    Joined back on (source, bin) by aggregate_bins; the raw scan branch is
    shared with the rare stage, so at scale this costs slim re-scans that
    overlap the classify branch in the DAG.
    """
    is_ann = F.col("kind") == "ann"
    slim = raw_binned.select(
        *keys,
        "kind",
        "doc_id",
        "ts",
        "seq",
        F.size("tokens").alias("n_tok"),
        F.size(F.array_distinct("tokens")).alias("uniq_len"),
    )
    n_paths = _cnt(is_ann)
    last_uniq = F.max_by(F.when(is_ann, F.col("uniq_len")), F.when(is_ann, F.struct("ts", "seq")))
    uniq_max = F.max(F.when(is_ann, F.col("uniq_len")))
    unique_as_path_avg = F.coalesce(
        last_uniq + F.floor(uniq_max / n_paths).cast("long"), F.lit(0)
    )
    # Bounded-memory A5: the Q1 recurrence v_k = L_k + floor(v_{k-1} / k)
    # provably collapses for large bins. Every v_k <= 2*maxL (induction:
    # v_k <= maxL + v_{k-1}/k), so for k > 2*maxL the floor term is 0 and
    # v_k = L_k from then on — the final value of a bin with
    # n_ann > 2*max_len + 1 announcements is EXACTLY the last path's length.
    # Only bins below that cutoff (O(max_len) ~ hundreds of rows) ever run
    # the collect_list fold, so the aggregation buffer is bounded by the
    # token length, not the bin's row count — a 10^7-announcement hot bin
    # costs one max_by, not one array (VERDICT r1 finding 2).
    #
    # nlri_ann rides in the SAME aggregation (r6): this pass already runs
    # without whole-stage codegen because of the max_by struct buffers, so
    # the count-distinct Expand rewrite costs it nothing extra — while a
    # separate distincts groupBy cost one more full pass over slim plus a
    # join (measured 1.52s -> 1.28s at 1M rows, byte-identical output).
    # The original concern (r1) was the distinct rewrite dragging the
    # collect_list fold through two exchanges — the fold lives in the
    # folded_small branch below, not here.
    stats = slim.groupBy(*keys).agg(
        n_paths.alias("_n_ann"),
        F.coalesce(F.max(F.when(is_ann, F.col("n_tok"))), F.lit(0)).alias("_max_len"),
        F.max_by(F.when(is_ann, F.col("n_tok")), F.when(is_ann, F.struct("ts", "seq"))).alias(
            "_last_len"
        ),
        unique_as_path_avg.alias("unique_as_path_avg"),
        F.count_distinct(F.when(is_ann, F.col("doc_id"))).alias("nlri_ann"),
    )
    small_keys = stats.filter(F.col("_n_ann") <= 2 * F.col("_max_len") + 1).select(*keys)
    folded_small = (
        slim.join(small_keys, list(keys), "left_semi")
        .groupBy(*keys)
        .agg(_as_path_avg_expr(F.col("n_tok")).alias("_fold_v"))
    )
    return (
        stats.join(folded_small, list(keys), "left")
        .withColumn(
            "as_path_avg",
            F.coalesce(F.col("_fold_v"), F.col("_last_len"), F.lit(0)).cast("long"),
        )
        .select(*keys, "as_path_avg", "unique_as_path_avg", "nlri_ann")
    )


_AGG_CACHE: dict = {}


def _main_aggs(cfg: EngineConfig) -> list:
    """The ~50 aggregate Column expressions of the main pass, memoized per
    (pivot_limit, origin_values). Unresolved Column trees are immutable and
    DataFrame-independent, so reuse across calls is safe — and building
    them costs ~0.5s of serial Py4J round-trips per call, which is pure
    non-scaling driver overhead in a timed pipeline (every expression node
    is a JVM call)."""
    # Columns wrap py4j JVM references: key the cache on the live
    # SparkContext too, so a session teardown + relaunch in one process
    # doesn't serve stale gateway handles (ADVICE r3)
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app_id = sc.applicationId if sc is not None else None
    key = (app_id, cfg.pivot_limit, tuple(cfg.origin_values))
    if key in _AGG_CACHE:
        return _AGG_CACHE[key]
    for k in [k for k in _AGG_CACHE if k[0] != app_id]:
        del _AGG_CACHE[k]  # drop dead handles from a previous context
    is_ann = F.col("kind") == "ann"
    is_wd = F.col("kind") == "wd"
    cls = F.col("cls")
    uniq_max = F.max(F.when(is_ann, F.col("uniq_len")))

    aggs = [
        _cnt(is_ann).alias("announcements"),
        _cnt(is_wd).alias("withdrawals"),
        _cnt(cls == CLS_WD_DUP).alias("wd_dups"),
        _cnt(cls == CLS_NEW).alias("news"),
        _cnt(cls == CLS_DUP).alias("dups"),
        _cnt(cls == CLS_FLAP).alias("flaps"),
        _cnt(cls == CLS_NADA).alias("nadas"),
        _cnt(cls.isin(CLS_IMP_SPATH, CLS_IMP_DPATH)).alias("imp_wd"),
        _cnt(cls == CLS_IMP_SPATH).alias("imp_wd_spath"),
        _cnt(cls == CLS_IMP_DPATH).alias("imp_wd_dpath"),
        _cnt(F.col("to_longer")).alias("ann_to_longer"),
        _cnt(F.col("to_shorter")).alias("ann_to_shorter"),
        _cnt(F.col("origin_changed")).alias("origin_changes"),
        # A3 maxima (bgpmetrics_as.py:630-633); long-typed for oracle schema parity
        F.coalesce(F.max(F.when(is_ann, F.col("n_tok"))), F.lit(0)).cast("long").alias("as_path_max"),
        F.coalesce(uniq_max, F.lit(0)).cast("long").alias("unique_as_path_max"),
        # edit-distance family (bgpmetrics_as.py:640-664)
        F.coalesce(F.max("edit_dist"), F.lit(0)).cast("long").alias("edit_distance_max"),
        F.coalesce(F.avg("edit_dist"), F.lit(0.0)).alias("edit_distance_avg"),
        # rare family (Q5, bgpmetrics_as.py:614-628) is aggregated separately
        # on a slim projection and broadcast-joined back — see
        # operators/rare.rare_per_bin / join_rare
    ]
    # A8 edit-distance histogram, keys clamped < pivot_limit (Q8 export rule)
    for k in range(cfg.pivot_limit):
        aggs.append(_cnt(F.col("edit_dist") == k).alias(f"edit_distance_dict_{k}"))
    # A7 per-message origin pivot (Q7), codes 0..2
    for code in cfg.origin_values:
        aggs.append(_cnt(is_ann & (F.col("origin") == code)).alias(f"origin_{code}"))
    _AGG_CACHE[key] = aggs
    return aggs


def aggregate_bins(
    classified: DataFrame,
    cfg: EngineConfig | None = None,
    slim: DataFrame | None = None,
    keys: tuple[str, ...] = ("source", "bin"),
) -> DataFrame:
    """classified: output of classify_* + rare stage (rare_ct, rare_gated)
    + edit_dist column. Returns one row per (source, bin).

    ``slim``: optional raw binned events (same rows as ``classified``, pre-
    classification). When given, as_path_avg / nlri_ann are computed from it
    in a separate slim pass (see fold_bin_aggregates) so the main ~50-column
    aggregation stays a single whole-stage-codegen HashAggregate. The
    (source, bin) key sets are identical (classify preserves every event
    row), so the join is key-aligned by construction.
    """
    cfg = cfg or EngineConfig()
    is_ann = F.col("kind") == "ann"

    aggs = list(_main_aggs(cfg))

    if slim is None:
        n_paths = _cnt(is_ann)
        last_uniq = F.max_by(
            F.when(is_ann, F.col("uniq_len")), F.when(is_ann, F.struct("ts", "seq"))
        )
        uniq_max = F.max(F.when(is_ann, F.col("uniq_len")))
        unique_as_path_avg = F.coalesce(
            last_uniq + F.floor(uniq_max / n_paths).cast("long"), F.lit(0)
        )
        # single-pass form: A2 exact count-distinct of announced entities
        # (bgpmetrics_as.py:398-399) + the A5 fold + A6 in the same aggregation
        aggs.append(F.count_distinct(F.when(is_ann, F.col("doc_id"))).alias("nlri_ann"))
        aggs.append(_as_path_avg_expr(F.col("n_tok")).alias("as_path_avg"))
        aggs.append(unique_as_path_avg.alias("unique_as_path_avg"))
        out = classified.groupBy(*keys).agg(*aggs)
    else:
        # split form: plain sums stay whole-stage-codegen; fold / max_by /
        # distinct run on the slim raw branch and join back on the aligned
        # key set
        main = classified.groupBy(*keys).agg(*aggs)
        out = main.join(fold_bin_aggregates(slim, keys), list(keys), "left").na.fill(
            {"as_path_avg": 0, "nlri_ann": 0, "unique_as_path_avg": 0}
        )
    # Q3: exported unique dict is a verbatim copy of the plain dict. ONE
    # select, not a withColumn per pivot — each withColumn is a full plan
    # rebuild + analysis pass (12 of them measurably slow the driver).
    return out.select(
        "*",
        *[
            F.col(f"edit_distance_dict_{k}").alias(f"edit_distance_unique_dict_{k}")
            for k in range(cfg.pivot_limit)
        ],
        F.lit(0).cast("long").alias("class"),
    )
