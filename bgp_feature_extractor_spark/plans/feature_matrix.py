"""End-to-end feature-matrix pipeline (reference entry point EP1,
feature-extractor.py:26-72; SURVEY.md §3).

One plan builds the matrix at one width or at many: the width is DATA (a
``minutes_window`` column), so :func:`feature_matrix` is the one-width case
of :func:`multi_width_matrices`.

Physical shape (local[N] and cluster alike):
  scan events (+ snapshot union)
    -> window classify             # shuffle 1: hash by (source, doc_id)
    -> Arrow Levenshtein UDF       # map-side, on the uniform partitions
    -> bin column per width        # broadcast join of per-source first_ts
    -> groupBy(width, source, bin) # shuffle 2: partial+final hash agg
    -> rare per-event kernel       # side branch: SLIM projection shuffled by
       -> groupBy(width, source, bin)  # source, per-bin values joined back
    -> dense spine join + fill     # broadcasts only
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    rare_events_block,
    rare_events_stream,
    rare_per_bin,
    resolve_rare_mode,
)


def feature_matrix(
    events: DataFrame,
    snapshot: DataFrame | None = None,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Wide row-per-(source, bin) matrix with the golden 52-column layout, at
    ``cfg.minutes_window``: :func:`multi_width_matrices` at that one width.

    NOTE (plan-construction eagerness): with rare_mode 'exact' building the
    plan runs ONE eager Spark action — the tiny per-source stats aggregate
    is collected driver-side to LPT-pack sources onto partitions. Nothing
    is persisted: the call leaves no cached frame behind."""
    cfg = cfg or EngineConfig()
    return multi_width_matrices(events, snapshot, cfg, widths=(cfg.minutes_window,)).drop(
        "minutes_window"
    )


REFERENCE_TIMESCALES = (1, 5, 10, 15, 60, 120)


def _rare_events(
    mode: str, raw: DataFrame, firsts: DataFrame, cfg: EngineConfig
) -> DataFrame | None:
    """Per-event rare counts from ``mode``'s kernel (None for 'off')."""
    kernels = {
        # Arrow-streaming per-source kernel; sources are LPT-packed onto
        # partitions from the per-source stats rows (operators/packing) —
        # one row per source, plan metadata, not a data collect
        "exact": lambda: rare_events_stream(
            raw,
            cfg,
            sizes=[(r["source"], int(r["n_rows"])) for r in firsts.collect()],
        ),
        # salted + re-merged relaxation (thresholds frozen per shard):
        # fully parallel even on one 40%-hot source
        "block": lambda: rare_events_block(raw, cfg),
        "off": lambda: None,
    }
    return kernels[mode]()


def multi_width_matrices(
    events: DataFrame,
    snapshot: DataFrame | None = None,
    cfg: EngineConfig | None = None,
    widths: tuple[int, ...] = REFERENCE_TIMESCALES,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """The reference's full run matrix: one feature matrix per timebin width
    (label_csv.py:302 ``timescales = ['1','5','10','15','60','120']`` — the
    reference launches one OS process per width,
    scripts/slammer-features.sh), keyed by (minutes_window, source, bin).

    The expensive stages are width-INDEPENDENT — classification (the as-of
    state machine: one hash exchange by (source, doc_id) + three window
    passes), the Arrow Levenshtein UDF, and the Q5 per-source sequential
    rare recurrence depend only on event order, never on ``bin_size``
    (reference: widths only change the bin divisor,
    bgpmetrics_as.py:279-280). They run ONCE; the widths then run as DATA,
    not plan branches: rows are exploded across the width set and the
    per-bin aggregation, slim fold pass, rare re-bin, spine and fill execute
    as ONE pipeline keyed by (minutes_window, source, bin) — value-identical
    to independent per-width pipelines (per-group row sets are the
    per-width sets; asserted row-for-row in tests/test_r6_optimizations.py).

    Nothing is persisted and no barrier action runs: with the width as
    data, the classified rows and the per-event rare counts each have ONE
    consumer, so the returned plan computes them once per action, and the
    per-source stats it reads in several places are one exchange that AQE
    reuses. ``caches`` (a list), if given, receives the intermediate frames
    ``[firsts, classified+edit_dist, rare_events]`` (no ``rare_events``
    under rare_mode 'off'); none of them is persisted, so a caller's
    ``unpersist()`` on them is a no-op."""
    cfg = cfg or EngineConfig()
    widths = tuple(int(w) for w in widths)
    rare_mode = resolve_rare_mode(cfg)  # an unknown mode fails before any work
    # tiny (one row per source) and read by every branch (bin anchor, spine,
    # rare packing); 'exact' collects it once at plan build, and in the
    # plan AQE reuses its one exchange, so it is not cached
    firsts = first_ts_per_source(events)
    raw = events.select(*EVENT_COLS)
    # the rare branch reads the RAW events (cheap pruned re-scan), not the
    # classifier output — otherwise the classify window executes twice
    rare_events = _rare_events(rare_mode, raw, firsts, cfg)

    # carry the per-source bin anchor ON the rows (one broadcast join here,
    # before the widths are exploded) so each width's with_bin is a pure
    # projection
    anchor = F.broadcast(firsts.select("source", "first_ts"))
    # edit distance runs while the data is still hash-partitioned by
    # (source, doc_id), so the Arrow UDF sees uniform partitions
    dist = (
        with_edit_distance(classify_window(events, snapshot, cfg), "tokens", "prev_tokens")
        .drop("prev_tokens")
        .join(anchor, "source")
    )
    if rare_events is not None:
        rare_events = rare_events.join(anchor, "source")
    if caches is not None:
        caches.extend(f for f in (firsts, dist, rare_events) if f is not None)

    # Width is DATA, not a plan branch: every row is repeated once per width
    # and the whole matrix runs as ONE aggregation/join pipeline keyed by
    # (minutes_window, source, bin). Per-(width, source, bin) aggregation
    # processes exactly the per-width row sets, so every aggregate
    # (including the order-dependent A5 fold over the array_sort'ed
    # collect_list and the exact distinct) is value-identical to per-width
    # runs — with one computation of each shared frame and one exchange
    # per stage instead of one per width. The width stays an exploded
    # column even when there is one: a literal would be folded out of some
    # keys and not others, and each (1, source, bin) vs (source, bin)
    # partitioning mismatch costs an exchange (measured: 24 jobs instead of
    # 21).
    width = F.explode(F.array(*[F.lit(w) for w in widths])).alias("minutes_window")

    def widen(df: DataFrame) -> DataFrame:
        # with_bin sizes each row's bin by its minutes_window
        return with_bin(df.select("*", width), firsts, cfg)

    keys = ("minutes_window", "source", "bin")
    # slim=raw: as_path_avg (collect_list fold) and nlri_ann (exact
    # distinct) move to their own slim pass over the raw branch so the
    # 50-column aggregate stays one whole-stage-codegen HashAggregate
    # (measured 16.9s -> ~5s at 8M rows; see operators/aggregates.py)
    per_bin = aggregate_bins(widen(dist), cfg, slim=widen(raw.join(anchor, "source")), keys=keys)
    rare_pb = None if rare_events is None else rare_per_bin(widen(rare_events), keys)
    per_bin = join_rare(per_bin, rare_pb, keys=keys)
    spine_firsts = firsts.select("source", "first_ts", "last_ts", width)
    dense = dense_spine(per_bin, spine_firsts, cfg, keys=keys)
    return dense.select(*keys, *golden_columns(cfg))


def to_reference_csv(matrix: DataFrame, path: str, cfg: EngineConfig | None = None) -> None:
    """Reference CSV sink parity (feature-extractor.py:70-72): zero-filled,
    header, one directory per source via partitionBy."""
    cfg = cfg or EngineConfig()
    (
        matrix.na.fill(0)
        .repartition("source")
        .sortWithinPartitions("bin")
        .write.mode("overwrite")
        .option("header", True)
        .partitionBy("source")
        .csv(path)
    )
