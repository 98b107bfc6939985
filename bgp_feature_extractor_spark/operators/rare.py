"""Rare-token (rare-AS) statistics — quirk Q5 (bgpmetrics_as.py:601-628).

Reference semantics are sequential-global per run: a frequency table over
all tokens seen so far, a threshold re-percentiled (P20) every 1000 paths,
post-increment rarity compare, and a 1000-path warm-up gate.

Every kernel emits PER-EVENT values — one row per gated announcement
``(source, ts, seq, *carry, rare)`` — because the recurrence depends only
on each source's path order, never on the bin width. One ``groupBy``
(:func:`rare_per_bin`) turns them into the per-bin number/max/avg columns,
at one width or at many (plans/feature_matrix.multi_width_matrices).

Engine modes (``EngineConfig.rare_mode``):
  * 'exact' (default) — :func:`rare_events_stream`: one hash shuffle by
    source + ``mapInArrow`` streaming kernel with zero-copy flat-token
    access. The numpy kernel decomposes the recurrence into
      (a) per-element occurrence index (stable argsort + run-relative
          arange == post-increment frequency of that token at that moment),
      (b) per-block frequency tables (bincount cumsum at block boundaries)
          -> exact P20 thresholds (np.partition order statistics),
      (c) rare_i = count of path tokens with occurrence < threshold(block).
    Bit-identical to the dict-loop transliteration :func:`rare_counts_loop`.
  * 'block' — :func:`rare_events_block`: salted shards + re-merge, fully
    parallel on a hot source; thresholds freeze per shard (a documented
    relaxation, contract oracle :func:`rare_counts_block_loop`).
  * 'off' — the rare family is pinned to 0.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bgp_feature_extractor_spark.config import EngineConfig


def _percentile_linear(a: np.ndarray, pct: float) -> float:
    """np.percentile(a, pct) (linear interpolation), via np.partition —
    avoids np.percentile's per-call overhead in the per-block loop."""
    q = (len(a) - 1) * (pct / 100.0)
    k = int(q)
    if k + 1 < len(a):
        part = np.partition(a, (k, k + 1))
        return float(part[k] + (q - k) * (part[k + 1] - part[k]))
    return float(np.partition(a, k)[k])


def rare_counts_exact(
    paths: list[np.ndarray], block: int = 1000, pctile: float = 20.0
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized reference-exact rare counts for an ordered path stream.

    paths: per-path arrays of UNIQUE tokens, in arrival order.
    Returns (rare_ct, gated) per path."""
    n = len(paths)
    if n == 0:
        return np.zeros(0, dtype=np.int32), np.zeros(0, dtype=bool)
    lens = np.fromiter((len(p) for p in paths), dtype=np.int64, count=n)
    flat = (
        np.concatenate([np.asarray(p, dtype=np.int64) for p in paths])
        if lens.sum()
        else np.zeros(0, dtype=np.int64)
    )
    return rare_counts_from_flat(flat, lens, block, pctile)


def rare_counts_from_flat(
    flat: np.ndarray, lens: np.ndarray, block: int = 1000, pctile: float = 20.0
) -> tuple[np.ndarray, np.ndarray]:
    """Core kernel over the pre-flattened unique-token stream.

    flat: concatenated per-path unique tokens (arrival order);
    lens: unique-token count per path."""
    n = len(lens)
    rare = np.zeros(n, dtype=np.int32)
    gated = np.zeros(n, dtype=bool)
    if n == 0:
        return rare, gated
    if lens.sum() == 0:
        gated[block - 1 :] = True  # 1-based path index >= block
        return rare, gated
    flat = np.asarray(flat, dtype=np.int64)
    path_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    # dense-remap tokens. np.unique sorts (O(N log N), ~10s at 5M elements
    # on low-entropy streams); token ids are non-negative and bounded
    # (vocab / 32-bit AS numbers), so prefer an O(N) table remap and fall
    # back to hash factorization for huge id spaces. Id ORDER is irrelevant
    # downstream (ids only index bincount tables).
    lo, hi = int(flat.min()), int(flat.max())
    if lo >= 0 and hi < 1 << 24:
        remap = np.full(hi + 1, -1, dtype=np.int64)
        remap[flat] = 0
        present = remap == 0
        remap[present] = np.arange(int(present.sum()), dtype=np.int64)
        tok_id = remap[flat]
        V = int(present.sum())
    else:
        codes, uniq = pd.factorize(flat, sort=False)
        tok_id = codes.astype(np.int64)
        V = len(uniq)
    # (a) post-increment occurrence index per element, kept in token-sorted
    # order (the original-order scatter is never needed: (c) compares in
    # sorted order and bincounts by path id, which is order-insensitive)
    order = np.argsort(tok_id, kind="stable")
    sorted_ids = tok_id[order]
    new_run = np.empty(len(flat), dtype=bool)
    new_run[0] = True
    new_run[1:] = sorted_ids[1:] != sorted_ids[:-1]
    run_idx = np.cumsum(new_run) - 1
    starts = np.nonzero(new_run)[0]
    occ_sorted = np.arange(len(flat), dtype=np.int64) - starts[run_idx] + 1
    # (b) thresholds at block boundaries: after path (block*m - 1) 0-based
    # path p (1-based) uses threshold level m = p // block
    n_levels = n // block  # levels 1..n_levels have computed thresholds
    thr = np.zeros(n_levels + 1, dtype=np.float64)  # level 0 = initial 0
    if n_levels:
        # element with 0-based path p is inside the level-m snapshot iff
        # p < block*m - 1  =>  smallest such m is ceil((p+2)/block).
        # m_min is non-decreasing (path_of is), so no sort is needed —
        # level slices are contiguous in element order.
        m_min = (path_of + block + 1) // block
        bounds = np.searchsorted(m_min, np.arange(1, n_levels + 2))
        counts = np.zeros(V, dtype=np.int64)
        for m in range(1, n_levels + 1):
            sl = tok_id[bounds[m - 1] : bounds[m]]
            if len(sl):
                counts += np.bincount(sl, minlength=V)
            seen = counts[counts > 0]
            if len(seen):
                thr[m] = _percentile_linear(seen, pctile)
    # (c) rare per path: occurrence < thr(level of its path), evaluated in
    # token-sorted order
    level = np.minimum((np.arange(n, dtype=np.int64) + 1) // block, n_levels)
    path_sorted = path_of[order]
    is_rare = occ_sorted < thr[level][path_sorted]
    rare = np.bincount(path_sorted[is_rare], minlength=n).astype(np.int32)
    gated = (np.arange(n, dtype=np.int64) + 1) >= block
    rare[~gated] = 0
    return rare, gated


def rare_counts_loop(
    paths: list, block: int = 1000, pctile: float = 20.0
) -> tuple[np.ndarray, np.ndarray]:
    """Dict-loop transliteration of the reference control flow — used as the
    in-test oracle for the vectorized kernel."""
    n = len(paths)
    rare_ct = np.zeros(n, dtype=np.int32)
    gated = np.zeros(n, dtype=bool)
    freq: dict[int, int] = {}
    threshold = 0.0
    iteration = 1  # bgpmetrics_as.py:240
    for i, toks in enumerate(paths):
        rare = 0
        for tok in toks:
            f = freq.get(tok, 0) + 1
            freq[tok] = f
            if f < threshold:
                rare += 1
        iteration += 1
        if iteration % block == 0 and freq:
            # `and freq`: a block boundary with zero tokens seen (all paths
            # so far empty) keeps the previous threshold — matches the
            # vectorized kernel's guard; the reference would crash here
            # (np.percentile of an empty table), unreachable on real data
            threshold = float(np.percentile(np.fromiter(freq.values(), dtype=np.int64), pctile))
        if iteration > block:
            rare_ct[i] = rare
            gated[i] = True
    return rare_ct, gated


RARE_MODES = ("exact", "block", "off")


def resolve_rare_mode(cfg: EngineConfig, sizes: list[tuple[str, int]] | None = None) -> str:
    """Validate ``cfg.rare_mode`` and return it. ``sizes`` (per-source row
    counts) is accepted for callers that pass the stats rows along; the mode
    never depends on the input's size."""
    if cfg.rare_mode not in RARE_MODES:
        raise ValueError(f"unknown rare_mode {cfg.rare_mode!r}; expected one of {RARE_MODES}")
    return cfg.rare_mode


def _announced_paths(events: DataFrame, cols: list[str]) -> DataFrame:
    """The kernels' input: announcements with tokens, as (source, *cols,
    utokens). The snapshot is never part of it (the reference's RIB init
    never calls classify_as_path, bgpmetrics_as.py:310-334)."""
    return events.filter((F.col("kind") == "ann") & F.col("tokens").isNotNull()).select(
        "source", *cols, F.array_distinct("tokens").alias("utokens")
    )


def _event_schemas(cols: list[str]):
    """(arrow, spark) schemas of the per-event output (source, *cols, rare)."""
    import pyarrow as pa

    names = [*cols, "rare"]
    arrow = pa.schema([("source", pa.string()), *[(c, pa.int64()) for c in names]])
    spark = T.StructType(
        [T.StructField("source", T.StringType())]
        + [T.StructField(c, T.LongType()) for c in names]
    )
    return arrow, spark


def _event_batch(source, vals: dict, rare: np.ndarray, gated: np.ndarray, schema):
    """One Arrow batch of the gated rows of one source (None if none)."""
    import pyarrow as pa

    k = int(gated.sum())
    if not k:
        return None
    return pa.record_batch(
        [pa.array([source] * k, pa.string())]
        + [pa.array(v[gated], pa.int64()) for v in vals.values()]
        + [pa.array(rare[gated].astype(np.int64), pa.int64())],
        schema=schema,
    )


def rare_events_stream(
    events: DataFrame,
    cfg: EngineConfig | None = None,
    sizes: list[tuple[str, int]] | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-event rare counts, reference-exact — the 'exact' mode kernel.

    Shape: ONE shuffle by source + JVM sort within partitions, then a
    ``mapInArrow`` pass that walks each partition's (source-contiguous,
    ts-ordered) batches. Flat token access is zero-copy: the Arrow
    ListArray's values buffer IS the concatenated token stream, so the hot
    source costs ~the raw numpy kernel (~2s at 800k paths).

    Output: ``(source, ts, seq, *carry, rare)`` per gated announcement;
    ``carry`` names extra long columns passed through (e.g. ``bin``).

    Memory note: the kernel buffers one source's unique-token stream
    (8 bytes/token); a source whose stream exceeds executor memory should
    use rare_mode='block' (frozen thresholds, shardable) — the exact
    semantics (Q5) are inherently a per-source sequential recurrence."""
    cfg = cfg or EngineConfig()
    import pyarrow.compute as pc

    block, pct = cfg.rare_block, cfg.rare_pctile
    cols = ["ts", "seq", *carry]
    slim = _announced_paths(events, cols)
    # NOT a plain hash repartition: with n_sources ~ the shuffle partition
    # count, hash placement collides (birthday bound — 20 sources into 32
    # buckets collide with p>0.99), and a 2-source task is a 2x straggler
    # wave in this per-source-sequential stage. With per-source sizes
    # available (the pipeline's tiny stats aggregate), pack sources onto
    # partitions with LPT via operators/packing.py (collision-free,
    # skew-balanced, no sampling pass); otherwise fall back to
    # repartitionByRange on the single source key (equal keys always land
    # in one partition, so each source stays whole — ranging by
    # (source, ts) would split sources).
    if sizes:
        from bgp_feature_extractor_spark.operators.packing import repartition_packed

        part = repartition_packed(slim, "source", sizes)
    else:
        part = slim.repartitionByRange("source")
    part = part.sortWithinPartitions("source", "ts", "seq")
    arrow_schema, spark_schema = _event_schemas(cols)

    def gen(batches):
        cur = None
        flats: list[np.ndarray] = []
        lens: list[np.ndarray] = []
        vals: dict[str, list[np.ndarray]] = {c: [] for c in cols}

        def flush():
            if cur is None or not lens:
                return None
            rare, gated = rare_counts_from_flat(
                np.concatenate(flats), np.concatenate(lens), block, pct
            )
            return _event_batch(
                cur, {c: np.concatenate(v) for c, v in vals.items()}, rare, gated, arrow_schema
            )

        for b in batches:
            nm = b.schema.names
            src = b.column(nm.index("source")).to_numpy(zero_copy_only=False)
            cvals = {c: b.column(nm.index(c)).to_numpy(zero_copy_only=False) for c in cols}
            toks = b.column(nm.index("utokens"))
            n = len(src)
            if n == 0:
                continue
            # contiguous runs of equal source within the sorted partition
            starts = np.flatnonzero(np.concatenate(([True], src[1:] != src[:-1])))
            ends = np.concatenate((starts[1:], [n]))
            for i, j in zip(starts, ends):
                if src[i] != cur:
                    rb = flush()
                    if rb is not None:
                        yield rb
                    cur = src[i]
                    flats, lens = [], []
                    vals = {c: [] for c in cols}
                run = toks.slice(i, j - i)
                flats.append(run.flatten().to_numpy(zero_copy_only=False))
                lens.append(pc.list_value_length(run).to_numpy(zero_copy_only=False).astype(np.int64))
                for c in cols:
                    vals[c].append(cvals[c][i:j].astype(np.int64))
        rb = flush()
        if rb is not None:
            yield rb

    return part.mapInArrow(gen, spark_schema)


def rare_per_bin(rare_events: DataFrame, keys: tuple[str, ...] = ("source", "bin")) -> DataFrame:
    """Per-event rare counts -> per-bin ``number_rare_ases`` (sum),
    ``rare_ases_max`` and ``rare_ases_avg`` (mean over the same gated
    values, bgpmetrics_as.py:615-628). ``rare_events`` must carry ``keys``."""
    return rare_events.groupBy(*keys).agg(
        F.sum("rare").alias("number_rare_ases"),
        F.max("rare").alias("rare_ases_max"),
        F.avg("rare").alias("rare_ases_avg"),
    )


def rare_bins_from_events(
    rare_events: DataFrame, firsts: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """Re-bin per-event rare counts at ``cfg``'s width: bin by the
    per-source first_ts, then :func:`rare_per_bin`."""
    from bgp_feature_extractor_spark.operators.binning import with_bin

    return rare_per_bin(with_bin(rare_events, firsts, cfg))


def rare_bin_aggregates_stream(
    classified_binned: DataFrame,
    cfg: EngineConfig | None = None,
    sizes: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Per-(source, bin) rare aggregates of binned events, 'exact' mode."""
    return rare_per_bin(rare_events_stream(classified_binned, cfg, sizes=sizes, carry=("bin",)))


def rare_counts_block_loop(
    paths: list, block: int = 1000, pctile: float = 20.0, shard_paths: int = 50
) -> tuple[np.ndarray, np.ndarray]:
    """Pure-python reference for the 'block' relaxation's contract — used as
    the in-test oracle for rare_bin_aggregates_block.

    Differences from the reference-exact recurrence (Q5):
      * the threshold freezes at SHARD boundaries (every ``shard_paths``
        paths) instead of every ``block`` paths, and is computed from the
        counts of fully-completed prior shards only;
      * token frequencies used for rarity exclude within-shard increments
        from OTHER tokens' perspective — i.e. occ is still global and
        post-increment (identical to exact), only the threshold lags.
    The warm-up gate (p+1 >= block) is unchanged. Zero temporal leakage:
    shard k's threshold sees only paths < k*shard_paths."""
    n = len(paths)
    rare_ct = np.zeros(n, dtype=np.int32)
    gated = np.zeros(n, dtype=bool)
    freq: dict[int, int] = {}
    shard_start_freq: dict[int, int] = {}
    threshold = 0.0
    for i, toks in enumerate(paths):
        if i % shard_paths == 0:
            shard_start_freq = dict(freq)
            vals = [v for v in shard_start_freq.values() if v > 0]
            threshold = float(np.percentile(np.asarray(vals, dtype=np.int64), pctile)) if vals else 0.0
        rare = 0
        for tok in toks:
            f = freq.get(tok, 0) + 1
            freq[tok] = f
            if f < threshold:
                rare += 1
        if i + 1 >= block:
            rare_ct[i] = rare
            gated[i] = True
    return rare_ct, gated


_BLOCK_CNT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("tok", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)

_BLOCK_START_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("tok", T.LongType()),
        T.StructField("start_cnt", T.LongType()),
        T.StructField("thr", T.DoubleType()),
    ]
)


def _block_merge_kernel(pctile: float):
    """Per-source re-merge fold over the COMPACT (shard, tok, cnt) table:
    O(vocab x shards), independent of event count. Emits, for every
    (shard, tok) present, the token's cumulative count at shard start plus
    the shard's frozen threshold."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["shard", "tok"], kind="stable")
        shards = pdf["shard"].to_numpy(dtype=np.int64)
        tok_codes, tok_uniq = pd.factorize(pdf["tok"].to_numpy())
        cnt = pdf["cnt"].to_numpy(dtype=np.int64)
        V = len(tok_uniq)
        cum = np.zeros(V, dtype=np.int64)
        out_start = np.empty(len(pdf), dtype=np.int64)
        out_thr = np.empty(len(pdf), dtype=np.float64)
        bounds = np.searchsorted(shards, np.unique(shards))
        uniq_shards = np.unique(shards)
        ends = np.concatenate((bounds[1:], [len(pdf)]))
        for s, lo, hi in zip(uniq_shards, bounds, ends):
            seen = cum[cum > 0]
            thr = _percentile_linear(seen, pctile) if len(seen) else 0.0
            sl = slice(lo, hi)
            out_start[sl] = cum[tok_codes[sl]]
            out_thr[sl] = thr
            np.add.at(cum, tok_codes[sl], cnt[sl])
        return pd.DataFrame(
            {
                "source": pdf["source"].iloc[0],
                "shard": shards,
                "tok": pdf["tok"].to_numpy(),
                "start_cnt": out_start,
                "thr": out_thr,
            }
        )

    return kernel



def rare_events_block(
    events: DataFrame, cfg: EngineConfig | None = None, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-event rare counts under the 'block' relaxation — the salted,
    fully-parallel skew path (north-star: "skewed sources are salted and
    re-merged"). Output ``(source, ts, seq, *carry, rare)`` per gated
    announcement, like :func:`rare_events_stream`.

    Physical shape:
      1. per-source path index (JVM window; the only per-source sort),
         salt = p // rare_shard_paths -> (source, shard) keys;
      2. PASS A (mapInArrow, parallel over shards): per-shard token counts
         — compact (<= vocab rows/shard);
      3. RE-MERGE (applyInPandas per source over the compact counts):
         prefix-sums across shards -> per-(shard, tok) start counts +
         frozen per-shard P20 thresholds. O(vocab x shards) regardless of
         event count, so the serial fraction stays negligible at any SF;
      4. PASS B (mapInArrow, parallel over shards): start rows are UNIONed
         into the element stream ahead of each shard (state injection),
         the kernel computes global occurrence = start + local cumcount,
         flags rare (occ < thr) and gates (p+1 >= rare_block).

    Threshold semantics are the documented relaxation of quirk Q5 (frozen
    per shard, prior-shards-only — see rare_counts_block_loop); occurrence
    indices and gating are identical to 'exact'. Zero leakage holds:
    every threshold and occurrence uses strictly-prior paths."""
    cfg = cfg or EngineConfig()
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import Window
    S = cfg.rare_shard_paths
    block, pct = cfg.rare_block, cfg.rare_pctile
    cols = ["ts", "seq", *carry]

    wp = Window.partitionBy("source").orderBy("ts", "seq")
    paths = _announced_paths(events, cols).select(
        "*", (F.row_number().over(wp) - 1).alias("p")
    ).withColumn("shard", F.floor(F.col("p") / S))
    part = paths.repartition("source", "shard").sortWithinPartitions(
        "source", "shard", "p"
    )

    cnt_schema = pa.schema(
        [
            ("source", pa.string()),
            ("shard", pa.int64()),
            ("tok", pa.int64()),
            ("cnt", pa.int64()),
        ]
    )

    def pass_a(batches):
        # vectorized per-(source, shard) token counts: batches arrive sorted
        # by (source, shard, p), so keys form contiguous runs
        acc: dict[tuple, list] = {}
        for b in batches:
            nm = b.schema.names
            src = b.column(nm.index("source")).to_numpy(zero_copy_only=False)
            shard = b.column(nm.index("shard")).to_numpy(zero_copy_only=False)
            toks = b.column(nm.index("utokens"))
            n = len(src)
            if n == 0:
                continue
            change = np.concatenate(
                ([True], (src[1:] != src[:-1]) | (shard[1:] != shard[:-1]))
            )
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [n]))
            for i, j in zip(starts, ends):
                run = toks.slice(i, j - i)
                flat = run.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
                acc.setdefault((src[i], int(shard[i])), []).append(flat)
        rows_src, rows_shard, rows_tok, rows_cnt = [], [], [], []
        for (s, sh), flats in acc.items():
            uniq, c = np.unique(np.concatenate(flats), return_counts=True)
            rows_src.extend([s] * len(uniq))
            rows_shard.extend([sh] * len(uniq))
            rows_tok.extend(uniq.tolist())
            rows_cnt.extend(c.tolist())
        yield pa.record_batch(
            [
                pa.array(rows_src, pa.string()),
                pa.array(rows_shard, pa.int64()),
                pa.array(rows_tok, pa.int64()),
                pa.array(rows_cnt, pa.int64()),
            ],
            schema=cnt_schema,
        )

    cnts = part.mapInArrow(pass_a, _BLOCK_CNT_SCHEMA)
    merged = cnts.groupBy("source").applyInPandas(
        _block_merge_kernel(pct), _BLOCK_START_SCHEMA
    )

    # state injection: start rows (marker -1) sort ahead of elements within
    # each (source, shard) partition
    elems_in = part.select(
        "source",
        "shard",
        F.col("p"),
        *cols,
        "utokens",
        F.lit(None).cast("long").alias("tok"),
        F.lit(None).cast("long").alias("start_cnt"),
        F.lit(None).cast("double").alias("thr"),
        F.lit(0).alias("marker"),
    )
    starts_in = merged.select(
        "source",
        "shard",
        F.lit(None).cast("long").alias("p"),
        *[F.lit(None).cast("long").alias(c) for c in cols],
        F.lit(None).cast("array<int>").alias("utokens"),
        "tok",
        "start_cnt",
        "thr",
        F.lit(-1).alias("marker"),
    )
    union = (
        starts_in.unionByName(elems_in)
        .repartition("source", "shard")
        .sortWithinPartitions("source", "shard", "marker", "p")
    )
    arrow_schema, spark_schema = _event_schemas(cols)

    def pass_b(batches):
        # buffers for the current (source, shard) group
        cur = None
        s_tok: list[np.ndarray] = []
        s_cnt: list[np.ndarray] = []
        s_thr = [0.0]
        e_flat: list[np.ndarray] = []
        e_lens: list[np.ndarray] = []
        e_p: list[np.ndarray] = []
        e_vals: dict[str, list[np.ndarray]] = {c: [] for c in cols}

        def flush():
            if cur is None or not e_lens:
                return None
            flat = np.concatenate(e_flat).astype(np.int64)
            lens = np.concatenate(e_lens)
            ps = np.concatenate(e_p)
            # local post-increment occurrence within the shard (argsort trick)
            n_el = len(flat)
            occ = np.zeros(n_el, dtype=np.int64)
            if n_el:
                order = np.argsort(flat, kind="stable")
                sf = flat[order]
                new_run = np.empty(n_el, dtype=bool)
                new_run[0] = True
                new_run[1:] = sf[1:] != sf[:-1]
                starts2 = np.flatnonzero(new_run)
                run_idx = np.cumsum(new_run) - 1
                occ_sorted = np.arange(n_el, dtype=np.int64) - starts2[run_idx] + 1
                occ[order] = occ_sorted
                # add cross-shard start counts (sorted lookup)
                if s_tok:
                    st = np.concatenate(s_tok)
                    sc = np.concatenate(s_cnt)
                    o2 = np.argsort(st, kind="stable")
                    st, sc = st[o2], sc[o2]
                    pos = np.searchsorted(st, flat)
                    pos_c = np.clip(pos, 0, len(st) - 1)
                    hit = st[pos_c] == flat
                    occ = occ + np.where(hit, sc[pos_c], 0)
            is_rare = occ < s_thr[0]
            path_of = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            rare = np.bincount(path_of[is_rare], minlength=len(lens))
            vals = {c: np.concatenate(v) for c, v in e_vals.items()}
            return _event_batch(cur[0], vals, rare, (ps + 1) >= block, arrow_schema)

        for b in batches:
            nm = b.schema.names
            src = b.column(nm.index("source")).to_numpy(zero_copy_only=False)
            shard = b.column(nm.index("shard")).to_numpy(zero_copy_only=False)
            pcol = b.column(nm.index("p")).to_numpy(zero_copy_only=False)
            cvals = {c: b.column(nm.index(c)).to_numpy(zero_copy_only=False) for c in cols}
            toks = b.column(nm.index("utokens"))
            tok = b.column(nm.index("tok")).to_numpy(zero_copy_only=False)
            start_cnt = b.column(nm.index("start_cnt")).to_numpy(zero_copy_only=False)
            thrcol = b.column(nm.index("thr")).to_numpy(zero_copy_only=False)
            marker = b.column(nm.index("marker")).to_numpy(zero_copy_only=False)
            n = len(src)
            if n == 0:
                continue
            change = np.concatenate(
                ([True], (src[1:] != src[:-1]) | (shard[1:] != shard[:-1]))
            )
            rstarts = np.flatnonzero(change)
            rends = np.concatenate((rstarts[1:], [n]))
            for i, j in zip(rstarts, rends):
                key = (src[i], int(shard[i]))
                if key != cur:
                    rb = flush()
                    if rb is not None:
                        yield rb
                    cur = key
                    s_tok, s_cnt, s_thr = [], [], [0.0]
                    e_flat, e_lens, e_p = [], [], []
                    e_vals = {c: [] for c in cols}
                # start rows (marker -1) precede elements within the run
                mk = marker[i:j]
                n_start = int((mk == -1).sum())
                if n_start:
                    s_tok.append(tok[i : i + n_start].astype(np.int64))
                    s_cnt.append(start_cnt[i : i + n_start].astype(np.int64))
                    s_thr[0] = float(thrcol[i])
                if i + n_start < j:
                    run = toks.slice(i + n_start, j - i - n_start)
                    e_flat.append(run.flatten().to_numpy(zero_copy_only=False))
                    e_lens.append(
                        pc.list_value_length(run)
                        .to_numpy(zero_copy_only=False)
                        .astype(np.int64)
                    )
                    e_p.append(pcol[i + n_start : j].astype(np.int64))
                    for c in cols:
                        e_vals[c].append(cvals[c][i + n_start : j].astype(np.int64))
        rb = flush()
        if rb is not None:
            yield rb

    return union.mapInArrow(pass_b, spark_schema)


def rare_bin_aggregates_block(
    classified_binned: DataFrame, cfg: EngineConfig | None = None
) -> DataFrame:
    """Per-(source, bin) rare aggregates of binned events, 'block' mode."""
    return rare_per_bin(rare_events_block(classified_binned, cfg, carry=("bin",)))


def join_rare(
    per_bin: DataFrame,
    rare_pb: DataFrame | None,
    keys: tuple[str, ...] = ("source", "bin"),
) -> DataFrame:
    """Attach rare aggregates to the main per-bin matrix.

    Deliberately NOT a planner broadcast hint: ``F.broadcast(rare_pb)``
    would materialize the rare branch as a blocking broadcast-exchange job
    BEFORE the main DAG runs, serializing the two independent branches.
    As a plain equi-join both branches execute concurrently inside one job
    (the hot-source rare task hides under the classify/agg work), and AQE
    still converts the join to broadcast at runtime — the rare side is one
    row per (source, bin)."""
    if rare_pb is None:
        return (
            per_bin.withColumn("number_rare_ases", F.lit(0).cast("long"))
            .withColumn("rare_ases_max", F.lit(0).cast("long"))
            .withColumn("rare_ases_avg", F.lit(0.0))
        )
    out = per_bin.join(rare_pb, list(keys), "left")
    return (
        out.withColumn("number_rare_ases", F.coalesce("number_rare_ases", F.lit(0)))
        .withColumn("rare_ases_max", F.coalesce("rare_ases_max", F.lit(0)))
        .withColumn("rare_ases_avg", F.coalesce("rare_ases_avg", F.lit(0.0)))
    )
