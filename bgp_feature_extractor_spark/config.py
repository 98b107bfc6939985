"""Engine configuration.

Mirrors the reference's run parameters (`feature-extractor.py:26-40`:
collector/peer/timesteps/rib) re-expressed for a table-driven engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the feature-matrix pipeline.

    Parity notes (reference file:line):
      * ``minutes_window`` → ``bgpmetrics_as.py:277-280`` (`bin_size = 60*t`).
      * ``pivot_limit``    → ``bgpmetrics_as.py:176-185`` (dict keys < 11).
      * ``rare_block``     → ``bgpmetrics_as.py:607-614`` (threshold re-percentiled
        every 1000 paths; stats gated until 1000 paths seen).
      * ``rare_pctile``    → ``bgpmetrics_as.py:610`` (P20 of the AS-frequency table).
      * ``batch_size``     → ``label_csv.py:98-104`` (pad to multiple of 32).
    """

    minutes_window: int = 1
    pivot_limit: int = 11
    origin_values: tuple[int, ...] = (0, 1, 2)
    rare_block: int = 1000
    rare_pctile: float = 20.0
    batch_size: int = 32
    # 'exact' = reference-faithful (quirk Q5): Arrow-streaming per-source
    #           kernel, zero-copy flat tokens (operators/rare.rare_events_stream);
    # 'block' = salted shards + re-merge (thresholds frozen per shard —
    #           documented relaxation; fully parallel on a hot source;
    #           operators/rare.rare_events_block);
    # 'off'   = rare family pinned to 0 (drops the only sequentially-
    #           constrained features).
    # Any other value is rejected with ValueError when the plan is built.
    rare_mode: str = "exact"
    # attrs_sig keys with this prefix model BGP attribute types the reference
    # does not know how to compare: is_equal returns None -> "different"
    # (quirk Q6, bgpmetrics_as.py:677-722).
    unknown_attr_prefix: str = "_unk"
    # 'block' rare mode: paths-per-shard for the salted hot-source split
    # (thresholds freeze at shard boundaries; shards process in parallel
    # and partials re-merge — operators/rare.rare_events_block)
    rare_shard_paths: int = 50_000

    @property
    def bin_size(self) -> int:
        return 60 * int(self.minutes_window)


# Column families of the exported wide matrix, matching the golden CSV header
# (datasets/features-slammer-rrc04-513-1.csv: 52 columns, alphabetical —
# pandas dict->DataFrame ordering; `label_csv.py:37-51` pads the pivots).
SCALAR_FEATURES = [
    "ann_to_longer",
    "ann_to_shorter",
    "announcements",
    "as_path_avg",
    "as_path_max",
    "class",
    "dups",
    "edit_distance_avg",
    "edit_distance_max",
    "flaps",
    "imp_wd",
    "imp_wd_dpath",
    "imp_wd_spath",
    "nadas",
    "news",
    "nlri_ann",
    "number_rare_ases",
    "origin_changes",
    "rare_ases_avg",
    "rare_ases_max",
    "unique_as_path_avg",
    "unique_as_path_max",
    "wd_dups",
    "withdrawals",
]


def pivot_columns(cfg: EngineConfig) -> list[str]:
    cols = [f"edit_distance_dict_{k}" for k in range(cfg.pivot_limit)]
    cols += [f"edit_distance_unique_dict_{k}" for k in range(cfg.pivot_limit)]
    cols += [f"origin_{k}" for k in cfg.origin_values]
    return cols


def golden_columns(cfg: EngineConfig) -> list[str]:
    """The 52-column reference layout, alphabetical like the golden CSVs."""
    return sorted(SCALAR_FEATURES + pivot_columns(cfg) + ["timestamp", "timestamp2"])
