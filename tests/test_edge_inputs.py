"""Both public feature-matrix plans on degenerate inputs: ``feature_matrix``
(one width) and ``multi_width_matrices`` (widths 1 and 5) equal the
reference oracle wherever it produces rows, and return no rows (without
raising) where it has nothing to replay."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bgp_feature_extractor_spark.config import EngineConfig, golden_columns
from bgp_feature_extractor_spark.oracle import ReferenceOracle
from bgp_feature_extractor_spark.plans.feature_matrix import (
    feature_matrix,
    multi_width_matrices,
)
from tests.conftest import EVENT_SCHEMA, events_sdf

WIDTHS = (1, 5)
COLS = [f.name for f in EVENT_SCHEMA.fields]


def _events(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=COLS)


INPUTS = {
    "empty": _events([]),
    "single_event": _events([("s0", "d0", 1_000, 1, "ann", [1, 2, 3], 0, {"NH": "a"})]),
    # every event of the one source falls in bin 0 at both widths
    "one_source_one_bin": _events(
        [
            ("s0", "d0", 1_000, 1, "ann", [1, 2, 3], 0, {"NH": "a"}),
            ("s0", "d1", 1_010, 2, "ann", [1, 2], 1, {"NH": "a"}),
            ("s0", "d0", 1_020, 3, "ann", [1, 2, 4], 0, {"NH": "b"}),
            ("s0", "d1", 1_030, 4, "wd", None, None, None),
            ("s0", "d0", 1_059, 5, "ann", [1, 2, 4], 0, {"NH": "b"}),
        ]
    ),
    # withdrawals only: no event carries tokens; several bins at width 1
    "all_null_tokens": _events(
        [
            ("s0", "d0", 1_000, 1, "wd", None, None, None),
            ("s0", "d1", 1_400, 2, "wd", None, None, None),
            ("s1", "d0", 1_000, 1, "wd", None, None, None),
        ]
    ),
}


def _oracle(ev: pd.DataFrame, width: int) -> pd.DataFrame | None:
    if ev.empty:
        return None  # the oracle replays per source: nothing to replay
    return ReferenceOracle(EngineConfig(minutes_window=width)).run(ev)


def _assert_matches(got: pd.DataFrame, want: pd.DataFrame | None, cfg: EngineConfig):
    if want is None:
        assert len(got) == 0
        return
    key = ["source", "bin"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got["source"].values == want["source"].values).all()
    assert (got["bin"].values == want["bin"].values).all()
    for col in golden_columns(cfg):
        g, w = got[col], want[col]
        if col == "timestamp":
            g, w = pd.to_datetime(g).astype("int64"), pd.to_datetime(w).astype("int64")
        np.testing.assert_allclose(
            np.asarray(g, np.float64), np.asarray(w, np.float64), rtol=1e-9, atol=0, err_msg=col
        )


@pytest.mark.parametrize("plan", ["feature_matrix", "multi_width"])
@pytest.mark.parametrize("name", list(INPUTS))
def test_edge_input_matches_oracle(spark, name, plan):
    ev = INPUTS[name]
    sdf = events_sdf(spark, ev)
    if plan == "feature_matrix":
        cfg = EngineConfig(minutes_window=1)
        _assert_matches(feature_matrix(sdf, None, cfg).toPandas(), _oracle(ev, 1), cfg)
        return
    caches: list = []
    got = multi_width_matrices(sdf, None, EngineConfig(), widths=WIDTHS, caches=caches).toPandas()
    assert set(got["minutes_window"]) <= set(WIDTHS)
    for w in WIDTHS:
        part = got[got["minutes_window"] == w].drop(columns=["minutes_window"])
        _assert_matches(part, _oracle(ev, w), EngineConfig(minutes_window=w))
    for c in caches:
        c.unpersist()
