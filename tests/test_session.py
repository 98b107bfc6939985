"""The default session fits its host and its Python workers import the
engine however the driver was launched."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter outside the repository: only the driver's
# sys.path learns where the repository is, so the Arrow UDF workers can
# import the engine only through the session's own configuration.
DRIVER = f"""
import os, sys
sys.path.insert(0, {REPO!r})
import __spark_entry__ as entrymod
from bgp_feature_extractor_spark.session import get_spark

spark = get_spark(app_name="session-test")
print("MASTER", spark.sparkContext.master)
print("ROWS", entrymod.queries()["multi_width"](spark, "/root/testdata/sf0.001").count())
spark.stop()
"""


def test_default_session_fits_host_and_workers_import_engine(tmp_path):
    env = {
        k: v
        for k, v in os.environ.items()
        if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")
    }
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = dict(
        line.split(" ", 1)
        for line in proc.stdout.splitlines()
        if line.startswith(("MASTER ", "ROWS "))
    )
    assert out["MASTER"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert int(out["ROWS"]) > 0
