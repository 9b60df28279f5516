"""The driver-contract stream queries leave no files behind: every
query's input, checkpoint and output go under one per-process temp
root that is removed when the interpreter exits."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

_SCRIPT = f"""
import os, sys
sys.path.insert(0, {REPO!r})
import __spark_entry__ as e
from timeseriesflattener_spark import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
rows = e.queries()["stream_m4"](spark, {SF_DIR!r}).count()
print("ROWS", rows, "TSF", sorted(n for n in os.listdir(sys.argv[1]) if n.startswith("tsf-")))
spark.stop()
"""


def test_stream_query_leaves_no_temp_dir(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp)}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("ROWS"))
    assert int(line.split()[1]) > 0
    assert "tsf-" in line  # the query did write under this temp dir
    assert not [n for n in os.listdir(tmp) if n.startswith("tsf-")]
