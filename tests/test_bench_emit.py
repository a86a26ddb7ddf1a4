"""The bench contract the driver actually depends on: `python bench.py`
must end with ONE stdout line that `json.loads` cleanly (BENCH_r07 had
`parsed: null` because a streaming StateStore maintenance thread logged
a WARN after the JSON — bench now stops every stream and the session
before emitting)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

#: this checkout, whose bench.py the test runs
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_last_stdout_line_is_json():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # restricted list: one cheap batch query + one streaming query so a
    # StateStore maintenance thread actually exists in the session (the
    # thread whose post-JSON WARN broke the round-7 artifact)
    env["SPARK_GRAFT_QUERIES"] = "s1_vis_scan,st13_stream_calsol_drift"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True, text=True, timeout=900, env=env, cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    payload = json.loads(lines[-1])  # the driver's exact parse
    assert payload["metric"] == "headline_queries_total"
    assert payload["unit"] == "sec"
    assert set(payload["queries"]) == {
        "s1_vis_scan", "st13_stream_calsol_drift"}
    assert payload["value"] > 0
    assert payload["sf"] == 0.001
