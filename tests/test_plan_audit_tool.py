"""tools/plan_audit.py safety: atomic PLANS.md writes (an interrupted
audit never truncates the committed artifact) and strict argv
validation (unknown query names are rejected, not silently dropped)."""

from __future__ import annotations

import os
import subprocess
import sys

#: this checkout: its tools/plan_audit.py and committed PLANS.md
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "plan_audit.py")
PLANS = os.path.join(ROOT, "PLANS.md")


def _load_tool():
    import importlib.util
    spec = importlib.util.spec_from_file_location("plan_audit", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_atomic_write_replaces_whole_file(tmp_path):
    mod = _load_tool()
    p = str(tmp_path / "PLANS.md")
    with open(p, "w") as f:
        f.write("original artifact contents\n" * 10)
    mod.write_plans_atomic(p, "new contents\n")
    assert open(p).read() == "new contents\n"
    # no stray temp files left behind
    assert [n for n in os.listdir(tmp_path)
            if n.startswith(".plans_")] == []


def test_atomic_write_failure_leaves_original(tmp_path, monkeypatch):
    """If anything raises mid-write (the interrupted-run scenario),
    the committed artifact is untouched and the temp file is cleaned."""
    mod = _load_tool()
    p = str(tmp_path / "PLANS.md")
    with open(p, "w") as f:
        f.write("committed artifact\n")

    real_replace = os.replace

    def boom(src, dst):
        raise KeyboardInterrupt("interrupted during finalize")

    monkeypatch.setattr(os, "replace", boom)
    try:
        try:
            mod.write_plans_atomic(p, "half-finished audit\n")
        except KeyboardInterrupt:
            pass
    finally:
        monkeypatch.setattr(os, "replace", real_replace)
    assert open(p).read() == "committed artifact\n"
    assert [n for n in os.listdir(tmp_path)
            if n.startswith(".plans_")] == []


def test_unknown_query_arg_rejected():
    """`plan_audit.py not_a_query` must exit non-zero WITHOUT touching
    PLANS.md (previously: silently audited nothing and truncated the
    artifact to a 3-line header)."""
    before = open(PLANS).read()
    res = subprocess.run(
        [sys.executable, TOOL, "definitely_not_a_query_name"],
        capture_output=True, text=True, timeout=300)
    assert res.returncode == 2
    assert "unknown query name" in res.stderr
    assert open(PLANS).read() == before


def test_gps_utc_leap_table():
    from birli_spark.functions import timeutil as T
    # the reference's own fixtures pin these (filename timestamps):
    # 1196175296 -> 2017-12-01T14:54:38Z, 1297526432 -> 2021-02-16T16:00:14Z
    assert T.gps_to_unix_s(1196175296) == 1512140078
    assert T.gps_to_unix_s(1297526432) == 1613491214
    assert T.gps_utc_offset_s(1254670392) == 18
    # pre-2012 offsets step correctly
    assert T.gps_utc_offset_s(0) == 0
    assert T.gps_utc_offset_s(1025136015) == 16
    assert T.gps_utc_offset_s(1025136014) == 15
    # round trip, INCLUDING instants inside the post-leap window where
    # the zeroth inverse estimate falls before the step (the fixed
    # point needs a correction pass there)
    steps = [s for s, _ in T._GPS_UTC_STEPS]
    probes = [1119683928, 1196175296, 1254670392, 1297526432]
    probes += [s + d for s in steps[1:] for d in (1, 2, 17, 18, 19)]
    for gps in probes:
        assert T.unix_to_gps_s(T.gps_to_unix_s(gps)) == gps, gps
    # AT the insertion instant the mapping is genuinely 2-to-1 (UTC
    # repeats a second), so the inverse may return either preimage
    for s in steps[1:]:
        assert abs(T.unix_to_gps_s(T.gps_to_unix_s(s)) - s) <= 1, s
