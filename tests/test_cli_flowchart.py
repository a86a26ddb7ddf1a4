"""Characterization of the CLI flowchart: ``cli.run`` over an option
matrix on both input surfaces — the synthetic sf directory and a small
generated legacy archive (metafits + gpubox) — with the sha256 of every
file each run writes pinned in ``data_cli_flowchart_pins.json``.

Physical files (UVFITS, mwaf, casacore tables, JSON headers) are hashed
byte for byte. Spark parquet part files carry a per-write UUID in their
names and split rows across parts by scheduling, so each parquet
directory is hashed as its canonical row set: every part read, rows
sorted by every column, rendered as CSV. Checksum and ``_SUCCESS``
marker files are skipped.

Re-record the pins (only when an output change is intended):

    python tests/test_cli_flowchart.py --record SF_DIR

with SF_DIR the sf0.001 directory the ``sf_dir`` fixture names.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data_cli_flowchart_pins.json")

UV = ["-u", "out.uvfits"]

#: entry -> (surface, argv tail). Paths are relative to the run's own
#: output directory.
MATRIX: dict[str, tuple[str, list[str]]] = {}
_SHARED = {
    "default": UV,
    "van_vleck": ["--van-vleck", *UV],
    "pfb_cotter": ["--pfb-gains", "cotter", *UV],
    "flag_cc_edge_ants": ["--flag-coarse-chans", "1", "--flag-edge-chans",
                          "1", "--flag-antennas", "0", *UV],
    "sel_ants_autos_flagged": ["--sel-ants", "0", "1", "3", "--no-sel-autos",
                               "--no-sel-flagged-ants", *UV],
    "ssins": ["--ssins", *UV],
    "rfi_iterative": ["--rfi-iterative", *UV],
    "phase_centre": ["--phase-centre", "10.0", "-30.0", *UV],
}
#: the -M and -f sinks in one run
_SINKS = ["--no-rfi", "-M", "out.ms", "-f", "mwaf"]
for _name, _tail in _SHARED.items():
    MATRIX[f"syn/{_name}"] = ("syn", _tail)
    MATRIX[f"arc/{_name}"] = ("arc", _tail)
MATRIX["syn/no_cable_digital"] = (
    "syn", ["--no-cable-delay", "--no-digital-gains", *UV])
MATRIX["syn/averaging"] = (
    "syn", ["--avg-time-factor", "2", "--avg-freq-factor", "2", *UV])
MATRIX["syn/sinks"] = ("syn", [*_SINKS, "--flag-parquet", "flags"])
MATRIX["arc/sinks_averaged"] = (
    "arc", [*_SINKS, "--avg-time-factor", "2", "--avg-freq-factor", "2"])


def _legacy_shape():
    from perfbench import inputs

    return inputs.LegacyShape(n_ants=4, n_fine=8, n_scans=8)


def legacy_obs(root: str) -> dict:
    from perfbench import inputs

    return inputs.legacy_obs(root, 3, _legacy_shape())


def _argv(entry: str, out: str, obs: dict, sf_dir: str) -> list[str]:
    surface, tail = MATRIX[entry]
    head = ([sf_dir] if surface == "syn"
            else ["-m", obs["metafits"], "--gpubox", obs["glob"]])
    path_opts = {"-u", "-M", "-f", "--flag-parquet"}
    argv = list(tail)
    for i, a in enumerate(argv[:-1]):
        if a in path_opts:
            argv[i + 1] = os.path.join(out, argv[i + 1])
    return head + argv + ["--no-draw-progress"]


def _parquet_digest(paths: list[str]) -> str:
    import pandas as pd
    import pyarrow.parquet as pq

    df = pd.concat([pq.read_table(p).to_pandas() for p in paths],
                   ignore_index=True)
    df = df.sort_values(list(df.columns), kind="mergesort")
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def output_digests(out: str) -> dict[str, str]:
    """relative path -> sha256 for every file under ``out``; the part
    files of one parquet directory fold into one ``<dir>/*.parquet``
    entry over their canonical row set."""
    digests: dict[str, str] = {}
    parts: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(out):
        rel_root = os.path.relpath(root, out)
        for name in files:
            if name.endswith(".crc") or name == "_SUCCESS":
                continue
            path = os.path.join(root, name)
            if name.endswith(".parquet"):
                parts.setdefault(rel_root, []).append(path)
                continue
            with open(path, "rb") as f:
                digests[os.path.normpath(os.path.join(rel_root, name))] = \
                    hashlib.sha256(f.read()).hexdigest()
    for rel_root, paths in parts.items():
        digests[os.path.join(rel_root, "*.parquet")] = _parquet_digest(
            sorted(paths))
    return dict(sorted(digests.items()))


def run_entry(spark, entry: str, out: str, obs: dict,
              sf_dir: str) -> dict[str, str]:
    from birli_spark import cli

    os.makedirs(out, exist_ok=True)
    cli.run(_argv(entry, out, obs, sf_dir), spark=spark)
    return output_digests(out)


@pytest.fixture(scope="module")
def obs(tmp_path_factory):
    return legacy_obs(str(tmp_path_factory.mktemp("flowchart_obs")))


@pytest.fixture(scope="module")
def pins():
    with open(PINS) as f:
        return json.load(f)


@pytest.mark.parametrize("entry", sorted(MATRIX))
def test_cli_outputs_match_pins(spark, sf_dir, obs, pins, entry, tmp_path):
    got = run_entry(spark, entry, str(tmp_path / "out"), obs, sf_dir)
    assert got, f"{entry}: no files written"
    assert got == pins[entry]


def _arc(obs: dict, *opts: str):
    from birli_spark import cli

    return cli.parse_args(["-m", obs["metafits"], "--gpubox", obs["glob"],
                           *opts])


def test_archive_strategy_presets_run_plain_sumthreshold(spark, obs,
                                                         monkeypatch):
    """--aoflagger-strategy default|sensitive|conservative|<n> runs the
    plain SumThreshold arm on archives too, as --help documents."""
    from birli_spark import cli
    from birli_spark.operators import rfi

    seen = []

    def plain(vis, base_sensitivity=6.0, sir_eta=None):
        seen.append(base_sensitivity)
        return vis

    def mwa(*a, **k):
        raise AssertionError("mwa orchestration ran for a preset")

    monkeypatch.setattr(rfi, "flag_rfi", plain)
    monkeypatch.setattr(rfi, "flag_rfi_mwa", mwa)
    for strategy in ("default", "sensitive", "conservative", "7.5"):
        cli.build_baked(spark, _arc(obs, "--aoflagger-strategy", strategy))
    assert seen == [6.0, 4.5, 8.0, 7.5]


def test_archive_timestep_and_baseline_limits(spark, obs):
    from pyspark.sql import functions as F

    from birli_spark import cli

    out = cli.build_plan(spark, _arc(obs, "--no-rfi", "--timestep-limit",
                                     "3", "--baseline-limit", "5"))
    got = out.agg(F.max("t"), F.max("bl"),
                  F.countDistinct("t", "bl")).collect()[0]
    assert tuple(got) == (2, 4, 15)


def test_archive_gate_pool_honours_baseline_limit(spark, obs):
    """With --baseline-limit the rule-dim gate pool is the first N
    baselines, like the fact: here those are exactly the baselines of a
    flagged antenna, so every (t, cc) cell is fully flagged and the
    derived gate must equal the gate aggregated from the fact."""
    from birli_spark import cli, real_input

    class Aggregated(real_input.ArchiveObservation):
        def cell_gate(self, spark, rules, bl_pred):
            return None

    ctx = _arc(obs, "--no-rfi", "--flag-antennas", "0",
               "--baseline-limit", "4")
    keys = ["t", "bl", "chan"]
    derived = cli.build_baked(spark, ctx).toPandas()
    aggregated = cli.build_baked(spark, ctx, Aggregated(
        spark, obs["metafits"], obs["glob"])).toPandas()
    assert len(derived) == 8 * 24 * 8 * 4
    assert derived.sort_values(keys, ignore_index=True).equals(
        aggregated.sort_values(keys, ignore_index=True))


def test_archive_selected_dims(spark, obs):
    """--max-memory and the SSINS fan-out size a selection from the
    archive's metadata: scheduled scans, upper-triangle baselines, every
    fine channel; None where only a scan can tell."""
    from birli_spark import real_input
    from perfbench import inputs

    arc = real_input.ArchiveObservation(spark, obs["metafits"], obs["glob"])

    def dims(*opts):
        return arc.selected_dims(_arc(obs, *opts))

    n_chan = inputs.N_CC * 8
    assert dims() == (8, 4 * 5 // 2, n_chan)
    assert dims("--sel-time", "1", "99", "--sel-ants", "0", "1", "2",
                "--no-sel-autos") == (7, 3, n_chan)
    assert dims("--no-sel-flagged-ants") is None
    assert dims("--baseline-limit", "3") is None


def test_archive_ssins_decodes_once(spark, obs, tmp_path, decoded_files):
    """--ssins feeds the decoded fact to the SSINS mask aggregate and to
    the join-back probe; the archive decode still runs once per file."""
    import glob

    from birli_spark import cli

    cli.run(_argv("arc/ssins", str(tmp_path), obs, ""), spark=spark)
    assert decoded_files.value / len(glob.glob(obs["glob"])) == 1.0


def test_archive_sinks_decode_once(spark, obs, tmp_path, decoded_files):
    """-M, -f and the row count all read the baked plan; it is
    materialized once, so the archive decode still runs once per
    file."""
    import glob

    from birli_spark import cli

    cli.run(_argv("arc/sinks_averaged", str(tmp_path), obs, ""),
            spark=spark)
    assert decoded_files.value / len(glob.glob(obs["glob"])) == 1.0


def test_archive_uvfits_alone_is_not_materialized(spark, obs, tmp_path,
                                                  monkeypatch):
    """A lone physical -u has one reader (its own checkpoint of the
    group rows), so the baked plan is not materialized."""
    from birli_spark import cli, pipeline

    def forbidden(*a, **k):
        raise AssertionError("the baked plan was materialized")

    monkeypatch.setattr(pipeline, "fanout_materialize", forbidden)
    cli.run(_argv("arc/default", str(tmp_path), obs, ""), spark=spark)


def test_archive_file_uri_matches_bare_path(spark, obs, tmp_path):
    """--gpubox accepts a file: URI and writes the same UVFITS bytes as
    the bare path."""
    from birli_spark import cli

    written = []
    for tag, glob_ in (("bare", obs["glob"]),
                       ("uri", "file://" + obs["glob"])):
        out = str(tmp_path / f"{tag}.uvfits")
        cli.run(["-m", obs["metafits"], "--gpubox", glob_, "--no-rfi",
                 "-u", out, "--no-draw-progress"], spark=spark)
        with open(out, "rb") as f:
            written.append(f.read())
    assert written[0] == written[1]


def test_synthetic_flag_sinks_follow_cli_options(spark, sf_dir, tmp_path):
    """-f and --flag-parquet write the run's own flags (from the baked
    weights): an extra --flag-antennas reaches both files."""
    import glob

    import pandas as pd

    from birli_spark import cli
    from birli_spark.sinks import mwaf

    n_flagged = {}
    for tag, extra in (("base", []), ("ant0", ["--flag-antennas", "0"])):
        out = tmp_path / tag
        cli.run([sf_dir, "--no-rfi", "-f", str(out / "mwaf"),
                 "--flag-parquet", str(out / "flags"), *extra,
                 "--no-draw-progress"], spark=spark)
        n_flagged[tag] = sum(
            int(mwaf.read_mwaf(p)[1].sum())
            for p in glob.glob(str(out / "mwaf" / "*.mwaf")))
        rows = pd.read_parquet(str(out / "flags" / "flags"))
    on_ant0 = (rows.ant1 == 0) | (rows.ant2 == 0)
    assert on_ant0.any() and rows.flag[on_ant0].all()
    assert n_flagged["ant0"] > n_flagged["base"]


def test_synthetic_no_geometric_delay_keeps_uvws(spark, sf_dir):
    """--no-geometric-delay attaches the UVWs and skips only the phase
    rotation."""
    from birli_spark import cli

    keys = ["t", "ant1", "ant2", "chan"]

    def baked(*opts):
        ctx = cli.parse_args([sf_dir, "--no-rfi", *opts])
        return (cli.build_baked(spark, ctx)
                .dropDuplicates(keys).orderBy(*keys).toPandas())

    on, off = baked(), baked("--no-geometric-delay")
    assert (off[["u", "v", "w"]] == on[["u", "v", "w"]]).all().all()
    assert (off.w != 0).any()
    assert (off.xy_re != on.xy_re).any()


@pytest.mark.parametrize("n_sol_chans, ratio", [(24, 1), (12, 2), (6, 4)])
def test_synthetic_calibration_ratio_from_calsol_file(
        spark, sf_dir, tmp_path, monkeypatch, n_sol_chans, ratio):
    from birli_spark import cli
    from birli_spark.operators import calibration
    from birli_spark.sources import aocal

    path = str(tmp_path / "cal.bin")
    aocal.write_synthetic_calsols(path, 4, n_sol_chans)
    seen = []
    monkeypatch.setattr(calibration, "apply_di_calsol",
                        lambda vis, sols, r: seen.append(r) or vis)
    cli.build_baked(spark, cli.parse_args([sf_dir, "--no-rfi",
                                           "--apply-di-cal", path]))
    assert seen == [ratio]


def record(sf_dir: str, path: str = PINS) -> None:
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from birli_spark.session import get_spark

    spark = get_spark("cli_flowchart_record", cpus=8)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            o = legacy_obs(os.path.join(tmp, "obs"))
            pinned = {e: run_entry(spark, e, os.path.join(tmp, e), o,
                                   sf_dir)
                      for e in sorted(MATRIX)}
    finally:
        spark.stop()
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        raise SystemExit(__doc__)
    record(sys.argv[2])
