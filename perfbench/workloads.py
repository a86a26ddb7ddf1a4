"""The benchmark's workloads. Each one prepares its inputs (outside
every timer), runs one iteration through the package's public entry
point, and checks that iteration's output.

- ``cli_legacy_obs``: ``cli.run`` on a generated legacy observation —
  the production default chain (legacy decode, metafits flag rules,
  cable and digital gains, the mwa-default float RFI Python island,
  precessed geometry, averaging, physical UVFITS).
- ``e2e_ssins``: ``pipeline_e2e.e2e_rows`` — the other archive reader,
  the all-relational SSINS flagger, the reliable-checkpoint fan-out
  and the same UVFITS sink.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import shutil

import numpy as np

from perfbench import inputs


#: committed output fingerprints, one per (workload, shape, input
#: variant), written by ``perfbench/pin.py``
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
#: random projections per fingerprinted quantity
N_PROJ = 8
#: allowed drift of a fingerprint entry, as a share of its quantity's
#: pinned norm. Float32 rounding of a reordered sum moves a projection
#: by ~1e-7 of the norm; one visibility off by its own size moves it by
#: ~1e-3 of the norm at these shapes.
RTOL = 1e-5


@functools.lru_cache(maxsize=8)
def _projector(size: int) -> np.ndarray:
    return np.random.default_rng(size).standard_normal((N_PROJ, size))


def fingerprint(params: np.ndarray, data: np.ndarray) -> dict:
    """Order-independent digest of a read-back UVFITS: for the
    visibilities, the weights and the UVWs, the norm and ``N_PROJ``
    seeded random projections, over the groups sorted by (DATE,
    BASELINE). Any change to any value beyond float rounding moves
    it."""
    order = np.lexsort((params[:, 3], params[:, 4]))
    p, d = params[order], data[order]
    out = {}
    for name, x in (("vis", d[..., :2]), ("weight", d[..., 2]),
                    ("uvw", p[:, :3])):
        flat = np.ascontiguousarray(x).reshape(-1)
        out[name] = {"norm": float(np.linalg.norm(flat)),
                     "proj": (_projector(flat.size) @ flat).tolist()}
    return out


def fingerprint_problems(got: dict, pinned: dict) -> list[str]:
    problems = []
    for name, ref in pinned.items():
        tol = RTOL * ref["norm"]
        if abs(got[name]["norm"] - ref["norm"]) > tol:
            problems.append(f"{name} norm {got[name]['norm']!r} != "
                            f"pinned {ref['norm']!r}")
        off = [i for i, (a, b) in enumerate(zip(got[name]["proj"],
                                                 ref["proj"]))
               if abs(a - b) > tol]
        if off:
            problems.append(f"{name} projections {off} differ from the pin")
    return problems


def load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


class Workload:
    """One workload bound to a seed and a work directory."""

    name = ""
    #: f32-equivalent visibility payload of one iteration, bytes
    payload_bytes = 0
    #: expected cube rows one archive decode yields
    cube_rows = 0
    #: distinct inputs; the seed picks one, and each has a committed pin
    N_VARIANTS = 1

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.variant = seed % self.N_VARIANTS
        self.out = os.path.join(work, "out", f"{self.name}.uvfits")
        os.makedirs(os.path.dirname(self.out), exist_ok=True)

    def prepare(self) -> None:
        """Generate the inputs (cached) — outside every timer."""

    def iterate(self, spark):
        """One timed iteration of the workload's public entry point."""
        raise NotImplementedError

    def check(self, spark, result, first: bool) -> list[str]:
        """Problems with this iteration's output (empty when correct)."""
        raise NotImplementedError

    def cleanup(self, spark) -> None:
        """Between iterations, outside the timer: release the blocks the
        library leaves pinned and delete this iteration's files."""
        from bench import release_leaked_blocks

        release_leaked_blocks(spark)
        if os.path.exists(self.out):
            os.remove(self.out)

    def output_bytes(self) -> int:
        return os.path.getsize(self.out) if os.path.exists(self.out) else 0

    def checkpoint_bytes(self) -> int:
        """Reliable-checkpoint bytes the last iteration left on disk."""
        return 0

    # ---------------------------------------------------------------
    def pin_key(self) -> str:
        return f"{self.name}/{self.shape_tag()}/v{self.variant}"

    def read_output(self):
        from birli_spark.sinks import uvfits

        return uvfits.read_uvfits(self.out)

    def _check_uvfits(self, n_groups: int, n_chan: int,
                      flagged_ants: list[int]) -> list[str]:
        """Shared UVFITS checks, on the file read back with the
        package's reader: its fingerprint against the committed pin
        (a missing pin is a failure), the group grid, the flagged tiles
        and the quack block (both workloads quack 4 s = the first two
        2 s scans = output time block 0)."""
        header, params, data = self.read_output()
        pinned = load_pins().get(self.pin_key())
        if pinned is None:
            problems = [f"no pinned fingerprint for {self.pin_key()}"]
        else:
            problems = fingerprint_problems(fingerprint(params, data), pinned)
        if int(header["GCOUNT"]) != n_groups:
            problems.append(f"GCOUNT {header['GCOUNT']} != {n_groups}")
        if data.shape[1] != n_chan:
            problems.append(f"{data.shape[1]} channels != {n_chan}")
        weights = data[..., 2]
        bl_code = np.rint(params[:, 3]).astype(np.int64)
        ant1, ant2 = bl_code // 256 - 1, bl_code % 256 - 1
        on_flagged = np.isin(ant1, flagged_ants) | np.isin(ant2, flagged_ants)
        if not on_flagged.any() or (weights[on_flagged] > 0).any():
            problems.append("flagged-tile baselines carry live weights")
        dates = params[:, 4]
        first_block = dates == dates.min()
        if (weights[first_block] > 0).any():
            problems.append("quacked first time block carries live weights")
        if not (weights > 0).any():
            problems.append("no live visibilities in the output")
        return problems

    def shape_tag(self) -> str:
        return ""


class CliLegacyObs(Workload):
    """``cli.run`` on one of ``N_VARIANTS`` generated observations."""

    name = "cli_legacy_obs"
    SHAPE = inputs.LegacyShape(n_ants=16, n_fine=16, n_scans=8)
    AVG_TIME, AVG_FREQ = 2, 4
    N_VARIANTS = 8

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.payload_bytes = self.SHAPE.payload_bytes
        self.cube_rows = self.SHAPE.cube_rows
        self.obs: dict = {}

    def shape_tag(self) -> str:
        return self.SHAPE.tag()

    def prepare(self) -> None:
        self.obs = inputs.legacy_obs(os.path.join(self.work, "inputs"),
                                     self.variant, self.SHAPE)

    def argv(self) -> list[str]:
        return ["-m", self.obs["metafits"], "--gpubox", self.obs["glob"],
                "-u", self.out,
                "--avg-time-factor", str(self.AVG_TIME),
                "--avg-freq-factor", str(self.AVG_FREQ),
                "--no-draw-progress"]

    def iterate(self, spark):
        from birli_spark import cli

        return cli.run(self.argv(), spark=spark)

    def check(self, spark, result, first: bool) -> list[str]:
        s = self.SHAPE
        n_groups = s.n_scans // self.AVG_TIME * s.n_baselines
        n_chan = inputs.N_CC * s.n_fine // self.AVG_FREQ
        problems = []
        if result.get("rows") != n_groups * n_chan:
            problems.append(f"cli rows {result.get('rows')} != "
                            f"{n_groups * n_chan}")
        return problems + self._check_uvfits(n_groups, n_chan,
                                             self.obs["flagged"])


class E2eSsins(Workload):
    """``e2e_rows`` at the module's own shape (x1, 835k cube rows), so
    its DuckDB oracle applies to the benchmark's own output. The fan-out
    takes the reliable-checkpoint spelling through the package's
    SPARK_GRAFT_FANOUT_PERSIST override (set by run.py for this
    workload only): at its default size threshold (4 M rows) one cold
    iteration would not fit the run's time budget on a 4-core box."""

    name = "e2e_ssins"
    ENV = {"SPARK_GRAFT_FANOUT_PERSIST": "reliable"}

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        from birli_spark import pipeline_e2e as E

        self.E = E
        n_bl = E.NUM_ANTS * (E.NUM_ANTS + 1) // 2
        self.cube_rows = E.NUM_T * n_bl * E.N_CHAN
        self.payload_bytes = self.cube_rows * 4 * 2 * 4
        self.ckpt = os.path.join(os.environ["TMPDIR"], "birli_spark_ckpt")

    def shape_tag(self) -> str:
        E = self.E
        return f"a{E.NUM_ANTS}_c{E.N_CHAN}_t{E.NUM_T}"

    def prepare(self) -> None:
        self.E.scan_dir(self.E.NUM_T)
        self.expected = self._expected()

    def _expected(self):
        """DuckDB's result of ``e2e_oracle_sql``. It depends on the SQL
        text alone, so it is cached per text in the work directory."""
        import duckdb
        import pandas as pd

        sql = self.E.e2e_oracle_sql()
        path = os.path.join(self.work, "oracle", hashlib.sha256(
            sql.encode()).hexdigest()[:16] + ".parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        con = duckdb.connect()
        try:
            expected = con.execute(sql).df()
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        expected.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return expected

    def iterate(self, spark):
        return self.E.e2e_rows(spark, write_path=self.out,
                               num_t=self.E.NUM_T)

    def checkpoint_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.ckpt, "**"), recursive=True)
            if os.path.isfile(p))

    def cleanup(self, spark) -> None:
        super().cleanup(spark)
        # reliable-checkpoint files outlive the iteration that wrote them
        for d in glob.glob(os.path.join(self.ckpt, "*", "rdd-*")):
            shutil.rmtree(d, ignore_errors=True)

    def check(self, spark, result, first: bool) -> list[str]:
        E = self.E
        n_bl = E.NUM_ANTS * (E.NUM_ANTS + 1) // 2
        n_groups = E.NUM_T // E.AVG_TIME * n_bl
        n_chan = E.N_CHAN // E.AVG_FREQ
        # pipeline_e2e.antennas_values_sql flags antenna 13
        problems = self._check_uvfits(n_groups, n_chan, [13])
        if first:
            # the returned rows against the DuckDB oracle, once per run
            from tools.oracle_check import compare

            problems += [f"oracle: {p}" for p in compare(
                self.name, result.toPandas(), self.expected)]
        return problems


WORKLOADS = {w.name: w for w in (CliLegacyObs, E2eSsins)}
