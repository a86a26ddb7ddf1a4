"""Scale-proof end-to-end run (VERDICT r6 ask 1): generate a synthetic
legacy observation in the reference's 1090008640 benchmark shape — as
close as this sandbox allows — and run the WHOLE CLI on it
(`-m metafits --gpubox ... -u out.uvfits --max-memory N`), recording
wall, process-tree CPU, peak RSS, and shuffle/spill volumes into
SCALE_E2E_r7.json.

Observation shape vs the reference's end-to-end benchmark
(`/root/reference/doc/benchmark_results.md:408-470`, BASELINE.md):
obs 1090008640 is a full-array legacy observation — 24 gpubox files of
54 HDUs (1 primary + 53 scans), each scan HDU 32.25 MiB = 8256
baselines x 128 fine channels x 4 pol x 2 f32 — i.e. ~40 GB of raw
f32 visibility payload, NOT the "~200 GB" BASELINE.md's prose
estimated (the HDU arithmetic in the reference's own log pins it).
Birli's published numbers on it: 87.3 s wall / 12m53s user CPU for
read + cable + AOFlagger RFI + geometry + physical UVFITS.

Here: 128 antennas (the REAL 1196175296 metafits TILEDATA — real
cable lengths, real flag states, real receiver channels — with the
scan/resolution cards patched), 24 coarse channels x 32 fine channels
of 40 kHz (the VERDICT-prescribed 768-channel variant: the 128-fine
original would need an 80 GB output file this disk can't hold next to
its input), 56 scans of 2 s. Payload: 56 x 8256 x 768 x 4 pol
complexes = 11.4 GB f32-equivalent (the archive's unit of account;
the on-disk fixture is gzip'd f64 tiles, the container our legacy
reader decodes — the same container the reference's own shipped
fixtures use).

Pipeline under test = the CLI's real-input default chain: distributed
legacy gpubox decode -> metafits flag rules -> mwa-default float RFI
(f9f) -> cable -> digital gains -> passband -> precessed geometry ->
flag baking -> physical executor-parallel UVFITS write, with
`--max-memory` exercising the reference's chunk-size derivation.

Usage:
  python tools/scale_e2e.py gen     [n_scans]  # write fixture to /tmp
  python tools/scale_e2e.py run     [n_scans]  # run CLI + record JSON
  python tools/scale_e2e.py profile [n_scans]  # per-phase CPU split
  python tools/scale_e2e.py all     [n_scans]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from birli_spark.functions import timeutil  # noqa: E402
from birli_spark.sources import fitscore as fc  # noqa: E402
from birli_spark.sources import legacy_gpubox  # noqa: E402

REF_METAFITS = ("/root/reference/tests/data/1196175296_mwa_ord/"
                "1196175296.metafits")
OBSID = 1196175296
DEST = "/tmp/scale_e2e_obs"
OUT_UVFITS = "/tmp/scale_e2e_out.uvfits"
N_SCANS = 56
INT_S = 2.0
N_FINE = 32           # 40 kHz fine channels per coarse -> 768 total
N_ANTS = 128
N_CC = 24
N_SLOTS = 4 * (N_ANTS * (N_ANTS + 1) // 2)   # 33024 complex slots/fine
STAMP = "20171201145440"

#: the reference run this measures against (BASELINE.md; GB from the
#: reference log's own HDU arithmetic: 24 files x 53 scans x 32.25 MiB)
REF_WALL_S = 87.3
REF_CPU_S = 12 * 60 + 53.0
REF_GB = 24 * 53 * 32.25 * 1024 ** 2 / 1e9


#: a realistic 24-channel receiver list crossing the 128 boundary, so
#: the MWA spectral flip (<=128 ascend, >128 descend) is exercised the
#: way a real full-band observation exercises it
CHANNELS = list(range(117, 141))


def _long_string_cards(key: str, value: str) -> list[bytes]:
    """OGIP long-string card set (value split over CONTINUE cards with
    '&' continuations — the convention real metafits CHANNELS use and
    fitscore.parse_header reads back)."""
    chunks = [value[i:i + 60] for i in range(0, len(value), 60)]
    cards = []
    for i, ch in enumerate(chunks):
        cont = "&" if i + 1 < len(chunks) else ""
        if i == 0:
            cards.append(fc.card(key, ch + cont))
        else:
            cards.append(f"CONTINUE  '{ch + cont}'".ljust(80)
                         .encode("ascii"))
    return cards


def patched_metafits(dest_dir: str, n_scans: int) -> str:
    """Clone the REAL 1196175296 metafits (128-tile TILEDATA kept
    byte-identical: real cable lengths, real per-tile flags, real
    digital gains) with the primary-header scan/resolution/channel
    cards rebuilt to the benchmark shape (the shipped test metafits
    describes the 2-channel batch-00 half; the benchmark obs is full
    24-channel band, so CHANNELS/CHANSEL are widened too)."""
    with open(REF_METAFITS, "rb") as f:
        raw = f.read()
    _, body_off = fc.parse_header(raw)
    scalar = {
        "NSCANS": fc.card("NSCANS", n_scans),
        "INTTIME": fc.card("INTTIME", INT_S),
        "FINECHAN": fc.card("FINECHAN", 40),
        "NCHANS": fc.card("NCHANS", N_CC * N_FINE),
        "QUACKTIM": fc.card("QUACKTIM", 4.0),
        "EXPOSURE": fc.card("EXPOSURE", int(n_scans * INT_S)),
        "CHANSEL": fc.card(
            "CHANSEL", ",".join(str(i) for i in range(N_CC))),
    }
    out_cards: list[bytes] = []
    pos, patched, skipping_cont = 0, set(), False
    while pos + 80 <= body_off:
        card = raw[pos:pos + 80]
        pos += 80
        name = card[:8].strip().decode("ascii")
        if name == "END":
            break
        if name == "CONTINUE" and skipping_cont:
            continue
        skipping_cont = False
        if name in scalar:
            out_cards.append(scalar[name])
            patched.add(name)
        elif name == "CHANNELS":
            out_cards.extend(_long_string_cards(
                "CHANNELS", ",".join(str(c) for c in CHANNELS)))
            patched.add(name)
            skipping_cont = True      # drop the old list's CONTINUEs
        else:
            out_cards.append(card)
    missing = (set(scalar) | {"CHANNELS"}) - patched
    if missing:
        raise RuntimeError(f"cards not found in metafits: {missing}")
    out_cards.append(fc.end_card())
    out = os.path.join(dest_dir, f"{OBSID}.metafits")
    with open(out, "wb") as f:
        f.write(fc.pad_block(b"".join(out_cards)) + raw[body_off:])
    return out


#: the legacy scan HDU writer, under the name ``perfbench.inputs`` uses
_scan_hdu = legacy_gpubox.scan_hdu


def _write_gpubox(args) -> int:
    """One coarse-channel file: n_scans scan HDUs of deterministic
    correlator-count-like values (integers on the 0.125 BSCALE grid —
    the real archive's quantization; per-(gp, t) RNG seed keeps
    generation reproducible and the payload incompressible enough to
    exercise the decode at honest volume)."""
    gp, n_scans, path = args
    unix0 = timeutil.gps_to_unix_s(float(OBSID))
    with open(path, "wb") as f:
        f.write(fc.pad_block(b"".join([
            fc.card("SIMPLE", True), fc.card("BITPIX", 8),
            fc.card("NAXIS", 0), fc.card("OBSID", OBSID),
            fc.end_card()])))
        for t in range(n_scans):
            rng = np.random.default_rng(gp * 100_003 + t)
            scan = (rng.integers(-2048, 2048,
                                 size=(N_FINE, N_SLOTS, 2))
                    .astype(np.float64) * 0.125)
            unix = unix0 + t * INT_S
            f.write(legacy_gpubox.scan_hdu(
                scan, int(unix), int(round((unix % 1.0) * 1000))))
    return os.path.getsize(path)


def generate(n_scans: int = N_SCANS) -> dict:
    os.makedirs(DEST, exist_ok=True)
    meta_path = patched_metafits(DEST, n_scans)
    jobs = [(gp, n_scans,
             os.path.join(DEST, f"{OBSID}_{STAMP}_gpubox{gp:02d}_00.fits"))
            for gp in range(1, N_CC + 1)]
    t0 = time.time()
    with mp.Pool(min(N_CC, os.cpu_count() or 8)) as pool:
        sizes = pool.map(_write_gpubox, jobs)
    payload_f32 = n_scans * N_CC * N_FINE * N_SLOTS * 2 * 4
    info = {
        "metafits": meta_path,
        "glob": os.path.join(DEST, f"{OBSID}_*gpubox*.fits"),
        "n_scans": n_scans, "n_cc": N_CC, "n_fine_per_cc": N_FINE,
        "n_ants": N_ANTS, "n_baselines": N_ANTS * (N_ANTS + 1) // 2,
        "on_disk_bytes": sum(sizes),
        "payload_f32_equiv_bytes": payload_f32,
        "payload_f64_decoded_bytes": payload_f32 * 2,
        "gen_seconds": round(time.time() - t0, 1),
    }
    print(json.dumps(info, indent=1))
    return info


DEST_MWAX = "/tmp/scale_e2e_obs_mwax"


def _write_mwax_file(args) -> int:
    """One MWAX coarse-channel file (correlator v2): primary metadata
    HDU, then per scan an IMAGE visibility HDU ([baseline][fine][pol]
    [r,i] f32) + the per-baseline-per-pol weights HDU — the layout
    parse_mwax_gpubox_bytes reads and the reference reads via mwalib.
    Same deterministic per-(cc, t) RNG payload family as the legacy
    fixture so the two scale rows measure FORMAT cost, not data."""
    ci, recv_ch, n_scans, path = args
    n_bl = N_ANTS * (N_ANTS + 1) // 2
    unix0 = timeutil.gps_to_unix_s(float(OBSID))
    with open(path, "wb") as f:
        f.write(fc.pad_block(b"".join([
            fc.card("SIMPLE", True), fc.card("BITPIX", 8),
            fc.card("NAXIS", 0), fc.card("OBSID", OBSID),
            fc.card("CORR_VER", 2), fc.card("NFINECHS", N_FINE),
            fc.card("NINPUTS", N_ANTS * 2),
            fc.card("TIME", int(unix0)), fc.card("MILLITIM", 0),
            fc.end_card()])))
        for t in range(n_scans):
            rng = np.random.default_rng(ci * 100_003 + t)
            vis = rng.integers(-2048, 2048,
                               size=(n_bl, N_FINE * 8)).astype(">f4")
            vis *= np.float32(0.125)
            unix = unix0 + t * INT_S
            for arr in (vis, np.ones((n_bl, 4), dtype=">f4")):
                f.write(fc.image_hdu(
                    arr, fc.card("TIME", int(unix)),
                    fc.card("MILLITIM", int(round((unix % 1.0) * 1000)))))
    return os.path.getsize(path)


def generate_mwax(n_scans: int = N_SCANS) -> dict:
    os.makedirs(DEST_MWAX, exist_ok=True)
    meta_path = patched_metafits(DEST_MWAX, n_scans)
    jobs = [(ci, ch, n_scans,
             os.path.join(DEST_MWAX,
                          f"{OBSID}_{STAMP}_ch{ch:03d}_000.fits"))
            for ci, ch in enumerate(CHANNELS)]
    t0 = time.time()
    with mp.Pool(min(N_CC, os.cpu_count() or 8)) as pool:
        sizes = pool.map(_write_mwax_file, jobs)
    payload_f32 = n_scans * N_CC * N_FINE * N_SLOTS * 2 * 4
    info = {
        "metafits": meta_path,
        "glob": os.path.join(DEST_MWAX, f"{OBSID}_*ch*.fits"),
        "n_scans": n_scans, "on_disk_bytes": sum(sizes),
        "payload_f32_equiv_bytes": payload_f32,
        "gen_seconds": round(time.time() - t0, 1),
    }
    print(json.dumps(info, indent=1))
    return info


def _rss_sampler(stop: threading.Event, peak: dict) -> None:
    """Track peak summed RSS of this process tree (1 Hz /proc walk)."""
    me = os.getpid()
    while not stop.is_set():
        stats = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    raw = f.read().decode("ascii", "replace")
                rest = raw[raw.rfind(")") + 2:].split()
                stats[int(d)] = (int(rest[1]),
                                 int(rest[21]) * os.sysconf("SC_PAGESIZE"))
            except (OSError, IndexError, ValueError):
                continue
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        total, todo = 0, [me]
        while todo:
            pid = todo.pop()
            if pid in stats:
                total += stats[pid][1]
                todo += kids.get(pid, [])
        peak["rss"] = max(peak.get("rss", 0), total)
        stop.wait(1.0)


def _rest_stage_totals(port: int) -> dict:
    """Sum shuffle/spill/task-time metrics over all completed stages
    via the Spark UI REST API."""
    import urllib.request
    base = f"http://localhost:{port}/api/v1"
    with urllib.request.urlopen(f"{base}/applications") as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(
            f"{base}/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    keys = ("shuffleWriteBytes", "shuffleReadBytes", "inputBytes",
            "outputBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "executorRunTime", "executorCpuTime")
    tot = {k: sum(int(s.get(k, 0)) for s in stages) for k in keys}
    tot["n_stages"] = len(stages)
    tot["executorCpuTime_s"] = round(tot.pop("executorCpuTime") / 1e9, 1)
    tot["executorRunTime_s"] = round(tot.pop("executorRunTime") / 1e3, 1)
    return tot


def run(n_scans: int = N_SCANS, max_memory_gib: float = 32.0,
        fmt: str = "legacy") -> dict:
    dest = DEST if fmt == "legacy" else DEST_MWAX
    pat = "_*gpubox*.fits" if fmt == "legacy" else "_*ch*.fits"
    meta_path = os.path.join(dest, f"{OBSID}.metafits")
    glob_pat = os.path.join(dest, f"{OBSID}{pat}")
    if not os.path.exists(meta_path):
        raise SystemExit("fixture missing — run `gen` first")
    on_disk = sum(
        os.path.getsize(os.path.join(dest, f))
        for f in os.listdir(dest) if f.endswith(".fits"))
    payload_f32 = n_scans * N_CC * N_FINE * N_SLOTS * 2 * 4

    # a scale run spills to real disk, compresses its shuffles, and
    # exposes the REST API for stage metrics — deliberate deltas from
    # the sf0.1 bench session (documented in session.py). Through
    # get_spark so PYTHONPATH/worker wiring matches the CLI's own
    # session. The AVX2 JIT cap works around this host's JDK 17
    # segfault in the AVX-512 arraycopy stub
    # (jlong_disjoint_arraycopy_avx3, SEGV_MAPERR).
    spark = _scale_session()

    from bench import tree_cpu_s  # noqa: E402 — repo-root import
    from birli_spark import cli

    # averaging is part of the prescribed composition (read +
    # corrections + RFI + geometry + averaging + uvfits); 4 s / 160 kHz
    # is the reference's own averaged-output shape (1254670392_avg
    # golden family) and keeps the checkpoint + output inside this
    # sandbox's disk next to the two full-fact shuffles
    argv = ["-m", meta_path, "--gpubox", glob_pat,
            "-u", OUT_UVFITS, "--max-memory", str(max_memory_gib),
            "--avg-time-factor", "2", "--avg-freq-factor", "4"]
    stop = threading.Event()
    peak: dict = {}
    sampler = threading.Thread(target=_rss_sampler, args=(stop, peak),
                               daemon=True)
    sampler.start()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    result = cli.run(argv, spark=spark)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - c0
    stop.set()
    sampler.join(3.0)

    try:
        stage_totals = _rest_stage_totals(4055)
    except Exception as e:  # REST off / port taken — metrics optional
        stage_totals = {"error": str(e)}
    out_size = os.path.getsize(OUT_UVFITS)
    gb = payload_f32 / 1e9
    rec = {
        "format": fmt,
        "shape": {"n_scans": n_scans, "n_cc": N_CC,
                  "n_fine_per_cc": N_FINE, "n_ants": N_ANTS,
                  "n_baselines": N_ANTS * (N_ANTS + 1) // 2,
                  "cube_rows": n_scans * N_CC * N_FINE
                  * (N_ANTS * (N_ANTS + 1) // 2)},
        "cli_argv": argv,
        "cli_result_rows": result.get("rows"),
        "input_on_disk_bytes": on_disk,
        "input_payload_f32_equiv_bytes": payload_f32,
        "output_uvfits_bytes": out_size,
        "wall_s": round(wall, 1),
        "process_tree_cpu_s": round(cpu, 1),
        "peak_tree_rss_bytes": peak.get("rss", 0),
        "stage_totals": stage_totals,
        "per_gb": {
            "wall_s_per_gb": round(wall / gb, 2),
            "cpu_s_per_gb": round(cpu / gb, 2),
        },
        "reference": {
            "obs": "1090008640 (benchmark_results.md:408-470)",
            "wall_s": REF_WALL_S, "user_cpu_s": REF_CPU_S,
            "payload_gb": round(REF_GB, 1),
            "wall_s_per_gb": round(REF_WALL_S / REF_GB, 2),
            "cpu_s_per_gb": round(REF_CPU_S / REF_GB, 2),
            "note": ("payload GB from the reference log's own HDU "
                     "arithmetic (24 files x 53 scans x 32.25 MiB); "
                     "BASELINE.md's '~200 GB' prose overestimates"),
        },
    }
    rec["ratio_vs_reference"] = {
        "wall_per_gb": round(rec["per_gb"]["wall_s_per_gb"]
                             / rec["reference"]["wall_s_per_gb"], 2),
        "cpu_per_gb": round(rec["per_gb"]["cpu_s_per_gb"]
                            / rec["reference"]["cpu_s_per_gb"], 2),
    }
    print(json.dumps(rec, indent=1))
    spark.stop()
    return rec


def _scale_session():
    """The run()/profile() shared session (same conf deltas)."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/tmp/scale_e2e_spill"
    os.makedirs("/tmp/scale_e2e_spill", exist_ok=True)
    from birli_spark.session import get_spark
    return get_spark("birli_spark_scale_e2e", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.port": "4055",
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
        "spark.sql.shuffle.partitions": "64",
        # this box runs THP enabled=madvise defrag=madvise: the JVM
        # madvise(MADV_HUGEPAGE)s its growing heap, and once host
        # memory is fragmented every heap-expansion fault does
        # SYNCHRONOUS compaction — measured as a >90%-system-time
        # stall that starved executor heartbeats for >120 s and wedged
        # the whole app. Turn heap THP off and survive transient
        # stalls instead of declaring the in-process executor dead.
        "spark.executor.heartbeatInterval": "60s",
        "spark.network.timeout": "800s",
        # a worker that dies mid-Arrow-stream otherwise leaves only
        # "Connection reset" behind; the faulthandler prints the Python
        # stack (segfault or hard kill) into the executor log
        "spark.python.worker.faulthandler.enabled": "true",
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=/tmp -XX:-DontCompileHugeMethods "
            "-XX:UseAVX=2 -XX:-UseTransparentHugePages",
        "spark.executor.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:UseAVX=2 "
            "-XX:-UseTransparentHugePages",
    })


PHASES = ("decode", "baked_no_rfi", "baked_rfi", "full_cli")


def run_phase(name: str, max_memory_gib: float = 32.0) -> dict:
    """Execute ONE pipeline prefix in THIS process and print its
    wall/CPU as the last stdout line. Run from a fresh process per
    phase (see :func:`profile`): a single long-lived session
    under-counted later phases' CPU (idle Python workers from an
    earlier phase get reaped between samples and their time vanishes
    from the /proc tree) and over-counted the first (cold page cache +
    all the JIT). Per-process, the tree CPU is complete, and each
    phase pays its own comparable JIT."""
    meta_path = os.path.join(DEST, f"{OBSID}.metafits")
    glob_pat = os.path.join(DEST, f"{OBSID}_*gpubox*.fits")
    if not os.path.exists(meta_path):
        raise SystemExit("fixture missing — run `gen` first")
    # warm the fixture into the page cache BEFORE the timer: the first
    # phase of a profile otherwise pays the whole cold read (and, on
    # this host, its serialized first-touch faults) that every later
    # phase gets for free — the exact asymmetry that produced the
    # negative phase marginals in the round-8 artifact (VERDICT r8
    # item 2). Untimed sequential read, one pass, ~8 GB.
    for fname in sorted(os.listdir(DEST)):
        if fname.endswith(".fits"):
            with open(os.path.join(DEST, fname), "rb") as f:
                while f.read(1 << 24):
                    pass
    spark = _scale_session()
    from bench import tree_cpu_s  # noqa: E402
    from birli_spark import cli, real_input

    base_argv = ["-m", meta_path, "--gpubox", glob_pat,
                 "--max-memory", str(max_memory_gib),
                 "--avg-time-factor", "2", "--avg-freq-factor", "4"]

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    if name == "decode":
        meta, _tiles = real_input.load_obs(meta_path)
        anchor = real_input.grid_anchor(glob_pat, meta.gps_start,
                                        meta.int_time_s, meta.num_t)
        vis = real_input.load_vis_real(spark, meta, glob_pat,
                                       metafits_path=meta_path,
                                       anchor=anchor)
        act = lambda: noop(vis)  # noqa: E731
    elif name == "baked_no_rfi":
        ctx = cli.parse_args(base_argv + ["--no-rfi"])
        act = lambda: noop(cli.build_baked(spark, ctx))  # noqa: E731
    elif name == "baked_rfi":
        ctx = cli.parse_args(base_argv)
        act = lambda: noop(cli.build_baked(spark, ctx))  # noqa: E731
    elif name == "full_cli":
        act = lambda: cli.run(  # noqa: E731
            base_argv + ["-u", OUT_UVFITS], spark=spark)
    else:
        raise SystemExit(f"unknown phase {name!r}")
    c0, t0 = tree_cpu_s(), time.perf_counter()
    act()
    rec = {"phase": name,
           "wall_s": round(time.perf_counter() - t0, 1),
           "cpu_s": round(tree_cpu_s() - c0, 1)}
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(rec))
    return rec


def profile(n_scans: int = N_SCANS) -> dict:
    """Per-phase wall/CPU split of the scale CLI (VERDICT r7 ask 1a):
    each nested pipeline prefix — decode only; +corrections+geometry+
    baking (--no-rfi); +the f9f RFI island; the whole CLI with
    averaging + physical UVFITS write — runs in its OWN process
    (:func:`run_phase`), and consecutive differences give the marginal
    cost of the added stage. Per-phase JIT/session overhead is
    comparable across phases, so it cancels in the differences."""
    import subprocess

    phases: dict[str, dict] = {}
    for name in PHASES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "phase", name],
            capture_output=True, text=True, timeout=3600)
        if proc.returncode != 0:
            raise SystemExit(
                f"phase {name} failed:\n{proc.stderr[-3000:]}")
        last = [ln for ln in proc.stdout.splitlines() if ln.strip()][-1]
        phases[name] = json.loads(last)
        print(json.dumps(phases[name]))

    def diff(a: str, b: str) -> dict:
        return {k: round(phases[b][k] - phases[a][k], 1)
                for k in ("wall_s", "cpu_s")}

    split = {
        "decode": {k: phases["decode"][k] for k in ("wall_s", "cpu_s")},
        "corrections_geometry_baking": diff("decode", "baked_no_rfi"),
        "rfi_island_f9f": diff("baked_no_rfi", "baked_rfi"),
        "averaging_uvfits_write": diff("baked_rfi", "full_cli"),
    }
    total_cpu = phases["full_cli"]["cpu_s"]
    for v in split.values():
        v["pct_of_full_cpu"] = (round(100.0 * v["cpu_s"] / total_cpu, 1)
                                if total_cpu else None)
    rec = {"phases_cumulative": phases, "split_marginal": split,
           "n_scans": n_scans,
           "method": ("one fresh process per nested prefix; marginal = "
                      "consecutive difference (per-process JIT/session "
                      "cost cancels); tree CPU = driver + JVM + Python "
                      "workers incl. reaped children")}
    print(json.dumps(rec, indent=1))
    return rec


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "phase":
        run_phase(sys.argv[2])
        sys.exit(0)
    ns = int(sys.argv[2]) if len(sys.argv) > 2 else N_SCANS
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    def _merge(path: str, key: str, rec: dict) -> None:
        """Accumulate rows into one artifact keyed by run kind."""
        data = {}
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
        data[key] = rec
        with open(path, "w") as f:
            json.dump(data, f, indent=1)

    e2e_path = os.path.join(repo, "SCALE_E2E_r9.json")
    if mode in ("gen", "all"):
        generate(ns)
    if mode == "gen-mwax":
        generate_mwax(ns)
    if mode == "profile":
        rec = profile(ns)
        with open(os.path.join(repo, "SCALE_PROFILE_r9.json"),
                  "w") as f:
            json.dump(rec, f, indent=1)
    if mode in ("run", "all"):
        _merge(e2e_path, "legacy", run(ns))
    if mode == "run-mwax":
        _merge(e2e_path, "mwax", run(ns, fmt="mwax"))
