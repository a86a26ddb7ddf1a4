"""Preprocessing benchmark: one workload, in this fresh process, on
local[4].

    python3 perfbench/run.py --workload cli_legacy_obs --seed 1 \\
        --seconds 5 --trace 0

A run generates the workload's inputs from the seed (cached under
``.bench_work/`` in the checkout), then

1. set-up: ``session.get_spark`` plus the cold first iteration,
   reported as ``setup_s``;
2. steady iterations of the workload's public entry point until
   ``--seconds`` have passed and at least ``MIN_STEADY`` have run, each
   followed — outside the timer — by its output check and the
   between-iteration hygiene.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced steady iterations: traced ones record spans around
the package's layer entry points and read Spark's status store, and the
per-layer metrics come from them; ``trace.overhead_s`` is the traced
minus the untraced median wall time. The spans are written to
``.bench_work/trace/`` when the run ends.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CPUS = 4
#: steady iterations an untraced run measures at least (a traced run:
#: that many untraced-traced pairs). One iteration outlasts the
#: declared 5 s window at the current speed, so every run times the
#: same one: the second iteration of the process. A second timed
#: iteration would push the driver's 48 runs past their time budget
#: when the host is loaded.
MIN_STEADY = 1


def _environment() -> None:
    """Run the package at its defaults, whatever SPARK_GRAFT_* knobs the
    caller has set, and keep every file Spark, the package and the
    Python workers write inside the checkout's work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "trace")):
        os.makedirs(d, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    sys.path.insert(0, ROOT)


def _spark_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            " -XX:-DontCompileHugeMethods",
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """State of one benchmark run."""

    def __init__(self, workload, trace: bool) -> None:
        from perfbench import probes

        self.wl = workload
        self.tree = probes.ProcTree()
        self.tracer = probes.Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.traced_walls: list[float] = []
        self.cpus: list[float] = []
        self.layers: list[dict] = []
        #: process-tree CPU seconds of the last iteration, and its split
        self.last_cpu = 0.0
        self.last_split: dict[str, float] = {}

    def iteration(self, spark, first: bool = False) -> float | None:
        """One timed iteration plus its output check; wall seconds, or
        None when it raised or failed its check."""
        self.attempted += 1
        s0 = self.tree.cpu_split()
        t0 = time.perf_counter()
        try:
            result = self.wl.iterate(spark)
            wall = time.perf_counter() - t0
            s1 = self.tree.cpu_split()
            self.last_split = {k: s1[k] - s0[k] for k in s0}
            self.last_cpu = sum(self.last_split.values())
            problems = self.wl.check(spark, result, first)
        except Exception:  # noqa: BLE001 — a failed iteration is counted
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            print("\n".join(problems), file=sys.stderr)
            return None
        return wall

    def traced_iteration(self, spark, n: int, store, phases) -> None:
        tracer = self.tracer
        store.mark()
        phases.register()
        tracer.iteration, tracer.active = n, True
        try:
            wall = self.iteration(spark)
        finally:
            tracer.active = False
            store.drain()  # the listener sees queued actions first
            phases.unregister()
        if wall is None:
            return
        self.traced_walls.append(wall)
        layer = _fold(store.collect(), self.wl)
        layer["plan.catalyst_s"] = phases.take()
        layer["plan.build_s"] = tracer.total("plan.build", n)
        layer["pipeline.materialize_s"] = tracer.total(
            "pipeline.materialize", n)
        layer["sinks.write_s"] = tracer.total("sinks.write", n)
        layer["sinks.bytes_mb"] = self.wl.output_bytes() / 1e6
        layer["pipeline.checkpoint_mb"] = self.wl.checkpoint_bytes() / 1e6
        for k, v in self.last_split.items():
            layer[f"proc.{k}_cpu_s"] = v
        layer["proc.tree_cpu_s"] = self.last_cpu
        self.layers.append(layer)

    def execute(self, seconds: float) -> dict:
        import bench  # noqa: F401 — import cost stays out of set-up
        from birli_spark import cli, pipeline, real_input, session
        from birli_spark.sinks import uvfits

        from perfbench import probes

        tracer = self.tracer
        if tracer:
            tracer.wrap(session, "get_spark", "session.start")
            tracer.wrap(real_input, "build_baked_real", "plan.build")
            tracer.wrap(cli, "build_baked", "plan.build")
            tracer.wrap(pipeline, "fanout_materialize",
                        "pipeline.materialize")
            tracer.wrap(uvfits, "write_uvfits_distributed", "sinks.write")
            tracer.iteration, tracer.active = 0, True

        # set-up: the session plus the cold iteration (its output check
        # is not timed). A traced run adds one untimed iteration, so its
        # untraced and traced iterations compare at equal JIT warmth.
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", cpus=CPUS,
                                  extra_conf=_spark_conf())
        start_s = time.perf_counter() - t0
        from pyspark import SparkContext
        self.tree.jvm_pid = SparkContext._gateway.proc.pid
        warm = []
        try:
            for i in range(2 if tracer else 1):
                warm.append(self.iteration(spark, first=i == 0))
                self.wl.cleanup(spark)
            if tracer:
                tracer.active = False
                store = probes.StatusStore(spark)
                phases = probes.PhaseListener(spark)
            t_start = time.perf_counter()
            n = 0
            least = 2 * MIN_STEADY if tracer else MIN_STEADY
            while n < least or time.perf_counter() - t_start < seconds:
                n += 1
                if tracer and n % 2 == 0:
                    self.traced_iteration(spark, n, store, phases)
                else:
                    wall = self.iteration(spark)
                    if wall is not None:
                        self.walls.append(wall)
                        self.cpus.append(self.last_cpu)
                self.wl.cleanup(spark)
            peak_rss = self.tree.peak_rss()
        finally:
            _stop(spark)
        if tracer:
            tracer.unwrap_all()
            tracer.write(os.path.join(
                WORK, "trace", f"{self.wl.name}_s{self.wl.seed}_spans.json"))
            return self._per_layer(tracer.total("session.start", 0),
                                   peak_rss)
        if None in warm or not self.walls:
            return {}
        wall_s = statistics.median(self.walls)
        return {
            "wall_s": (wall_s, "s"),
            "cpu_s": (statistics.median(self.cpus), "s"),
            "s_per_gb": (wall_s / (self.wl.payload_bytes / 1e9), "s/GB"),
            "setup_s": (start_s + warm[0], "s"),
        }

    def _per_layer(self, session_start: float, peak_rss: int) -> dict:
        if not self.layers or not self.walls:
            return {}
        out = {"session.start_s": (session_start, "s"),
               "proc.peak_rss_mb": (peak_rss / 1e6, "MB")}
        for key in self.layers[0]:
            out[key] = (statistics.median(d[key] for d in self.layers),
                        UNITS[key])
        out["trace.overhead_s"] = (statistics.median(self.traced_walls)
                                   - statistics.median(self.walls), "s")
        return out


#: per-layer metric units (every key :func:`_fold` and
#: :meth:`Run.traced_iteration` produce)
UNITS = {
    "plan.build_s": "s", "plan.catalyst_s": "s", "plan.exchanges": "count",
    "plan.sort_merge_joins": "count", "plan.jobs": "count",
    "sources.decode_python_s": "s", "sources.arrow_out_mb": "MB",
    "sources.decode_rows": "count", "sources.decode_passes": "ratio",
    "rfi.island_python_s": "s", "rfi.arrow_in_mb": "MB",
    "rfi.arrow_out_mb": "MB",
    "operators.codegen_s": "s", "operators.agg_build_s": "s",
    "operators.sort_s": "s", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_records": "count", "operators.spill_mb": "MB",
    "pipeline.materialize_s": "s", "pipeline.checkpoint_mb": "MB",
    "sinks.write_s": "s", "sinks.bytes_mb": "MB",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.tasks": "count",
    "spark.task_retries": "count",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s", "proc.tree_cpu_s": "s",
}


def _fold(collected: dict, wl) -> dict:
    """Fold one iteration's status-store read into the layer metrics.
    The archive decode is the MapInPandas node fed by the file-path
    rows; the RFI island is the grouped-pandas node."""
    out = dict.fromkeys(
        ("plan.exchanges", "plan.sort_merge_joins",
         "sources.decode_python_s", "sources.arrow_out_mb",
         "sources.decode_rows", "rfi.island_python_s", "rfi.arrow_in_mb",
         "rfi.arrow_out_mb", "operators.codegen_s",
         "operators.agg_build_s", "operators.sort_s",
         "operators.shuffle_write_mb", "operators.shuffle_records"), 0.0)
    for name, desc, m in collected["nodes"]:
        if name == "Exchange":
            out["plan.exchanges"] += 1
            out["operators.shuffle_write_mb"] += (
                m.get("shuffle bytes written", 0.0) / 1e6)
            out["operators.shuffle_records"] += m.get(
                "shuffle records written", 0.0)
        elif name == "SortMergeJoin":
            out["plan.sort_merge_joins"] += 1
        elif name == "MapInPandas" and "(path#" in desc:
            out["sources.decode_python_s"] += m.get(
                "time to run Python workers", 0.0)
            out["sources.arrow_out_mb"] += m.get(
                "data returned from Python workers", 0.0) / 1e6
            out["sources.decode_rows"] += m.get("number of output rows", 0.0)
        elif name.startswith("FlatMapGroupsIn"):
            out["rfi.island_python_s"] += m.get(
                "time to run Python workers", 0.0)
            out["rfi.arrow_in_mb"] += m.get(
                "data sent to Python workers", 0.0) / 1e6
            out["rfi.arrow_out_mb"] += m.get(
                "data returned from Python workers", 0.0) / 1e6
        elif name.startswith("WholeStageCodegen"):
            out["operators.codegen_s"] += m.get("duration", 0.0)
        elif name.endswith("HashAggregate") or name == "SortAggregate":
            out["operators.agg_build_s"] += m.get(
                "time in aggregation build", 0.0)
        elif name == "Sort":
            out["operators.sort_s"] += m.get("sort time", 0.0)
    out["sources.decode_passes"] = out["sources.decode_rows"] / wl.cube_rows
    st = collected["stages"]
    out["plan.jobs"] = collected["jobs"]
    out["operators.spill_mb"] = st["spill_bytes"] / 1e6
    out["spark.executor_cpu_s"] = st["executor_cpu_s"]
    out["spark.gc_s"] = st["gc_s"]
    out["spark.tasks"] = st["tasks"]
    out["spark.task_retries"] = st["failed_tasks"]
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _environment()
    from perfbench import workloads

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        p.error(f"unknown workload {args.workload!r}; "
                f"expected one of {sorted(workloads.WORKLOADS)}")
    os.environ.update(getattr(cls, "ENV", {}))
    wl = cls(WORK, args.seed)
    wl.prepare()
    run = Run(wl, trace=bool(args.trace))
    metrics = run.execute(args.seconds)
    correct = run.failed == 0 and bool(metrics)
    sys.stdout.flush()
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
