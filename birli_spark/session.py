"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same configs (AQE, adaptive coalesce,
Arrow for pandas UDFs, UTC session timezone for oracle comparability) are
what we would set on a real cluster. `spark.sql.shuffle.partitions` is set
to the local core count — on a 1000-executor cluster this would be tuned to
~2-3x total cores or left to AQE's coalescing.

Python workers fork from :mod:`birli_spark.pyworker`, set through Spark's
own ``spark.python.daemon.module``. Every Python island (archive decode,
the RFI island, the UVFITS/MS/mwaf writers) pays PySpark's per-task
``importlib.invalidate_caches()``, which on CPython < 3.12 re-reads the
directory of Spark's ``pyspark.zip`` once per cached zipimporter (16 per
worker, ~0.22 CPU-s per task). The daemon re-reads an archive only when
it changed, as CPython 3.12 does; it is otherwise ``pyspark.daemon``. On
a cluster the package must be on the executors' Python path; a caller's
``extra_conf`` can override the module like any conf.

Spark caches each whole-stage-codegen class it compiles, keyed by the
generated source, in a Guava cache bounded by
``spark.sql.codegen.cache.maxEntries`` (default 100). Guava splits that
bound into 4 segments of 25 entries, and one flowchart run generates
about as many distinct classes (78 on the CLI's legacy chain, 98 on the
SSINS e2e chain, counted with Spark's ``CodegenMetrics``), so at the
default every later e2e run in the same session recompiled 32 evicted
classes. A recompiled class is a new class: its hot loops restart in
the interpreter and climb the JIT again, which cost the second e2e run
~9 of its ~49 process-tree CPU-s on a 4-core host.
:data:`CODEGEN_CACHE_ENTRIES` keeps the whole working set, so a session
compiles each class once; a one-shot process compiles the same classes
in its first run either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: Guava splits it into 4
#: segments, so 1000 gives 250 entries per segment against the ~100
#: classes of the largest measured flowchart run (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "birli_spark", cpus: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Honors SPARK_GRAFT_CPUS for the bench harness; UTC timezone is pinned so
    timestamp outputs hash identically against the DuckDB oracle.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    _tune_malloc()
    # make the package importable in executor Python workers regardless of
    # the driver's cwd (cluster deployments ship a wheel via --py-files;
    # local workers inherit PYTHONPATH from the JVM's environment)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root)
    # tmpfs shuffle dirs suit the sf0.1 bench; a tens-of-GB run (the
    # scale-proof e2e) must spill to real disk instead of eating RAM —
    # SPARK_GRAFT_LOCAL_DIR overrides (set it to a /tmp path there)
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else None)
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the local default — the
    # shuffle-realism probe (tools/shuffle_realism.py) runs the oracle
    # suite with partitions >> cores + AQE to prove correctness and plan
    # shape are partition-count independent (a cluster reality check)
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                                   str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep every generated class of a flowchart run compiled for the
        # session's later runs (module docstring)
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # fork Python workers from our daemon (see module docstring)
        .config("spark.python.daemon.module", "birli_spark.pyworker")
        # local-mode shuffle tuning: spill/shuffle blocks to tmpfs and
        # skip compression — local shuffles are memory-to-memory copies,
        # so lz4 and disk latency are pure overhead at this scale. On a
        # real cluster leave spark.local.dir on fast local disks and
        # compression ON (network + disk bandwidth dominate there).
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        # the fused correction chain codegens a >8KB projection method;
        # without this flag HotSpot refuses to JIT it and the hot loop
        # runs interpreted (CodeGenerator logs "too long to be JIT
        # compiled"). On a cluster, set it in executor options too.
        .config("spark.driver.extraJavaOptions",
                "-Djava.io.tmpdir=/tmp -XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        # let joins reuse a subset partitioning of their keys (guide
        # §2.4): the RFI grid chains hash the fact/grid ONCE by
        # (ant1, ant2) and every downstream window, aggregate AND join
        # keyed on a superset then runs exchange-free. Pure physical-
        # planner relaxation — results unchanged. Safe here because the
        # shared subset keys are high-cardinality (baselines), so
        # subset co-partitioning cannot concentrate a join onto few
        # partitions; a cluster where a skewed-subset join ever appears
        # restores the default through get_spark(extra_conf=...).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # warehouse for saveAsTable (the bucketed tables of
        # tests/test_bucketing.py): a tmp path, never the caller's cwd —
        # a fact-sized table would otherwise land as a spark-warehouse
        # in the repo checkout
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR") or os.path.join(
                    __import__("tempfile").gettempdir(),
                    "birli_spark_warehouse"))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # caller overrides (e.g. the scale-proof e2e enables the REST UI
    # and shuffle compression) — applied last so they win
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_MALLOC_TUNED = False


def _tune_malloc() -> None:
    """Keep large-allocation pages inside the process (glibc tunables).

    By default glibc satisfies allocations above MMAP_THRESHOLD
    (128 KiB, dynamically raised to at most 32 MiB) with a fresh
    anonymous mmap and munmaps on free — so every large numpy/pandas/
    Arrow buffer a Python worker allocates hands its pages back to the
    kernel and re-faults them on the next allocation. On normal hosts
    that costs ~0.1 us/page; this host serves first-touch faults at
    60-900 us/page (tools/fault_tax.py, FAULT_TAX_r9.json), which taxed
    every UDF-island query ~15-50% in round 8. MALLOC_MMAP_MAX_=0
    routes large blocks through the heap free lists (pages fault once
    per worker lifetime, measured 37x cheaper reuse) and
    MALLOC_TRIM_THRESHOLD_=-1 stops free() from trimming the heap back.

    Cost: worker RSS stays at its high-water mark instead of returning
    to the OS — the right trade on any long-lived reused worker
    (spark.python.worker.reuse is Spark's default), not just here.
    Exported to the child tree (JVM -> Python workers) before the JVM
    launches, and applied to the current process via mallopt."""
    global _MALLOC_TUNED
    if _MALLOC_TUNED:
        return
    _MALLOC_TUNED = True
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    try:
        import ctypes
        libc = ctypes.CDLL(None, use_errno=True)
        libc.mallopt(-4, 0)    # M_MMAP_MAX = 0
        libc.mallopt(-1, -1)   # M_TRIM_THRESHOLD = never trim
    except Exception:
        pass  # non-glibc platform: the env vars still cover children


_FINGERPRINT: str | None = None


def code_fingerprint() -> str:
    """Digest of the package source (+ the repo's __spark_entry__.py if
    present). Physical-fixture cache markers (s1j/s1k files, the e2e
    scan dir) embed it, so a code change invalidates the cache instead
    of certifying stale bytes written by an older checkout. Computed
    once per process (~1 MB of source)."""
    global _FINGERPRINT
    if _FINGERPRINT is not None:
        return _FINGERPRINT
    import hashlib
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    files = []
    for dirpath, dirnames, fnames in os.walk(pkg):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        files += [os.path.join(dirpath, f) for f in fnames
                  if f.endswith(".py")]
    entry = os.path.join(root, "__spark_entry__.py")
    if os.path.exists(entry):
        files.append(entry)
    h = hashlib.md5()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    _FINGERPRINT = h.hexdigest()
    return _FINGERPRINT


def marker_valid(marker_path: str) -> bool:
    """True iff the cache marker exists AND was written by THIS code
    version (see :func:`code_fingerprint`)."""
    try:
        with open(marker_path) as f:
            return f.read().strip() == code_fingerprint()
    except OSError:
        return False


def write_marker(marker_path: str) -> None:
    with open(marker_path, "w") as f:
        f.write(code_fingerprint())
