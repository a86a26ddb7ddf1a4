"""Bench harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect) — the Spark analogue of the reference's criterion stage
benchmarks (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from birli_spark.session import get_spark  # noqa: E402

#: headline subset — full pipeline + the stage benchmarks the reference
#: itself tracks (read, cable, geometry; doc/benchmark_results.md) + the
#: flagship groupBy.
HEADLINE = [
    "s1_vis_scan",
    # the reference's flagship stage benchmark: distributed gpubox FITS
    # read -> long-format cube (24 coarse-channel files, 835k rows)
    "s1g_gpubox_read_bench",
    # round 4: the reference's END-TO-END wall-clock composition (read +
    # cable + RFI + geometry + physical uvfits write, BASELINE.md) over
    # the same real-format observation — the literally-shaped
    # comparable number
    "s1h_real_format_e2e",
    "f7_set_flags",
    "c2_cable_correction",
    "c3_geometric_correction",
    "c6_di_calibration",
    # round 6: the StEFCal DI gain SOLVER (relational pre-reduction +
    # one chan-block applyInPandas shuffle) — the calibration loop's
    # other half, hash-gated against its known-truth oracle
    "c7_solve_di_gains",
    "a1_average_time_freq",
    "a2_channel_occupancy",
    "pipeline_preprocess",
    # training-data pipeline: the scale-sensitive shapes (LSH band join,
    # brute pairwise cosine, streaming-shaped groupBy)
    "d3_minhash_lsh",
    "d6_neardup_clusters",
    "d7_cluster_representatives",
    "d5_embedding_neardup",
    "ann_lsh_topk",
    "t10_contamination",
    "e1_windowed_agg",
    "e6_burst_counts",
    "e8_trailing_bursts",
    # round-2 additions: the new scale-sensitive shapes (BM25 retrieval,
    # cluster-scoped SemDeDup, banded pHash dedup, Q1/Q3 relational,
    # bloom probe)
    "i2_bm25_topk",
    "d10_semantic_dedup",
    "mm_phash_neardup",
    "h4_pricing_summary",
    "h5_shipping_priority",
    "sk4_bloom_membership",
    # round-3 additions: big-big co-keyed decorrelated aggregate (Q21),
    # hybrid lexical+vector fusion, corpus-token-scale substring dedup
    "h23_blame_suppliers",
    "i3_rrf_fusion",
    "t26_substring_dedup",
    # round-3: one-scan theta-sketch pair algebra, JVM-side DTW verify
    "sk7_theta_pairs",
    "ts2_dtw_pairs",
    # round-3: all-relational SSINS RFI (the JVM-side answer to the F9
    # UDF island), the uv-grid imaging handoff, and the complete
    # RFI-inclusive pipeline as one oracle-checkable plan
    "f11_ssins_spectra",
    "im1_uv_grid",
    # round 6: the dirty-image completion of the imaging handoff
    # (grid -> separable exact-tick DFT, broadcast-only)
    "im4_dirty_image",
    # round 5: the delay-spectrum transform (broadcast DFT dim +
    # partial+final agg) and its hash-identical numpy-matmul island
    "im3_delay_spectrum",
    "im3b_delay_spectrum_udf",
    "pipeline_preprocess_ssins",
    # round 3: the complete flowchart incl. BOTH former UDF islands as
    # one hash-gated relational plan (pipeline.preprocess_full_rel)
    "pipeline_preprocess_full",
    # c1_van_vleck is the hash-gated relational Newton plan as of round
    # 3 (8x melted output rows vs the r2 UDF query under the same name);
    # c1b is the old UDF island, kept for round-over-round continuity
    "c1_van_vleck",
    # f9/d5 r2 semantics kept under the b-twins for round-over-round
    # comparison (the primary names are the hash-gated relational plans
    # as of round 3)
    "f9_rfi_sumthreshold",
    # f9e: the mwa-default orchestration as a relational chain (r4)
    "f9e_rfi_mwa_strategy",
    "d5b_embedding_neardup_brute",
    # round 4: continuous-ingest dedup (standing-index probe shape)
    "d11_incremental_minhash",
    # round 3: write-STAGE benches — the executor-parallel physical
    # UVFITS and casacore-layout MS writes + byte read-back (the
    # reference's uvfits/ms write criterion stages, BASELINE.md),
    # hash-gated as o1b/o2c
    "o1b_uvfits_file",
    "o2c_ms_file",
    # round 3: the multi-observation catalogue — the 100 TB axis
    # (hundreds of obs) in ONE plan with a single fact shuffle, and the
    # per-obs UVFITS fan-out write stage
    "mo1_multi_obs_pipeline",
    "mo4_multi_obs_uvfits",
    "mo5_multi_obs_ms",
    # round 6: the round-5 additions the verdict asked onto the
    # headline — calsol-drift QA (batch + its micro-batch stream twin)
    # and distribution drift
    "mo6_calsol_drift",
    # round 6: the catalogue-scale gain solve — one StEFCal solve per
    # (obs, coarse channel) as one plan
    "mo7_multi_obs_calsolve",
    "st13_stream_calsol_drift",
    "q4_distribution_drift",
    # UDF islands last — their Python-worker residency (Arrow batches,
    # long-lived reused daemons) perturbs later JVM-side queries
    "c1b_van_vleck_udf",
    "f9b_rfi_sumthreshold_udf",
    # round 5: the CLI's production mwa-default RFI path (float UDF
    # island with AOFlagger's own statistics) and the real image-decode
    # feature pass
    "f9f_rfi_mwa_float_udf",
    "mm9_image_pixel_stats",
]


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_leaked_blocks(spark) -> None:
    """Drop session state a finished query left behind, OUTSIDE the
    timed region (same place clearCache always ran): `localCheckpoint`
    pins its blocks in the block manager for the session lifetime
    (ADVICE r8), so across 3 passes x ~60 queries the 8 GiB local JVM
    fills with dead blocks and the TAIL of each pass measures GC/
    storage-eviction pressure instead of the query (r9 full-bench
    ground truth: mm9 10.0 s in-context vs 0.8 s isolated; c1b 3.9 vs
    2.5). Unpersist every persistent RDD (the cache manager covers
    only .cache()/persist DataFrames) and nudge the ContextCleaner so
    py4j-held broadcasts from the previous query are reclaimed.
    Measurement methodology (min-of-3, noop sink, construction inside
    the timer) is untouched; each query still computes from the
    parquet inputs — blocks a query creates DURING its run still cost
    it their build time."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    spark.sparkContext._jvm.System.gc()


def tree_cpu_s() -> float:
    """Total CPU seconds (user+sys) consumed so far by this process
    TREE: the Python driver, the local-mode JVM under it, and every
    live Python worker, plus reaped children via cutime/cstime.
    Contention-insensitive (VERDICT r6 ask 2): host load stretches
    wall-clock but not the cycles a query actually burns, so
    round-over-round A/Bs read this metric first and wall second.

    Implementation: one /proc walk. Each live tree member contributes
    its own utime+stime plus the cutime/cstime of its already-reaped
    children (a Python worker reaped by the JVM daemon moves from its
    own stat line into the daemon's cutime — the sum stays monotone
    and complete)."""
    clk = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced with process exit
        # comm may contain spaces/parens: fields restart after last ')'
        rest = raw[raw.rfind(")") + 2:].split()
        # rest[1]=ppid, rest[11..14]=utime stime cutime cstime
        stats[int(d)] = (int(rest[1]),
                         sum(int(x) for x in rest[11:15]) / clk)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo += children.get(pid, [])
    return total


def bench_st14_stream(spark, sf_dir: str) -> dict[str, float]:
    """st14 streaming-solver bench (VERDICT r6 ask 6): the availableNow
    harness conflates one-time setup (per-timestep feed write, stream
    + checkpoint bring-up) with the steady-state micro-batch cost a
    live deployment actually pays per integration. Split them: the
    feed write and the end-to-end harness wall are timed directly;
    the per-batch cost comes from the StreamingQuery's own progress
    events (triggerExecution durations), so `steady` is the summed
    micro-batch processing time and `setup` is everything else."""
    import json as _json
    import shutil
    import tempfile

    from birli_spark.streaming import calsolve

    root = tempfile.mkdtemp(prefix="bench_st14_")
    feed = os.path.join(root, "pairs")
    # recentProgress is a ring buffer capped at numRecentProgressUpdates
    # (default ~100); a run with more micro-batches would undercount
    # `steady` and inflate `setup`. Raise the cap well past any feed
    # size this bench writes and assert we stayed under it below.
    progress_cap = 10_000
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   str(progress_cap))
    t0 = time.perf_counter()
    calsolve.write_t_files(spark, sf_dir, feed)
    t_feed = time.perf_counter() - t0

    t0 = time.perf_counter()
    upd = calsolve.accumulate_stream(calsolve.read_pairs_stream(spark, feed))
    # the stream runs at the harness's state-partition count (sized by
    # state volume, not cores — see streaming.state_partitions_scope),
    # exactly as the declared st14 query does; the timing methodology
    # (availableNow, progress-event steady/setup split) is unchanged
    from birli_spark.streaming import state_partitions_scope
    with state_partitions_scope(spark):
        q = (upd.writeStream.format("memory").queryName("bench_st14")
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    t_stream = time.perf_counter() - t0
    batch_ms = []
    for p in q.recentProgress:
        prog = _json.loads(p) if isinstance(p, str) else p
        dur = prog.get("durationMs", {})
        if prog.get("numInputRows", 0) > 0:
            batch_ms.append(float(dur.get("triggerExecution", 0.0)))
    shutil.rmtree(root, ignore_errors=True)
    if len(q.recentProgress) >= progress_cap:
        raise SystemExit("st14 bench overflowed the progress ring "
                         "buffer; steady/setup split would be wrong")
    steady = round(sum(batch_ms) / 1000.0, 3)
    return {
        "st14_stream_calsolve_setup": round(t_feed + t_stream - steady, 3),
        "st14_stream_calsolve_steady": steady,
        "st14_stream_calsolve_batches": float(len(batch_ms)),
        "st14_stream_calsolve_median_batch_sec": round(
            sorted(batch_ms)[len(batch_ms) // 2] / 1000.0, 3)
        if batch_ms else 0.0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sf(\d+(\.\d+)?): a bare [0-9.]+ class would capture trailing dots
    # from suffixed dirs like sf0.1.bak and crash float()
    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("birli_spark_bench")
    qs = entrymod.queries()
    unknown = [n for n in sys.argv[1:] if n not in qs]
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sys.argv[1:] if n in qs and n not in HEADLINE
    ]
    # controlled-A/B hook (VERDICT r3 ask 3): restrict the measured list
    # (comma-separated) without changing the session shape or warmup
    override = os.environ.get("SPARK_GRAFT_QUERIES")
    restricted = bool(override)
    if override:
        names = [n for n in override.split(",") if n in qs]
        unknown += [n for n in override.split(",") if n not in qs]
    if unknown:
        # a typo'd A/B run must not silently measure nothing and print
        # a plausible-looking total
        raise SystemExit(f"unknown query name(s): {unknown}")
    # warm the JVM + parquet footers once with the cheapest query
    run_query(qs["s1_vis_scan"](spark, sf_dir).limit(1))

    # warm the Python-worker daemon pool (one Arrow round-trip per core)
    # so the first UDF-island query isn't charged the one-time
    # interpreter spawn + numpy import + first-large-allocation page
    # faults this host imposes per worker process
    def _warm(batches):
        import numpy  # noqa: PLC0415 — prime reused workers' module cache
        import pandas as pd_  # noqa: PLC0415
        a = numpy.full(4_000_000, 0.5)
        numpy.exp(a, out=a)
        for _ in batches:
            yield pd_.DataFrame({"id": [int(a[0] > 0)]})

    ncpu = spark.sparkContext.defaultParallelism
    (spark.range(ncpu * 4, numPartitions=ncpu)
         .mapInPandas(_warm, schema="id long")
         .write.format("noop").mode("overwrite").save())

    # criterion-style measurement (the reference baseline's methodology,
    # doc/benchmark_results.md): three passes per query, report the
    # per-query MINIMUM. Pass 1 doubles as warmup — it compiles Janino
    # codegen, builds broadcast relations, and faults in the allocation
    # patterns the host charges to first use; the min is robust to the
    # host's one-sided page-fault/compaction stalls, which add seconds
    # of noise but never make a query faster. Cached intermediates
    # (sigma tables, MinHash signatures) are dropped between queries so
    # runs are independent.
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for _ in range(3):
        for name in names:
            release_leaked_blocks(spark)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            run_query(qs[name](spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            dc = round(tree_cpu_s() - c0, 3)
            timings[name] = min(dt, timings.get(name, dt))
            # min across passes, independently of wall: pass 1 carries
            # Janino-JIT + broadcast-build CPU; the min is steady-state.
            # A NEGATIVE delta means a Python worker died between the
            # two samples and was reaped outside the tree (its time
            # vanishes from /proc before folding into any cutime) —
            # that pass's sample is invalid, not a faster query.
            if dc >= 0:
                cpu[name] = min(dc, cpu.get(name, dc))
    # s1h scale-slope probe (round-5 ask 4): the e2e composition at 1x /
    # 4x / 16x the observation's timestep axis (835k -> 3.3M -> 13.4M
    # cube rows), full pipeline INCLUDING the physical uvfits write.
    # Near-linear wall-time over 16x row growth is the measured form of
    # "read bandwidth and the write stage scale with executors".
    # Two passes each, min (the criterion convention above); file
    # generation is excluded (cached under tempfile.gettempdir()).
    # (skipped when SPARK_GRAFT_QUERIES restricts the list for a
    # controlled A/B — ~6 full e2e runs incl. the 13.4M-row 16x case
    # would dominate a single-query comparison's wall-clock and total)
    import tempfile

    from birli_spark import pipeline_e2e
    for mult in () if restricted else (1, 4, 16):
        num_t = pipeline_e2e.NUM_T * mult
        pipeline_e2e.scan_dir(num_t)     # generate outside the timer
        out = os.path.join(tempfile.gettempdir(),
                           f"birli_e2e_scale_x{mult}.uvfits")
        best = None
        for _ in range(2):
            release_leaked_blocks(spark)
            t0 = time.perf_counter()
            pipeline_e2e.e2e_rows(spark, write_path=out, num_t=num_t)
            dt = round(time.perf_counter() - t0, 3)
            best = dt if best is None else min(best, dt)
        timings[f"s1h_scale_x{mult}"] = best

    # st14 streaming-solver bench: setup vs steady-state micro-batch
    # cost, split via the query's own progress events (skipped in
    # restricted A/B runs — it isn't a queries() timing)
    st14 = {} if restricted else bench_st14_stream(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    payload = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-query process-tree CPU seconds (user+sys across the
        # driver, JVM, and Python workers) — the contention-insensitive
        # A/B metric; wall stays the headline for cross-round continuity
        "queries_cpu_sec": cpu,
        "cpu_total": round(sum(cpu.values()), 3),
        "streaming": st14,
        "sf": sf,
    })
    # The consumer parses the LAST stdout line as JSON. Stop every
    # streaming query and the whole session FIRST: a StateStore
    # maintenance thread that logs a WARN after the JSON (the
    # BENCH_r07 parsed:null failure) must have nothing left to say by
    # the time the line goes out.
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass
    spark.stop()
    sys.stdout.flush()
    print(payload)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
