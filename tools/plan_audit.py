"""Physical-plan audit: dump ``explain('formatted')`` for the headline
queries and check each plan for the scale properties the engine is
designed around — broadcast-only dim joins, parquet filter/column
pushdown, map-side partial aggregation, wide whole-stage-codegen spans,
and no cartesian products outside the two declared broadcast
nested-loop sites (ANN query×corpus and IVF corpus×centroids, both
against broadcast-sized sides).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes PLANS.md at the repo root and prints one OK/WARN line per query.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from birli_spark.session import get_spark  # noqa: E402

# Queries whose plan legitimately contains a broadcast nested-loop join:
# the join side is broadcast-sized by construction (ANN query sets, IVF
# centroid tables, k-means' single collapsed-centroid row), so N×M stays
# bounded by the broadcast side.
BNLJ_OK = {"ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk",
           "ann_rerank_topk", "emb2_kmeans",
           # kmeans/codebook centroid-row joins (same collapsed
           # single-row build side as emb2_kmeans)
           "d10_semantic_dedup", "emb4_pq_codes",
           # 1-row corpus-total / tiny p-literal / ≤groups-filter build
           # sides — bounded by construction
           "i2_bm25_topk", "sk4_bloom_membership", "sk5_hist_quantiles",
           "t18_pmi_collocations",
           # 1-row node-count cross joins inside the rank recurrence
           "g1_source_pagerank",
           # broadcast hour-list band joins (hours = bounded dim)
           # c1/pipeline_full: the 8-row pol-component melt VALUES cross
           # (bounded build side by construction)
           "c1_van_vleck", "pipeline_preprocess_full",
           "sk6_hll_windowed",
           # inherits i2's 1-row corpus-total and ann_brute's query-set
           # broadcast sides
           "i3_rrf_fusion",
           # the catalogue suite's obs-dim VALUES cross (3-row broadcast
           # side replicating the fact scan per observation — the
           # deliberate catalogue expansion, bounded by the obs count)
           "mo1_multi_obs_pipeline", "mo2_multi_obs_ssins",
           "mo3_multi_obs_occupancy", "mo7_multi_obs_calsolve",
           # 1-row scalar-aggregate broadcast (global total / global avg)
           # against a bounded aggregate or dim-scale probe side — the
           # canonical decorrelated-scalar-subquery plan
           "h18_important_parts", "h24_idle_rich_customers",
           # q4's 1-row bounds + 1-row totals cross joins (the same
           # decorrelated-scalar pattern)
           "q4_distribution_drift",
           # sketch-table pair self-join (|sources| rows, O(k) each) and
           # 1-row total x violations report joins — bounded by
           # construction
           "sk7_theta_pairs", "q3_referential_integrity",
           # wedge self-join over the bounded source-overlap edge list
           "g2_triangle_stats"}

# Queries where a sort-merge join is the RIGHT plan: both sides scale
# with the fact/corpus table (per-doc stats joins, anti-join drop sets,
# the dup-subgraph label table on a dirty corpus), so no side is
# guaranteed broadcastable at 100 TB; AQE demotes to broadcast at
# runtime whenever the build side turns out small.
SMJ_OK = {"pipeline_corpus_clean", "pipeline_clean_index",
          "d6_neardup_clusters",
          # D6's corpus-scale joins plus the corpus×corpus quality join
          "d7_cluster_representatives",
          # band self-join: both sides ARE the events fact table (probe
          # explodes 3 buckets/row; restore-join left side is the fact) —
          # no broadcastable side exists at 100 TB.
          "e6_burst_counts",
          # same band-join shape, clicks x views both fact-scale
          "e11_attribution_window",
          # shingle candidate/verify joins: both sides corpus-scale
          "d9_containment",
          # two fact tables co-keyed on orderkey; anti join against a
          # fact-sized custkey set
          "h1_order_revenue", "h2_idle_customers",
          # term-df join: corpus vocabulary is not broadcast-sized
          "t13_rarity_stats",
          # within-cell pair self-join + drop-set join-back: both sides
          # corpus-scale (AQE demotes the drop set when it shrinks)
          "d10_semantic_dedup",
          # per-part aggregate join-back: the aggregate side scales with
          # the brand's part cardinality (AQE demotes when it shrinks)
          "h6_small_quantity_revenue",
          # rank/contrib joins: node- and edge-sized relations that scale
          # with the graph, co-partitioned on the key across iterations
          "g1_source_pagerank",
          # sketch/exact side join: both sides hour-grain (scale with
          # history; AQE demotes when small)
          "sk6_hll_windowed",
          # MERGE full-outer join: base and CDC batch both table-scale
          # (bucketing co-locates at 100 TB; no broadcastable side)
          "m1_upsert",
          # RRF full-outer fuse of two top-k lists: full outer can't
          # broadcast in Spark, and both sides are queries x k_cand rows
          "i3_rrf_fusion",
          # duplicated-window membership join-back and orphan-key anti
          # joins: both sides corpus/fact-scale (AQE demotes when small)
          "t26_substring_dedup", "q3_referential_integrity",
          # inherits D6's corpus-scale cluster-label joins
          "t28_leakage_safe_split",
          # first-seen join-back: both sides shingle-vocabulary-scale
          "t29_novelty",
          # bigram stream joins the bigram-vocab model; vocab is not
          # guaranteed broadcast-sized at 100 TB (AQE demotes when it is)
          "t27_bigram_lm",
          # wedge join: both sides are the edge list (graph-scale, not a
          # dim; degree-ordering bounds it at web scale, AQE demotes here)
          "g2_triangle_stats",
          # co-keyed fact join (orders x lineitem)
          "h26_priority_lateness",
          # F9 relational: the dense image grid (bl-t x bl-chan) joined
          # to the fact samples, and the per-cell mask joined back onto
          # the cells — at 100 TB the image IS fact-scale on both sides
          # (the UDF island with baseline bucketing is the scale path;
          # this is the hash-gated spelling)
          "f9_rfi_sumthreshold", "f9c_rfi_sir",
          # f9e inherits the f9 grid/mask joins per melted polarization
          # plus the rms-line and downsampled-fit join-backs — all
          # grid-scale on both sides (flag_rfi_mwa is the scale path)
          "f9e_rfi_mwa_strategy",
          # d11's band probes: the banded index and batch tables are
          # both corpus-scale (bucketed-table co-location at 100 TB;
          # AQE demotes when the batch is small)
          "d11_incremental_minhash",
          # pipeline_full inherits f9's grid/mask joins plus the
          # melt-pivot rejoin (visr x vvpiv co-keyed on the row key:
          # both fact-scale by definition)
          "pipeline_preprocess_full"}

HEADLINE = [
    "s1_vis_scan", "p1_select_ranges", "p1b_partitioned_scan",
    "f7_set_flags",
    "c2_cable_correction", "c3_geometric_correction", "c6_di_calibration",
    "a1_average_time_freq", "a2_channel_occupancy", "pipeline_preprocess",
    "d1_exact_dedup", "d3_minhash_lsh", "d6_neardup_clusters",
    "ann_ivf_topk", "t5_vocab_stats", "t6_tfidf_top_terms",
    "t7_stratified_sample",
    "e1_windowed_agg", "e3_top_users_salted", "e4_asof_join",
    "e5_event_rollup", "e6_burst_counts", "e7_json_extract_stats",
    "d7_cluster_representatives", "t10_contamination", "e8_trailing_bursts",
    "t8_length_quantiles", "t9_top_bigrams", "emb1_label_centroids",
    "pipeline_corpus_clean",
    "e9_retention", "e10_funnel", "t12_repetition", "emb2_kmeans",
    "sk1_kmv_distinct", "sk2_cms_heavy_hitters", "e11_attribution_window",
    "d9_containment", "h1_order_revenue", "h2_idle_customers",
    "e2b_sessionize_native", "e12_daily_type_pivot", "t13_rarity_stats",
    "sk3_hll_distinct", "e14_type_dow_sets", "h3_region_top_suppliers",
    "l1_zorder_layout", "t14_quality_filter", "t15_unigram_logprob",
    "i1_inverted_index", "i2_bm25_topk", "d10_semantic_dedup",
    "sk4_bloom_membership", "sk5_hist_quantiles", "mm_phash_neardup",
    "h4_pricing_summary", "h5_shipping_priority",
    "e15_type_transitions", "t16_bpe_pairs", "t17_chunk_udtf",
    "emb4_pq_codes", "t18_pmi_collocations", "h6_small_quantity_revenue",
    "e16_user_ewma", "ann_rerank_topk", "mm_scene_cuts",
    "g1_source_pagerank", "sk6_hll_windowed", "ts1_series_neardup",
    "m1_upsert", "m2_scd2_history", "pipeline_clean_index",
    "h7_fuzzy_names", "t20_weighted_sample",
    "h13_local_supplier_volume", "h14_part_supplier_counts",
    "t23_segment_dedup", "t24_sequence_packing", "s6_jsonl_roundtrip",
    "q1_column_profile", "q2_k_anonymity", "c3b_geometry_phase_centre",
    "m4_incremental_agg",
    "s1d_mwax_gpubox_scan", "s1e_legacy_gpubox_scan", "s3b_metafits_dims",
    "h15_volume_shipping", "h16_market_share", "h17_product_profit",
    "h18_important_parts", "h20_top_supplier", "h21_disjunctive_revenue",
    "h22_excess_suppliers", "h23_blame_suppliers", "h24_idle_rich_customers",
    "h25_forecast_revenue", "i3_rrf_fusion",
    "t26_substring_dedup", "sk7_theta_pairs", "m5_compaction_plan",
    "q3_referential_integrity", "t27_bigram_lm", "g2_triangle_stats",
    "h19_min_cost_supplier", "h26_priority_lateness",
    "t28_leakage_safe_split", "t29_novelty", "ts2_dtw_pairs",
    "mm7_audio_landmarks", "o5_shard_manifest",
    "f11_ssins_spectra", "f12_ssins_autos", "im1_uv_grid", "im2_uv_grid_uniform",
    "pipeline_preprocess_ssins",
    # round 3: relationalized UDF islands, LSH d5, precessed geometry,
    # MS subtable bundle (c1/pipeline_full checkpoint their lattice-sized
    # Newton relations, so those plans lead from ExistingRDD barriers)
    "c1_van_vleck", "f9_rfi_sumthreshold", "pipeline_preprocess_full",
    "d5_embedding_neardup", "c3c_part_uvw_precessed", "o2b_ms_subtables",
    "o2_ms_rows", "f9c_rfi_sir", "f9e_rfi_mwa_strategy",
    "d11_incremental_minhash", "t30_pii_scrub", "s1h_real_format_e2e",
    "s1j_uvfits_scan", "s1k_casams_scan",
    # round 3 additions: the UVFITS row relation behind the physical
    # byte gates and the multi-observation catalogue suite (the mo4/mo5
    # gates are file read-backs, so their PLAN surfaces are mo1's
    # baked chain + the averaging closer)
    "o1_uvfits_rows", "mo1_multi_obs_pipeline", "mo2_multi_obs_ssins",
    "mo3_multi_obs_occupancy",
    # round 5: delay spectrum (relational + hash-identical UDF island),
    # calibration drift QA, the float mwa RFI production path
    "im3_delay_spectrum", "im3b_delay_spectrum_udf", "mo6_calsol_drift",
    "f9f_rfi_mwa_float_udf", "q4_distribution_drift",
    "mm9_image_pixel_stats",
    # round 6: the StEFCal gain solver and its catalogue-scale shape
    # (st14's stream plan has no batch explain surface; its drained
    # solve is c7's plan), and the dirty-image imaging completion
    "c7_solve_di_gains", "mo7_multi_obs_calsolve", "im4_dirty_image",
    "im5_psf_image",
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _s1h_prechk(spark, sf_dir):
    from birli_spark import pipeline_e2e
    return pipeline_e2e.e2e_rows(spark, write_path=None)


#: queries whose EXECUTED form ends in localCheckpoint (+ a physical
#: write action), making the recorded plan a `Scan ExistingRDD` stub.
#: The audit explains this PRE-checkpoint twin instead — the same
#: relation with the checkpoint/write elided — so PLANS.md shows the
#: real lineage being graded. (The checkpoint itself is justified: it
#: keeps the writer's grid probes + the byte-gate re-reads off one
#: materialization, cli.write_uvfits.)
PRE_CHECKPOINT_TWINS = {
    "s1h_real_format_e2e": _s1h_prechk,
}


def _bnlj_subtree_scans_fact(plan: str) -> tuple[int, int]:
    """Walk the plan-tree text; for each BroadcastNestedLoopJoin count
    whether its subtree touches a parquet (fact) scan. Cross joins whose
    leaves are all LocalTableScans are dim-grid construction (baseline
    table = ant x ant, part-UVW grid = t x ant) — bounded by dim sizes.
    Returns (bounded, fact_side)."""
    tree = plan.split("\n\n")[0].splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[:+]- ", line)
        return m.start() if m else -1

    bounded = fact = 0
    for i, line in enumerate(tree):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        d = depth(line)
        sub = []
        for nxt in tree[i + 1:]:
            nd = depth(nxt)
            if nd >= 0 and nd <= d:
                break
            sub.append(nxt)
        if any("Scan parquet" in s for s in sub):
            fact += 1
        else:
            bounded += 1
    return bounded, fact


def audit(name: str, plan: str) -> list[str]:
    notes = []
    if "BroadcastHashJoin" in plan:
        notes.append(f"{plan.count('BroadcastHashJoin')}x broadcast hash join")
    n_smj = plan.count("SortMergeJoin")
    if n_smj:
        tag = ("big-big sort-merge join (both sides fact-scale: correct)"
               if name in SMJ_OK else
               "WARN sort-merge join (should a side broadcast?)")
        notes.append(f"{n_smj}x {tag}")
    bounded, fact_side = _bnlj_subtree_scans_fact(plan)
    if bounded:
        notes.append(f"{bounded}x dim-grid cross (LocalTableScan-only: bounded)")
    if fact_side:
        tag = "broadcast-bounded nested-loop over fact" if name in BNLJ_OK \
            else "WARN nested-loop join over a fact scan"
        notes.append(f"{fact_side}x {tag}")
    if "CartesianProduct" in plan:
        notes.append("WARN cartesian product")
    m = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    if any(x.strip() for x in m):
        notes.append("parquet filter pushdown")
    n_partial = len(re.findall(r"HashAggregate.*\n.*Functions \[\d+\]: \[partial", plan)) \
        or plan.count("partial_") \
        or len(re.findall(  # distinct-style: two HashAggregates around an
            # Exchange with no agg functions (partial dedup IS map-side)
            r"HashAggregate[^\n]*\n[^\n]*Exchange[^\n]*\n[^\n]*HashAggregate",
            plan))
    if "HashAggregate" in plan:
        notes.append("partial+final hash aggregation"
                     if n_partial else "WARN aggregate without partial phase")
    n_shuffle = len(re.findall(
        r"(?:Exchange |Arguments: )(?:hash|range)partitioning", plan))
    notes.append(f"{n_shuffle} shuffle exchange(s)")
    return notes


def write_plans_atomic(path: str, content: str) -> None:
    """Write the PLANS.md artifact atomically: temp file in the same
    directory, fsync, rename — an interrupted audit never leaves a
    truncated artifact behind."""
    import os
    import tempfile
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".plans_", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.001"
    wanted = [a for a in argv if "/" not in a]
    qs = entrymod.queries()
    unknown = [a for a in wanted if a not in qs]
    if unknown:
        print(f"error: unknown query name(s): {', '.join(unknown)} "
              "(names must be keys of __spark_entry__.queries())",
              file=sys.stderr)
        return 2
    names = [n for n in (wanted or HEADLINE) if n in qs]
    if not names:
        print("error: no queries to audit", file=sys.stderr)
        return 2
    spark = get_spark()
    out = ["# Physical plans (generated by tools/plan_audit.py)\n",
           f"\nScale factor dir: `{sf_dir}`. One section per headline query:",
           " the audit line lists the plan properties checked"
           " (broadcasts, pushdown, partial aggregation, codegen spans),",
           " then the full `explain('formatted')` output.\n"]
    bad = 0
    for n in names:
        builder = PRE_CHECKPOINT_TWINS.get(n) or qs[n]
        plan = formatted_plan(builder(spark, sf_dir))
        notes = audit(n, plan)
        if n in PRE_CHECKPOINT_TWINS:
            notes.append("pre-checkpoint lineage (executed form "
                         "checkpoints then writes)")
        line = "; ".join(notes)
        flag = "WARN" if "WARN" in line else "OK"
        bad += flag == "WARN"
        print(f"{flag:4s} {n}: {line}")
        out.append(f"\n## {n}\n\n`{line}`\n\n```\n{plan}```\n")
    # the scale-proof e2e CLI plan (SCALE_E2E_r7.json / SCALE.md §6):
    # the real-input baked relation over the 1090008640-shape fixture
    # (4-scan smoke size — the plan SHAPE is scan-count independent)
    if not wanted:
        try:
            from birli_spark import cli as _cli
            from tools import scale_e2e as _se
        except ImportError:
            import importlib.util as _ilu
            _sp = _ilu.spec_from_file_location(
                "scale_e2e", os.path.join(ROOT, "tools", "scale_e2e.py"))
            _se = _ilu.module_from_spec(_sp)
            _sp.loader.exec_module(_se)
            from birli_spark import cli as _cli
        import os as _os
        if not _os.path.exists(
                _os.path.join(_se.DEST, f"{_se.OBSID}.metafits")):
            _se.generate(4)
        ctx = _cli.parse_args(
            ["-m", _os.path.join(_se.DEST, f"{_se.OBSID}.metafits"),
             "--gpubox", _os.path.join(
                 _se.DEST, f"{_se.OBSID}_*gpubox*.fits"),
             "-u", "/tmp/plan_audit_scale.uvfits",
             "--max-memory", "32", "--no-draw-progress"])
        plan = formatted_plan(_cli.build_plan(spark, ctx))
        notes = audit("scale_e2e_cli_baked", plan)
        # formatted explain names each node once in the tree and once
        # in the detail section — count detail headers only
        # the archive decode is the plan's only MapInPandas (the
        # paths-relation scan — sources/gpubox.py::scan_paths_df);
        # binaryFile kept in the pattern for the non-archive readers
        nscan = len(re.findall(
            r"^\(\d+\) (?:Scan binaryFile|MapInPandas)", plan,
            re.MULTILINE))
        notes.append(
            f"{nscan} binary archive scan(s)"
            + ("" if nscan == 1 else
               " WARN: expected the archive decoded exactly once"))
        line = "; ".join(notes)
        flag = "WARN" if "WARN" in line else "OK"
        bad += flag == "WARN"
        print(f"{flag:4s} scale_e2e_cli_baked: {line}")
        out.append(f"\n## scale_e2e_cli_baked (the SCALE_E2E_r7 CLI"
                   f" plan, 1090008640 shape)\n\n`{line}`\n\n"
                   f"```\n{plan}```\n")
        names.append("scale_e2e_cli_baked")
    write_plans_atomic(os.path.join(ROOT, "PLANS.md"), "".join(out))
    print(f"== {len(names)} plans audited, {bad} with warnings ==")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
