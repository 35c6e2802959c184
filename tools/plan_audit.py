"""Audit the physical plan of every registry query → PLAN_AUDIT.md.

For each queries() entry, build the DataFrame at sf0.01 and summarize
its executed plan: parquet scans, shuffle Exchanges, broadcast
exchanges/joins, sort-merge joins, Arrow/Python stages, nested-loop or
cartesian joins (red flags), and single-partition global windows/sorts.
The table is the repo's standing answer to "did you .explain() every
operator, and is each plan the one you'd want at 100 TB".

Harness-style queries (streaming replays, checkpoint/resume, sinks)
execute real work while BUILDING the DataFrame; the audit still reports
the plan of their final read-back, flagged `harness` so a single-scan
summary is not mistaken for the whole pipeline.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")

# queries whose build phase RUNS jobs (sinks/streams/checkpoints/index
# writes); their final plan is just the read-back of a materialized table
HARNESS = {
    "stream_dedup",
    "stream_window_counts",
    "stream_sessions",
    "stream_staypoints",
    "stream_geotag_gate",
    "geotag_checkpointed",
    "results_sink_metrics",
    "shapefile_roundtrip",
    "compact_small_files",
    "schema_evolution_read",
    "ann_ivf_persisted",
    "dedup_clusters",
    "dedup_keep_representatives",
    "dense_index_assign",
    "segment_tiles",
    "zip_csv_scan",
    "warc_roundtrip",
    "stream_warc_ingest",
    "warc_cdx_fetch",
    "osm_xml_scan",
    "subarea_sync",
    "ann_ivf_topk",
    "ann_ivf_multiprobe",
    "snapshot_time_travel",
    "snapshot_merge_upsert",
    "stream_stream_join",
    "geotag_incremental",
    "snapshot_delete_vector",
    "stream_snapshot_ingest",
    "partitioned_sink_overwrite",
    "snapshot_manifest_log",
    "snapshot_rollback",
    "snapshot_expire",
    "stream_late_drop",
    "stream_restart_exactly_once",
    "stream_left_outer_join",
    "stream_output_modes",
    "cbo_stats_join_estimate",
}


# queries whose BroadcastNestedLoopJoin instances were hand-audited as
# 1-row scalar crossJoins (a global aggregate — corpus size, query
# norm, doc count — broadcast against the main table): constant-scale,
# not a data-sized nested loop
NESTED_LOOP_SCALAR_OK = {
    "mixture_token_budget",  # crossJoin(broadcast(1-row weight total))
    "important_part_value",  # crossJoin(broadcast(1-row sum)) — Q11 scalar decorrelation
    "dormant_customer_opportunity",  # crossJoin(broadcast(1-row sum/count)) — Q22 scalar
    "top_supplier_revenue",  # crossJoin(broadcast(1-row max)) — Q15 scalar
    "small_quantity_revenue",  # per-part (sum,count) rejoin; AQE may broadcast it — Q17
    "table_checksum_reconcile",  # crossJoin(broadcast(1-row checksums))
    "join_size_estimate",  # crossJoin(broadcast(1-row actual count))
    "bloom_semi_prune",  # 1-row bits broadcast (the filter itself) + 1-row n_dim scalar
    "semi_filter_strategy",  # same bloom 1-row bits + 1-row exact-count scalar
    "contribution_analysis",  # crossJoin(broadcast(1-row total)); window over 20 groups
    "pq_ann_adc",  # crossJoin(broadcast(1-row query vector)) for the exact-d2 column
    "hll_intersect_estimate",  # 1-row truth x 1-row pivoted sums scalar join
    "morans_i_grid",  # constant 5x5 spine + 1-row total scalar joins; adjacency itself is equi
    "merge_three_clause",  # 1-row action counts x 1-row result invariants scalar join
    "skew_diagnosis",  # 1-row totals x 1-row gini scalar joins (ranks are two-phase bucket ranks)
    "pmi_pairs_scaled",  # 1-row corpus-N scalar broadcast
    "raster_region_label",  # 1-row fg-count x 1-row region census scalar join
    "grid_line_of_sight",  # 25x25 tower self-pairing (constant dim x dim broadcast)
    "rrf_fusion",  # 1-row query-vector broadcast (ranks are two-phase bucket ranks)
    "stream_dead_letter",  # 1-row main-table stats x 1-row DLQ stats scalar join
    "temperature_resample",  # 1-row weight-total scalar broadcast
    "golden_record_merge",  # customers x constant 3-row source-copy broadcast
    "quantile_normalize",  # 1-row min-group-size scalar broadcast
    "douglas_peucker_simplify",  # ways x constant 121-point synthetic spine
    "setops_all_semantics",  # 1-row census scalars crossJoined for the identity check
    "stream_output_modes",  # 1-row update-sink stats x 1-row complete-sink stats
    "dedup_incremental_index",  # 1-row delta/dup/kept census scalars crossJoined
    "pagination_limit_offset",  # 1-row page-census scalars crossJoined
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "ann_ivf_persisted",
    "ann_ivf_multiprobe",
    "geotag_knn",
    "raster_tile_assign",
    "tfidf_topterms",
    "twophase_lookup",
    "segment_tiles",
    "conflate_verdicts",
    "conflate_verdicts_unglue",
    "conflate_verdict_counts",
    "conflate_report",
    "gapfill_daily",  # crossJoin(broadcast(1-row min/max day bounds))
    "hll_distinct_sketch",  # crossJoin of two 1-row aggregates (n_true x sum_scaled)
    "heavy_hitters",  # crossJoin(broadcast(1-row token total))
    "geotag_incremental",  # crossJoin(broadcast(1-row delta count))
    "bm25_retrieval",  # crossJoin(broadcast(1-row corpus N/T scalars))
    "hll_merge_rollup",  # crossJoin = #sources x 64 register spine (bounded)
    "countmin_sketch",  # crossJoin = 4-token probe x 4 hash rows (bounded)
    "lsh_recall_eval",  # crossJoin chain of four 1-row count aggregates
    "hull_diameter_calipers",  # hull x hull broadcast (|hull| = O(log n) vertices)
    "kendall_tau_inversions",  # cells x distinct-y-bucket broadcast (bounded metadata grain) + 1-row scalar combine chain
    "rank_join_topk",  # k x k broadcast grid of the two pruned top-k sides (bounded by construction)
    "raster_slope_stencil",  # 64 x 48 constant grid spine (bounded dim x dim broadcast, same as grid_line_of_sight)
    "tile_simplify_pyramid",  # rings x constant 3-zoom broadcast (bounded multiplier)
    "bitemporal_asof",  # observations x constant 6-probe broadcast grid (bounded multiplier)
}

# queries whose single-partition exchange was hand-audited as intended;
# skew_diagnosis and rrf_fusion left this list in r7: their global ranks
# now run as two-phase bucket ranks (plans/dense_index.global_rank) with
# no 1-partition window
SINGLE_PART_OK = {
    "quality_deciles",
    "skyline_frontier",
    "contribution_analysis",
}

# queries that build their synthetic world INLINE (datagen unions in the
# same plan) — the bench path materializes these worlds to parquet as
# unmeasured setup, so the audited plan here overstates the engine op
INLINE_WORLD = {
    "segment_tiles",
    "conflate_verdicts",
    "conflate_verdicts_unglue",
    "conflate_verdict_counts",
    "conflate_report",
    "edit_plan_summary",
    "geotag",
    "geotag_verdicts",
    "geotag_knn",
}

# queries that call conflation.conflate: the call runs its two
# checkpoint queries (candidate-resolved ways, sharing-pair flags), so
# the summarized plan is the verdict query over those two leaves
CONFLATE_CHECKPOINTS = {
    "conflate_verdicts",
    "conflate_verdicts_unglue",
    "conflate_verdict_counts",
    "conflate_report",
    "edit_plan_summary",
}


def _udf_names(udf_list: str) -> list[str]:
    """Names of the Python UDF calls in an ArrowEvalPython UDF list,
    nested calls included. A UDF call prints as ``name(args)#id``;
    built-in expressions in its arguments carry no ``#id`` after their
    closing paren and are skipped."""
    names = []
    for m in re.finditer(r"(\w+)\(", udf_list):
        depth, i = 1, m.end()
        while depth and i < len(udf_list):
            depth += {"(": 1, ")": -1}.get(udf_list[i], 0)
            i += 1
        if re.match(r"#\d+", udf_list[i:]):
            names.append(m.group(1))
    return names


def count_dup_udf(plan: str) -> int:
    """ArrowEvalPython nodes whose UDF list names one function twice:
    ``[g(x), f(g(x))]`` runs g once per output chain, so g is evaluated
    twice per row."""
    dup = 0
    for m in re.finditer(r"ArrowEvalPython \[(.*?)\], \[", plan):
        names = _udf_names(m.group(1))
        dup += len(names) != len(set(names))
    return dup


def summarize(plan: str) -> dict[str, int]:
    # an Exchange SinglePartition whose child is a keys=[] partial
    # aggregate is the canonical global scalar aggregate: ONE row per
    # upstream partition crosses it — benign at any scale
    sp_benign = 0
    sp_total = 0
    for m in re.finditer(r"Exchange SinglePartition", plan):
        sp_total += 1
        # window sized for deeply indented trees: the runtime-bloom-
        # filter scalar aggregate Spark injects under selective joins
        # (bloom_filter_agg, SPARK-32268) sits behind ~300 chars of
        # tree indentation in the conflation plan and is exactly the
        # benign one-row-per-partition shape this check whitelists
        tail = plan[m.end() : m.end() + 900]
        # ANY keys=[] aggregate child (partial_ or merge_+partial_distinct
        # mixed-phase, as countDistinct plans emit) moves exactly one row
        # per upstream partition through the exchange
        if re.search(
            r"Aggregate\(key(?:s)?=\[\], functions=\[(?:partial_|merge_|bloom_filter_agg)",
            tail,
        ):
            sp_benign += 1
    return {
        "scans": plan.count("Scan parquet") + plan.count("Scan ExistingRDD"),
        "shuffles": len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)),
        "bcast": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "arrow": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "python_row": plan.count("BatchEvalPython"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
        "single_part": sp_total - sp_benign,
        "dup_udf": count_dup_udf(plan),
        # a cached relation prints its whole plan at every read, and a
        # cache nested in a cache prints it again: the count is the blow-up
        "inmem": plan.count("InMemoryRelation"),
    }


def main() -> None:
    import __spark_entry__ as E
    from osm_admin_boundary_conflation_spark.session import build_session

    only = set(sys.argv[1:])
    spark = build_session(app_name="plan-audit")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from driver_sim import materialize_worlds

    materialize_worlds(spark, SF_DIR)
    rows = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            s = summarize(plan)
            s["name"] = name
            s["build_s"] = round(time.time() - t0, 1)
            rows.append(s)
            print(f"[ok] {name}: {s}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"[ERR] {name}: {exc}", flush=True)
            rows.append({"name": name, "error": str(exc)[:100]})

    flagged = [
        r
        for r in rows
        if r.get("python_row")
        or r.get("dup_udf")
        or (r.get("nested_loop") and r["name"] not in NESTED_LOOP_SCALAR_OK)
        or (r.get("single_part") and r["name"] not in SINGLE_PART_OK)
    ]
    out = [
        "# PLAN AUDIT — every registry query's executed plan, summarized",
        "",
        f"Generated by `tools/plan_audit.py` at sf0.01 over {len(rows)} queries.",
        "Columns: parquet scans / shuffle exchanges / broadcast exchanges /",
        "sort-merge joins / Arrow-vectorized python stages / row-at-a-time",
        "python (MUST be 0) / nested-loop-or-cartesian joins (MUST be 0) /",
        "single-partition exchanges that are NOT global scalar aggregates",
        "(0 except the pinned ntile semantics query — keys=[] partial→final",
        "aggregates move one row per partition and are excluded as benign).",
        "`harness` = the build phase ran sink/stream/index jobs and the",
        "summarized plan is the final read-back only.",
        "",
        "| query | scans | shuffles | bcast | smj | arrow | row-py | nested | 1-part | note |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda r: r["name"]):
        if "error" in r:
            out.append(f"| {r['name']} | - | - | - | - | - | - | - | - | ERROR {r['error']} |")
            continue
        notes = []
        if r["name"] in HARNESS:
            notes.append("harness")
        if r["name"] in INLINE_WORLD:
            notes.append("world read from materialized parquet (bench-style setup)")
        if r["name"] in CONFLATE_CHECKPOINTS:
            notes.append("conflate's two checkpoint queries run before the summarized plan")
        if r["name"] in NESTED_LOOP_SCALAR_OK and r["nested_loop"]:
            notes.append("nested-loop = 1-row scalar crossJoin (hand-audited)")
        if r["name"] == "quality_deciles" and r["single_part"]:
            notes.append("pinned ntile semantics (scale path tested separately)")
        if r["name"] == "skyline_frontier" and r["single_part"]:
            notes.append(
                "1-part = exact finish over the bounded salted-frontier "
                "candidate union (TakeOrdered-style)"
            )
        note = "; ".join(notes)
        out.append(
            f"| {r['name']} | {r['scans']} | {r['shuffles']} | {r['bcast']} | {r['smj']} |"
            f" {r['arrow']} | {r['python_row']} | {r['nested_loop']} | {r['single_part']} |"
            f" {note} |"
        )
    out += [
        "",
        f"**Red-flag queries (row-python / double-evaluated UDF / nested-loop / "
        f"unexpected 1-partition): "
        f"{[r['name'] for r in flagged] or 'none'}**",
        "",
    ]
    if not only:
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
            f.write("\n".join(out))
        print("PLAN_AUDIT.md written")
    print(f"flagged: {[r['name'] for r in flagged]}")


if __name__ == "__main__":
    main()
