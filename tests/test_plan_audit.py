"""tools/plan_audit.summarize on literal executed-plan strings, and the
query-name lists the tools keep (no Spark)."""

import bench
import bench_extra
from osm_admin_boundary_conflation_spark.queries import QUERIES
from tools import plan_audit
from tools.plan_audit import summarize

# extract_text chained into extract_geo AND returned on its own: the
# worker evaluates each output chain separately, so extract_text runs
# twice per page
_CHAINED = (
    "+- ArrowEvalPython [extract_geo_udf(extract_text_udf(html#2)#5)#8, "
    "extract_text_udf(html#2)#5], [pythonUDF0#9, pythonUDF1#10], 200"
)
_FUSED = "+- ArrowEvalPython [extract_page_udf(html#2)#5], [pythonUDF0#9], 200"
# two different UDFs sharing a built-in argument expression
_SHARED_BUILTIN = (
    "+- ArrowEvalPython [point_in_wkt_udf(cast(lon#1 as double), lat#2, wkt#3)#7, "
    "cover_wkt_full_udf(cast(lon#1 as double))#8], [pythonUDF0#9, pythonUDF1#10], 200"
)


def test_dup_udf_counts_double_evaluated_chain():
    assert summarize(_CHAINED)["dup_udf"] == 1
    assert summarize(_FUSED)["dup_udf"] == 0
    assert summarize(_SHARED_BUILTIN)["dup_udf"] == 0
    assert summarize("\n".join([_CHAINED, _FUSED, _CHAINED]))["dup_udf"] == 2
    assert summarize(_CHAINED)["arrow"] == 1


# a cached relation read by a cached relation: the inner cache prints
# once inside the outer one's plan and once at its own read
_NESTED_CACHE = """\
+- InMemoryTableScan [way_id#1, n_cands#2]
   +- InMemoryRelation [way_id#1, n_cands#2], StorageLevel(disk, memory, deserialized, 1 replicas)
      +- *(2) Project [way_id#1, n_cands#2]
         +- InMemoryTableScan [way_id#1]
            +- InMemoryRelation [way_id#1], StorageLevel(disk, memory, deserialized, 1 replicas)
               +- *(1) Scan ExistingRDD[way_id#1]
+- InMemoryTableScan [way_id#1]
   +- InMemoryRelation [way_id#1], StorageLevel(disk, memory, deserialized, 1 replicas)
      +- *(1) Scan ExistingRDD[way_id#1]"""


def test_inmem_counts_cached_relation_prints():
    assert summarize(_NESTED_CACHE)["inmem"] == 3
    assert summarize(_FUSED)["inmem"] == 0
    assert summarize("+- *(1) Scan ExistingRDD[way_id#1]")["inmem"] == 0


def test_tool_name_lists_name_registered_queries():
    """A query deleted from the registry must leave every tool list too:
    a stale name in a plan-audit set is silently never matched, and a
    stale headline name fails only when the bench runs."""
    lists = {
        "plan_audit.HARNESS": plan_audit.HARNESS,
        "plan_audit.NESTED_LOOP_SCALAR_OK": plan_audit.NESTED_LOOP_SCALAR_OK,
        "plan_audit.SINGLE_PART_OK": plan_audit.SINGLE_PART_OK,
        "plan_audit.INLINE_WORLD": plan_audit.INLINE_WORLD,
        "plan_audit.CONFLATE_CHECKPOINTS": plan_audit.CONFLATE_CHECKPOINTS,
        "bench.HEADLINE": bench.HEADLINE,
        "bench_extra.HEADLINE": bench_extra.HEADLINE,
    }
    stale = [f"{k}: {n}" for k, names in lists.items() for n in sorted(names) if n not in QUERIES]
    assert stale == [], "names not in the registry:\n  " + "\n  ".join(stale)
