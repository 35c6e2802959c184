"""Geometry-rewrite edit plan (J10 + S13, conflate.py:407-448).

The reference mutates OSM in place: for a CHECKED_POSSIBLE way it
updates node i to source coord i, deletes surplus OSM nodes, creates
nodes (ids -i) for surplus source coords inserted before the last node,
then updates the last node to the last source coord. In dry-run the
writes are skipped — the *intended edits* are the output. This operator
materializes exactly those intended edits as a table (the engine's
write-back sink is a table of edits, not a remote API).

Positional alignment is the reference's zip (J10): posexplode both
sides, full-outer join on position. Reversal (conflate.py:272-273) is
applied to the source coords first; the decision is the verdict
battery's G7 ``should_reverse`` column, read from the verdicts, not
recomputed here.

Edit counts per way follow from the reference's loop bounds:
  n_updates = min(n_osm, n_src) - 1 + 1(last-node fix)
  n_creates = max(0, n_src - n_osm)
  n_deletes = max(0, n_osm - n_src)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def edit_plan(
    verdicts: DataFrame, src_ways: DataFrame, osm_ways: DataFrame
) -> DataFrame:
    """verdicts(way_id, osm_way_id, verdict, should_reverse) → one row
    per intended edit: (way_id, osm_way_id, op, node_id, pos, lon, lat)."""
    todo = verdicts.filter(F.col("verdict") == "CHECKED_POSSIBLE").select(
        "way_id", "osm_way_id", "should_reverse"
    )
    s = src_ways.select("way_id", F.col("coords").alias("src_coords"))
    o = osm_ways.select("osm_way_id", F.col("node_ids").alias("osm_nodes"))
    # broadcast the TODO side explicitly: size estimates made the planner
    # broadcast the array-payload way tables instead (BuildRight on every
    # join in plans/r08/edit_plan_summary_before.txt), serializing every
    # coords array into a hash relation while the 20x-smaller
    # CHECKED_POSSIBLE set streamed (guide §3.1: estimates are often
    # wrong after filters — hint the side you know is small).
    d = F.broadcast(todo).join(s, "way_id")
    d = F.broadcast(d).join(o, "osm_way_id")
    d = d.withColumn(
        "src_aligned",
        F.when(F.col("should_reverse"), F.reverse("src_coords")).otherwise(F.col("src_coords")),
    )

    d = d.withColumn("n_src", F.size("src_aligned")).withColumn("n_osm", F.size("osm_nodes"))
    d = d.withColumn("src_last", F.element_at("src_aligned", -1))

    # positional zip: pos 0..max(n_src,n_osm)-1
    d = d.withColumn(
        "pos", F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_src"), F.col("n_osm")) - 1))
    )
    pos, n_src, n_osm = F.col("pos"), F.col("n_src"), F.col("n_osm")
    osm_node = F.element_at("osm_nodes", pos + 1)
    src_pt = F.element_at("src_aligned", pos + 1)

    update_loop = (pos < n_osm - 1) & (pos < n_src - 1)
    update_last = pos == n_osm - 1
    delete_op = (pos >= n_src - 1) & (pos < n_osm - 1)
    create_op = (pos >= n_osm - 1) & (pos < n_src - 1)

    ops = F.array_compact(
        F.array(
            F.when(
                update_loop,
                F.struct(
                    F.lit("update").alias("op"),
                    osm_node.alias("node_id"),
                    src_pt[0].alias("lon"),
                    src_pt[1].alias("lat"),
                ),
            ),
            F.when(
                update_last,
                F.struct(
                    F.lit("update").alias("op"),
                    osm_node.alias("node_id"),
                    F.col("src_last")[0].alias("lon"),
                    F.col("src_last")[1].alias("lat"),
                ),
            ),
            F.when(
                delete_op,
                F.struct(
                    F.lit("delete").alias("op"),
                    osm_node.alias("node_id"),
                    F.lit(None).cast("double").alias("lon"),
                    F.lit(None).cast("double").alias("lat"),
                ),
            ),
            F.when(
                create_op,
                F.struct(
                    F.lit("create").alias("op"),
                    (-pos).cast("long").alias("node_id"),
                    src_pt[0].alias("lon"),
                    src_pt[1].alias("lat"),
                ),
            ),
        )
    )
    out = d.select("way_id", "osm_way_id", "pos", F.explode(ops).alias("e"))
    return out.select(
        "way_id",
        "osm_way_id",
        F.col("e.op").alias("op"),
        F.col("e.node_id").alias("node_id"),
        "pos",
        F.col("e.lon").alias("lon"),
        F.col("e.lat").alias("lat"),
    )


def edit_summary(plan: DataFrame) -> DataFrame:
    return plan.groupBy("way_id").agg(
        F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("op") == "create", 1).otherwise(0)).alias("n_creates"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
    )
