"""Boundary segmentation / tiling (reference §3.3, translation.py).

The reference's preOutputTransform turns boundary polygons into
shared-border way segments:

  J8  corner detection: nodes belonging to >2 ways
      (translation.py:103-116 via get_shared_vertices usage :220-221)
  G13 way splitting at corner indexes, closed-way wraparound merge of
      the first/last piece (splitWay, translation.py:46-82)
  G15/O11 rotation/reversal-invariant canonical fingerprint
      (similar, translation.py:132-160) replacing the reference's
      O(n^2) sort-and-break dedup pass (translation.py:244-262) with an
      equi groupBy on the fingerprint — no quadratic pass at all
  A5  re-tag: min admin_level over parents, sorted parent id list
      (translation.py:295-324)

Scale: corner detection is one explode + groupBy count on node_id;
splitting (split_way_expr) and fingerprinting (fingerprint_expr, open
segments and rings alike) are whole-stage-codegen'd JVM expressions
per way, with no Python worker; dedup is a groupBy on the fingerprint —
three shuffles, all on well-distributed keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def split_way_expr(node_ids, corner_pos):
    """G13: split a way's node list at corner positions. Closed ways
    wrap around: the piece after the last corner merges with the piece
    before the first (translation.py:72-79).

    A pure JVM expression, whole-stage-codegen'd: no Arrow boundary, no
    per-way Python (differential-tested against a plain-Python oracle in
    tests/test_segmentation.py). It serves every way, including the
    300k-node strip-world perimeter (3M at sf1.0), which alone cost ~2 s
    in one Python task when split per way in Python.

    Every derived array (core, corner indexes, cut points) is bound to a
    lambda variable via the transform-over-singleton idiom; referencing
    the defining expression inside a nested lambda instead would
    re-evaluate it once per emitted segment (higher-order-function
    arguments are not common-subexpression-eliminated)."""
    empty = F.array().cast("array<array<long>>")
    n_all = F.size(node_ids)
    closed = (n_all > 1) & (F.get(node_ids, 0) == F.get(node_ids, n_all - 1))
    core = F.when(closed, F.slice(node_ids, 1, n_all - 1)).otherwise(node_ids)

    def with_core(c):
        nc = F.size(c)
        idxs = F.array_sort(F.filter(corner_pos, lambda i: i < nc))

        def with_idxs(ix):
            k = F.size(ix)
            # open way: segments between consecutive cut points
            # [0] + idxs + [nc-1] (deduped) — matches the oracle's
            # prev/emit loop including corners at 0 or nc-1
            cuts = F.array_distinct(
                F.concat(F.array(F.lit(0)), ix, F.array((nc - 1).cast("int")))
            )

            def with_cuts(cu):
                m = F.size(cu)
                return F.when(m < 2, empty).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), m - 2),
                        lambda i: F.slice(
                            c, F.get(cu, i) + 1, F.get(cu, i + 1) - F.get(cu, i) + 1
                        ),
                    )
                )

            open_segs = F.get(F.transform(F.array(cuts), with_cuts), 0)
            # closed way: one segment per corner, wraparound merge of the
            # piece after the last corner with the piece before the first
            closed_segs = F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda j: F.when(
                    j < k - 1,
                    F.slice(c, F.get(ix, j) + 1, F.get(ix, j + 1) - F.get(ix, j) + 1),
                ).otherwise(
                    F.concat(
                        F.slice(c, F.get(ix, k - 1) + 1, nc - F.get(ix, k - 1)),
                        F.slice(c, 1, F.get(ix, 0) + 1),
                    )
                ),
            )
            return F.when(k == 0, F.array(node_ids)).otherwise(
                F.when(closed, closed_segs).otherwise(open_segs)
            )

        return F.get(F.transform(F.array(idxs), with_idxs), 0)

    return F.when(n_all == 0, empty).otherwise(
        F.get(F.transform(F.array(core), with_core), 0)
    )


def _id_list(ids):
    """Node-id array → "id,id,..." (fingerprints, representative key)."""
    return F.array_join(F.transform(ids, lambda x: x.cast("string")), ",")


def fingerprint_expr(node_ids):
    """G15: rotation/reversal-invariant fingerprint of a node-id list as
    one JVM expression, equal to geometry.canonical_node_fingerprint.

    Open lists: "O:" + the lesser of (ids, reversed ids). Rings (first
    id == last id): "R:" + the lexicographically least rotation, over
    both orientations, of the core (the ring without its closing id).
    That rotation starts at an occurrence of the minimum id, so only
    those k are candidates: rotation k of the core and rotation m-1-k of
    its reversal, O(n x occurrences of the min) per ring. core, its
    reversal and its minimum are bound to lambda variables
    (transform-over-singleton, as in split_way_expr): left unbound,
    array_min would be re-evaluated per element inside the filter."""

    def serialize(prefix, ids):
        return F.concat(F.lit(prefix), _id_list(ids))

    def bind(value, fn):
        return F.get(F.transform(F.array(value), fn), 0)

    def rot(c, m, k):
        return F.concat(F.slice(c, k + 1, m - k), F.slice(c, 1, k))

    def ring_fp(c):
        m = F.size(c)

        def least_rotation(r, mn):
            ks = F.filter(F.sequence(F.lit(0), m - 1), lambda k: F.get(c, k) == mn)
            return F.aggregate(
                ks, c, lambda acc, k: F.least(acc, rot(c, m, k), rot(r, m, m - 1 - k))
            )

        best = bind(F.reverse(c), lambda r: bind(F.array_min(c), lambda mn: least_rotation(r, mn)))
        return serialize("R:", best)

    n = F.size(node_ids)
    is_ring = (n > 1) & (F.get(node_ids, 0) == F.get(node_ids, n - 1))
    return F.when(is_ring, bind(F.slice(node_ids, 1, n - 1), ring_fp)).otherwise(
        serialize("O:", F.least(node_ids, F.reverse(node_ids)))
    )


def detect_corners(ways: DataFrame, min_ways: int = 3) -> DataFrame:
    """J8: nodes present in >= min_ways distinct ways → corner nodes.

    countDistinct fuses the old dropDuplicates + count pair into one
    logical aggregate (one exchange instead of two, with map-side
    partial dedup on (node_id, way_id) — guide §2.4)."""
    wn = ways.select("way_id", F.explode("node_ids").alias("node_id"))
    return (
        wn.groupBy("node_id")
        .agg(F.countDistinct("way_id").alias("n_ways"))
        .filter(F.col("n_ways") >= min_ways)
        .select("node_id")
    )


def lint_metrics():
    """Runtime lint invariants (translation.py:331-370) as observed
    metrics: consecutive duplicate nodes in ways, one-node ways. Rides
    the existing scan via df.observe — no extra job (the in-pipeline
    analogue of the reference's after-each-phase lint pass)."""
    dup_nodes = F.expr(
        "size(filter(zip_with(node_ids, slice(node_ids, 2, size(node_ids) - 1),"
        " (a, b) -> a = b), x -> x))"
    )
    return [
        F.count(F.lit(1)).alias("n_ways"),
        F.sum(dup_nodes.cast("long")).alias("dup_nodes"),
        F.sum((F.size("node_ids") == 1).cast("long")).alias("one_node_ways"),
    ]


def segment_ways(ways: DataFrame, lint_observation=None) -> DataFrame:
    """ways(way_id, node_ids, admin_level) → deduped segment table
    (fp, parents, n_parents, admin_level, node_ids).

    Pass a pyspark Observation as ``lint_observation`` to collect the
    translation.py lint counters alongside the run."""
    if lint_observation is not None:
        ways = ways.observe(lint_observation, *lint_metrics())
    corners = detect_corners(ways)

    # corner positions per way; ways without corners get an empty list
    pos = ways.select("way_id", F.posexplode("node_ids").alias("pos", "node_id"))
    corner_pos = (
        pos.join(corners, "node_id")  # corner set can be large at scale: shuffle equi join, AQE may still broadcast
        .groupBy("way_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("corner_pos"))
    )
    w = ways.join(corner_pos, "way_id", "left").withColumn(
        "corner_pos", F.coalesce("corner_pos", F.array().cast("array<int>"))
    )
    segs = w.select(
        "way_id",
        "admin_level",
        F.explode(split_way_expr(F.col("node_ids"), F.col("corner_pos"))).alias("seg_nodes"),
    ).withColumn("fp", fingerprint_expr(F.col("seg_nodes")))
    # min_by on a canonical serialization, NOT first(): segments sharing
    # a fingerprint differ by rotation/reversal, and first() would make
    # node_ids vary run-to-run with partitioning — violating the
    # byte-identical-output rule (VERDICT r01 #3)
    seg_key = _id_list(F.col("seg_nodes"))
    return segs.withColumn("seg_key", seg_key).groupBy("fp").agg(
        F.array_join(F.array_sort(F.collect_set("way_id")), ",").alias("parents"),
        F.count("*").alias("n_parents"),
        F.min(F.col("admin_level").cast("int")).alias("admin_level"),
        F.min_by("seg_nodes", "seg_key").alias("node_ids"),
    )
