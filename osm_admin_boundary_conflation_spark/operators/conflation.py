"""Conflation verdict battery (reference §3.2, conflate.py dry-run).

Recomputes the reference's per-way ProcessingState verdict
(/root/reference/processing_state.py:4-27) declaratively:

  stage A  J1 membership   src_rels groupBy way → n_rels + ref keys
           (conflate.py:489-495; >=3 relations → ERROR_OVERLAPPING_WAYS
            conflate.py:557-560)
  stage B  candidate index from OSM relation TAGS (admin_level=9 + ref,
           mirroring the Overpass filters conflate.py:68-71):
           shared lookup = member of rel(r1) AND rel(r2) (S6,
           conflate.py:65-80); exclusive lookup = member of rel(r1) and
           no other level-9 relation (S7, conflate.py:83-97);
           0/1/>1 cardinality verdicts (conflate.py:516-556)
  stage C  tag/node/relation predicate flags via equi joins
           (P4 conflate.py:200-202, P5 :205-211, S8+P4/P6 :214-260,
            P7 :262-265)
  stage D  one vectorized geometry UDF per matched pair
           (P8 :365-368, P9 :370-376, G12 :297-316, G7 :278-294,
            P11 :386-391 — including the reference's lat/lon-SWAPPED
            bearing call at conflate.py:389-390, reproduced for parity)
  stage E  verdict when()-chain in exact reference evaluation order;
           dry_run=True & auto_proceed=True semantics: the rewrite path
           returns CHECKED_POSSIBLE (conflate.py:451-452) and
           non-heuristic matches skip the human gate (conflate.py:392).

Deviation (documented): ERROR_END_POINTS_FAR_APART's error_context is
floor(meters) as a string instead of str(float) — cross-engine float
formatting is not stable; the full-precision distance is still emitted
as endpoint_dist_m.

Scale: every join is an equi join on way/node/ref keys; the node→way
reverse index is a linear explode; geometry runs in one Arrow batch
stage. No driver-side loops, no per-row Python. The plan is cut at two
eager localCheckpoint leaves — the candidate-resolved ways with their
OSM payload, and the per-pair node-sharing flags — so one call is three
short queries: the two checkpoints when ``conflate`` is called, then the
flags/battery/verdict query over two ``Scan ExistingRDD`` leaves at the
caller's action. conflate caches nothing: a cached subtree read by
several branches is planned again in each of them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from ..functions import geometry as G

ALLOWED_TAGS = ("admin_level", "boundary", "note", "source", "fixme", "type", "int_name")

_GEOM_SCHEMA = StructType(
    [
        StructField("too_many", BooleanType()),
        StructField("invalid", BooleanType()),
        StructField("closed", BooleanType()),
        StructField("same", BooleanType()),
        StructField("endpoint_dist_m", DoubleType()),
        StructField("should_reverse", BooleanType()),
        StructField("heuristic_same", BooleanType()),
        StructField("hausdorff_m", DoubleType()),
    ]
)


def _hav(lon1, lat1, lon2, lat2):
    return G.haversine_m(lon1, lat1, lon2, lat2)


def _vector_group(S: np.ndarray, O: np.ndarray, out: dict, idx: np.ndarray) -> None:
    """Vectorized battery for a group of rows with equal shapes.
    S: (B, ns, 2), O: (B, no, 2) — all under the 2000-point cap."""
    B, ns, _ = S.shape
    no = O.shape[1]

    invalid = (np.abs(S - S[:, :1, :]).max(axis=(1, 2)) < 1e-15) | (
        np.abs(O - O[:, :1, :]).max(axis=(1, 2)) < 1e-15
    )
    closed = (np.abs(S[:, 0] - S[:, -1]).max(axis=1) < 1e-9) | (
        np.abs(O[:, 0] - O[:, -1]).max(axis=1) < 1e-9
    )
    # closed|ring collapses to closed: shapely is_ring implies is_closed
    alive = ~invalid & ~closed

    # hausdorff (discrete, both directions) for alive rows
    dmat = _hav(
        S[:, :, None, 0], S[:, :, None, 1], O[:, None, :, 0], O[:, None, :, 1]
    )  # (B, ns, no)
    haus = np.maximum(dmat.min(axis=2).max(axis=1), dmat.min(axis=1).max(axis=1))

    # endpoint match (G7) — reference get_bigger_endpoint_difference
    # (conflate.py:278-294) exact rule: reverse iff d(o0,s_last) <
    # d(o0,s0); distance = max(min of the two o0 distances, the o_last
    # distance of the chosen orientation).
    s0, s1, o0, o1 = S[:, 0], S[:, -1], O[:, 0], O[:, -1]
    d11 = _hav(s0[:, 0], s0[:, 1], o0[:, 0], o0[:, 1])  # d(o0, s0)
    d22 = _hav(s1[:, 0], s1[:, 1], o1[:, 0], o1[:, 1])  # d(o_last, s_last)
    d12 = _hav(s0[:, 0], s0[:, 1], o1[:, 0], o1[:, 1])  # d(o_last, s0)
    d21 = _hav(s1[:, 0], s1[:, 1], o0[:, 0], o0[:, 1])  # d(o0, s_last)
    reverse = d21 < d11
    ep_dist = np.maximum(np.minimum(d11, d21), np.where(reverse, d12, d22))

    # G12 same-geometry (conflate.py:297-316): endpoint rule ≤1m, then
    # per-node ≤1m on the CHOSEN orientation only (never both).
    same = np.zeros(B, bool)
    if ns == no:
        d_f = _hav(S[:, :, 0], S[:, :, 1], O[:, :, 0], O[:, :, 1]).max(axis=1)
        Orev = O[:, ::-1]
        d_r = _hav(S[:, :, 0], S[:, :, 1], Orev[:, :, 0], Orev[:, :, 1]).max(axis=1)
        d_chosen = np.where(reverse, d_r, d_f)
        same = alive & (ep_dist <= 1.0) & (d_chosen <= 1.0)

    # buffer containment (P11): every aligned-src vertex within 0.005 deg
    # (planar) of the osm polyline
    S_al = np.where(reverse[:, None, None], S[:, ::-1], S)
    a = O[:, None, :-1, :]  # (B,1,no-1,2)
    ab = O[:, None, 1:, :] - a
    p = S_al[:, :, None, :]  # (B,ns,1,2)
    denom = (ab**2).sum(axis=3)
    denom = np.where(denom == 0, 1e-300, denom)
    t = np.clip(((p - a) * ab).sum(axis=3) / denom, 0.0, 1.0)
    proj = a + t[..., None] * ab
    dist_deg = np.sqrt(((p - proj) ** 2).sum(axis=3)).min(axis=2).max(axis=1)
    within = dist_deg <= 0.005

    # quirked bearings (conflate.py:389-390 swapped lat/lon)
    def qbear(p0, p1):
        return G.compass_bearing(p0[:, 1], p0[:, 0], p1[:, 1], p1[:, 0])

    a1 = qbear(O[:, 0], O[:, -1])
    a2 = qbear(S_al[:, 0], S_al[:, -1])
    heur = within & (np.abs(a1 - a2) < 5.0)

    out["invalid"][idx] = invalid
    out["closed"][idx] = ~invalid & closed
    out["same"][idx] = same
    out["hausdorff_m"][idx] = np.where(alive, haus, -1.0)
    out["endpoint_dist_m"][idx] = np.where(alive & ~same, ep_dist, np.inf)
    out["should_reverse"][idx] = alive & ~same & reverse
    out["heuristic_same"][idx] = alive & ~same & heur


@pandas_udf(_GEOM_SCHEMA)
def geom_battery_udf(src: pd.Series, osm: pd.Series, n_src: pd.Series) -> pd.DataFrame:
    """Batch-vectorized: rows are grouped by (len_src, len_osm) and each
    group is evaluated with whole-group numpy math (no per-row Python
    beyond the grouping pass). Short-circuit order mirrors conflate_way:
    too_many (on the node COUNT column — the coord arrays of huge ways
    are trimmed before the join and never shipped), then invalid/closed/
    same/endpoint/buffer/bearing."""
    n = len(src)
    out = {
        "too_many": np.zeros(n, bool),
        "invalid": np.zeros(n, bool),
        "closed": np.zeros(n, bool),
        "same": np.zeros(n, bool),
        "endpoint_dist_m": np.full(n, np.inf),
        "should_reverse": np.zeros(n, bool),
        "heuristic_same": np.zeros(n, bool),
        "hausdorff_m": np.full(n, -1.0),
    }
    nsrc = n_src.to_numpy(np.int64)
    out["too_many"][:] = nsrc >= 2000  # conflate.py:365-368
    groups: dict[tuple[int, int], list[int]] = {}
    mats: dict[tuple[int, int], tuple[list, list]] = {}
    for i, (s, o) in enumerate(zip(src, osm)):
        if out["too_many"][i]:
            continue
        if s is None or o is None or len(s) < 2 or len(o) < 2:
            out["invalid"][i] = True
            continue
        key = (len(s), len(o))
        groups.setdefault(key, []).append(i)
        ms, mo = mats.setdefault(key, ([], []))
        ms.append(np.asarray(s.tolist() if hasattr(s, "tolist") else list(s), dtype=np.float64))
        mo.append(np.asarray(o.tolist() if hasattr(o, "tolist") else list(o), dtype=np.float64))
    # Chunk each same-shape group so the largest broadcast tensor inside
    # _vector_group — the (B, ns, no-1, 2) buffer-containment one, ~2×
    # the (B, ns, no) Hausdorff matrix — stays bounded (~2^24 elements
    # ≈ 134 MB float64 per tensor). Without this an Arrow batch of ~100
    # matched 1500-node pairs transiently allocates >1.8 GB in a single
    # Python worker (VERDICT r02 #4).
    _MAX_ELEMS = 1 << 24
    for key, idx_list in groups.items():
        ms, mo = mats[key]
        ns, no = key
        step = max(1, _MAX_ELEMS // max(1, ns * no))
        for lo in range(0, len(idx_list), step):
            hi = lo + step
            idx = np.asarray(idx_list[lo:hi])
            _vector_group(np.stack(ms[lo:hi]), np.stack(mo[lo:hi]), out, idx)
    return pd.DataFrame(out)


def conflate(
    src_ways: DataFrame,
    src_rels: DataFrame,
    osm_ways: DataFrame,
    osm_node_tags: DataFrame,
    osm_rels: DataFrame,
    max_endpoint_m: float = 500.0,
    unglue_ways_as_needed: bool = False,
) -> DataFrame:
    """→ (way_id, n_rels, verdict, osm_way_id, error_context,
        endpoint_dist_m, hausdorff_m, n_unglued, should_reverse).

    ``should_reverse`` is the battery's G7 orientation decision
    (conflate.py:272-273), which edit_plan applies to the source coords;
    NULL on unmatched rows.

    ``unglue_ways_as_needed`` mirrors the config.yml flag gating
    unglue_ways (conflate.py:150-186, invoked at :221-238): a sharing
    way that is neither national nor boundary=administrative no longer
    errors when the shared nodes can be duplicated — direction 1
    unglues the CANDIDATE boundary (shared node must not be a candidate
    endpoint), else direction 2 unglues the OTHER way (not its
    endpoint); both require BOTH ways tagged ("boundary in disguise"
    check, :147-148) and the node itself untagged (:173-175). The
    duplicated-node count rides out as ``n_unglued`` (the dry-run edit
    analogue of NodeCreate+WayUpdate).

    The call is eager: it runs the two checkpoint queries (candidate-
    resolved ways, sharing-pair flags) before it returns, and leaves two
    locally checkpointed RDDs behind. As in graph.py, a lost local-
    checkpoint block cannot be recomputed: if an executor holding one is
    lost, the action on the returned DataFrame fails instead of
    recomputing the lineage."""
    # Trim giant payloads at the source: a way with >=2000 nodes is
    # ERROR_TOO_MANY_NODES by count alone (conflate.py:365-368), so its
    # coord array never rides through any shuffle.
    src_ways = src_ways.withColumn("n_src", F.size("node_ids")).withColumn(
        "coords", F.when(F.col("n_src") < 2000, F.col("coords"))
    )

    # ---- stage A: J1 membership ------------------------------------------
    grp = src_rels.groupBy("way_id").agg(
        F.count("*").alias("n_rels"),
        F.array_sort(F.collect_list(F.col("level9_id").cast("long"))).alias("ref_keys"),
    )
    ways = src_ways.join(grp, "way_id", "left").withColumn(
        "n_rels", F.coalesce("n_rels", F.lit(0))
    )

    # ---- stage B: candidate index from OSM relation tags ------------------
    # Mirrors BOTH Overpass filter legs (conflate.py:69,87):
    # boundary=administrative AND admin_level=9 AND the ref id_key.
    lvl9 = osm_rels.filter(
        (F.col("tags")["boundary"] == "administrative")
        & (F.col("tags")["admin_level"] == "9")
        & F.col("tags")["ref"].isNotNull()
    ).select(F.col("tags")["ref"].cast("long").alias("ref"), "member_way_id")
    # n_refs counts DISTINCT refs (reference counts distinct response
    # relations); duplicate same-ref memberships must not break the
    # exclusivity test.
    way_refs = lvl9.groupBy("member_way_id").agg(
        F.collect_set("ref").alias("refs"), F.size(F.collect_set("ref")).alias("n_refs")
    )

    one_rel = ways.filter(F.col("n_rels") == 1).select(
        "way_id", F.col("ref_keys")[0].alias("r1")
    )
    exclusive = way_refs.filter(F.col("n_refs") == 1).select(
        F.col("refs")[0].alias("ref"), "member_way_id"
    )
    cand_single = one_rel.join(
        exclusive, one_rel.r1 == exclusive.ref, "inner"
    ).select("way_id", F.col("member_way_id").alias("osm_way_id"))

    two_rel = ways.filter(F.col("n_rels") == 2).select(
        "way_id", F.col("ref_keys")[0].alias("r1"), F.col("ref_keys")[1].alias("r2")
    )
    l1 = lvl9.alias("m1")
    l2 = lvl9.alias("m2")
    cand_shared = (
        two_rel.join(l1, F.col("m1.ref") == two_rel.r1)
        .join(
            l2,
            (F.col("m2.ref") == two_rel.r2)
            & (F.col("m2.member_way_id") == F.col("m1.member_way_id")),
        )
        .select("way_id", F.col("m1.member_way_id").alias("osm_way_id"))
    )
    # distinct candidate ways per source way: two relations carrying the
    # same ref (or duplicate memberships) must not double-count a
    # candidate into a spurious ERROR_MULTIPLE_* verdict — the reference
    # counts distinct response.ways.
    cands = cand_single.unionByName(cand_shared).dropDuplicates(["way_id", "osm_way_id"])
    cand_agg = cands.groupBy("way_id").agg(
        F.count("*").alias("n_cands"),
        F.array_sort(F.collect_list("osm_way_id")).alias("cand_ids"),
    )

    # ---- stage C: predicate flags per candidate ---------------------------
    # Giant coord arrays never ride through shuffles: a source way with
    # >=2000 nodes is ERROR_TOO_MANY_NODES by count alone
    # (conflate.py:365-368), so its coords — and its candidate's — are
    # trimmed to NULL before the join. The remaining arrays are small;
    # the join side is still hinted merge (spills gracefully, and
    # Spark's row-count-based size estimate undercounts array payloads).
    # node-id payloads of >=2000-node OSM ways are trimmed at the source
    # like coords: such a way can only match a >=2000-node src (which is
    # ERROR_TOO_MANY_NODES by count alone) — the reference asserts
    # found_osm_way < 2000 outright (conflate.py:214) — so the 2000-long
    # arrays never ride this join.
    ow = osm_ways.select(
        "osm_way_id",
        F.when(F.size("coords") < 2000, F.col("coords")).alias("osm_coords"),
        F.when(F.size("node_ids") < 2000, F.col("node_ids")).alias("osm_node_ids"),
        F.col("tags").alias("osm_tags"),
    ).hint("merge")
    # Leaf 1: every way with its candidate resolved and its OSM payload
    # joined (NULL unless matched), checkpointed once. Every downstream
    # branch (node explode, relation scan, tag probe, final select, the
    # unmatched rows) scans these materialized rows instead of planning
    # the membership + candidate-index DAG again. n_rels and n_cands are
    # never NULL, and n_rels = 0 implies n_cands = 0, so ~is_matched is
    # exactly (n_cands != 1) | (n_rels > 2).
    is_matched = (F.col("n_cands") == 1) & F.col("n_rels").isin(1, 2)
    ways = (
        ways.join(cand_agg, "way_id", "left")
        .withColumn("n_cands", F.coalesce("n_cands", F.lit(0)))
        .select(
            "way_id",
            "n_rels",
            "n_cands",
            "cand_ids",
            "n_src",
            "coords",
            is_matched.alias("is_matched"),
            F.when(is_matched, F.col("cand_ids")[0]).alias("osm_way_id"),
        )
        .join(ow, "osm_way_id", "left")
        # node-level checks are moot for too_many rows: don't explode their ids
        .withColumn("osm_node_ids", F.when(F.col("n_src") < 2000, F.col("osm_node_ids")))
        .localCheckpoint(eager=True)
    )
    matched = ways.filter(F.col("is_matched"))

    tags = F.col("osm_tags")
    national_tag = tags["admin_level"].isNotNull() & (tags["admin_level"].cast("int") <= 2)
    unexpected = F.array_sort(
        F.filter(
            F.map_keys(tags),
            lambda k: (~k.isin(*[F.lit(t) for t in ALLOWED_TAGS])) & (~k.startswith("name")),
        )
    )
    matched = matched.withColumn("national_tag", F.coalesce(national_tag, F.lit(False)))
    matched = matched.withColumn(
        "unexpected_tag", F.when(F.size(unexpected) > 0, unexpected[0])
    )

    # node→way reverse index (S8): other ways sharing any node.
    # Tag predicates are evaluated BEFORE the explode so only a few
    # skinny flags ride the node-level rows (the index is O(total
    # nodes)). Endpoint positions + way/node taggedness feed the
    # unglue eligibility rules (conflate.py:150-175).
    cand_nodes = (
        matched.select(
            "way_id",
            "osm_way_id",
            (F.size("osm_tags") > 0).alias("cand_tagged"),
            F.size("osm_node_ids").alias("c_n"),
            F.posexplode("osm_node_ids").alias("c_pos", "node_id"),
        )
        .withColumn("cand_end", (F.col("c_pos") == 0) | (F.col("c_pos") == F.col("c_n") - 1))
        .drop("c_pos", "c_n")
    )
    # unglue skips ANY tagged node (conflate.py:173-175 — even a lone
    # created_by, unlike the P7 node-tag verdict below)
    any_node_tags = osm_node_tags.select("node_id", F.lit(True).alias("node_has_tags"))
    # Prune the reverse index in TWO phases so the expensive wide explode
    # only ever runs over ways that can matter (guide §2.3/§3.2):
    #   1. a NARROW (way_id, node_id) explode semi-joined against the
    #      broadcast candidate-node set yields the ids of OSM ways that
    #      share at least one candidate node (the full index here is 16M
    #      node rows — mostly 2000-node ways — vs ~0.7M candidate
    #      nodes; the 7-column flagged explode of all of it cost ~3 s
    #      per action at sf0.1);
    #   2. only those surviving ways are re-exploded WITH the tag flags
    #      and endpoint positions the sharing rules need.
    # The pruned index has one reader (`shared`), so it is not cached;
    # the pair_flags checkpoint below materializes what it feeds. At a
    # scale where the candidate set outgrows broadcast, swap the
    # semi-join for a bloom-filter prune (same shape, approximate
    # membership + the exact inner join below unchanged).
    cand_node_ids = cand_nodes.select("node_id").distinct()
    touching_ways = (
        osm_ways.select(F.col("osm_way_id"), F.explode("node_ids").alias("node_id"))
        .join(F.broadcast(cand_node_ids), "node_id", "leftsemi")
        .select("osm_way_id")
        .distinct()
    )
    wt = F.col("tags")
    w_nat = F.coalesce(wt["admin_level"].cast("int") <= 2, F.lit(False))
    w_other = wt["boundary"].isNull() | (wt["boundary"] != "administrative")
    node_way = (
        osm_ways.join(F.broadcast(touching_ways), "osm_way_id", "leftsemi")
        .select(
            F.col("osm_way_id").alias("nw_way"),
            w_nat.alias("nw_nat"),
            w_other.alias("nw_other"),
            (F.size("tags") > 0).alias("nw_tagged"),
            F.size("node_ids").alias("nw_n"),
            F.posexplode("node_ids").alias("nw_pos", "node_id"),
        )
        .withColumn("nw_end", (F.col("nw_pos") == 0) | (F.col("nw_pos") == F.col("nw_n") - 1))
        .drop("nw_pos", "nw_n")
    )
    shared = (
        cand_nodes.join(node_way, "node_id")
        .filter(F.col("nw_way") != F.col("osm_way_id"))
        .join(F.broadcast(any_node_tags), "node_id", "left")
        .withColumn("node_has_tags", F.coalesce("node_has_tags", F.lit(False)))
    )
    d1 = F.col("cand_tagged") & F.col("nw_tagged") & ~F.col("cand_end") & ~F.col("node_has_tags")
    d2 = F.col("cand_tagged") & F.col("nw_tagged") & ~F.col("nw_end") & ~F.col("node_has_tags")
    # Leaf 2, checkpointed: TWO branches consume the sharing pairs
    # (share_flags below and the relation scan's `sharing` leg), and each
    # would otherwise re-run the cand_nodes⋈node_way join + aggregation.
    # One skinny row per sharing way pair.
    pair_flags = shared.groupBy("way_id", "nw_way").agg(
        F.first("nw_nat").alias("nw_nat"),
        F.first("nw_other").alias("nw_other"),
        F.max(d1.cast("int")).alias("ok1"),
        F.max(d2.cast("int")).alias("ok2"),
        F.sum(d1.cast("long")).alias("n1"),
        F.sum(d2.cast("long")).alias("n2"),
    ).localCheckpoint(eager=True)
    # unglue direction order (conflate.py:221-230): try the candidate
    # boundary first; only if that fails, unglue the other way
    unglued = (
        F.lit(unglue_ways_as_needed)
        & F.col("nw_other")
        & ~F.col("nw_nat")
        & ((F.col("ok1") == 1) | (F.col("ok2") == 1))
    )
    n_pair = F.when(F.col("ok1") == 1, F.col("n1")).otherwise(F.col("n2"))
    share_flags = pair_flags.groupBy("way_id").agg(
        F.min(F.when(F.col("nw_nat"), F.col("nw_way"))).alias("share_national_way"),
        F.min(F.when(~F.col("nw_nat") & F.col("nw_other") & ~unglued, F.col("nw_way"))).alias(
            "share_other_way"
        ),
        F.sum(F.when(unglued, n_pair).otherwise(F.lit(0))).alias("n_unglued"),
    )
    sharing = pair_flags.select("way_id", "nw_way", "nw_nat", "nw_other")

    # relation scan: relations containing the candidate or a sharing way
    scan_ways = matched.select("way_id", F.col("osm_way_id").alias("scan_way")).unionByName(
        sharing.select("way_id", F.col("nw_way").alias("scan_way"))
    )
    rels_of = scan_ways.join(
        osm_rels.withColumnRenamed("member_way_id", "scan_way"), "scan_way"
    )
    rt = F.col("tags")
    is_city = F.coalesce(rt["place"] == "city", F.lit(False))
    rel_other = (
        (rt["admin_level"].isNull() & ~is_city)
        | rt["type"].isNull()
        | ((rt["type"] != "boundary") & ~is_city)
        | (rt["boundary"].isNull() & ~is_city)
        | (rt["boundary"].isNotNull() & ~rt["boundary"].isin("administrative", "census"))
    )
    rel_national = rt["admin_level"].isNotNull() & (rt["admin_level"].cast("int") <= 2)
    rel_flags = rels_of.groupBy("way_id").agg(
        F.min(F.when(rel_other & ~rel_national, F.col("rel_id"))).alias("rel_other_id"),
        F.min(F.when(rel_national, F.col("rel_id"))).alias("rel_national_id"),
    )

    # P7: candidate nodes carrying tags (except lone created_by)
    tagged_nodes = cand_nodes.join(osm_node_tags, "node_id").filter(
        ~((F.size("tags") == 1) & F.col("tags")["created_by"].isNotNull())
    )
    node_tag_flags = tagged_nodes.groupBy("way_id").agg(
        F.array_join(F.array_sort(F.collect_set("node_id")), ",").alias("tagged_node_ids")
    )

    # ONE flag join instead of three: each flag table holds at most one
    # row per way (groupBy way_id), so chaining them with full-outer
    # joins first is equivalent to three independent left joins — but
    # the array-payload matched table is exchanged+sorted ONCE, not
    # three times (the before-plan had three SortMergeJoin LeftOuter
    # over matched; guide §2.4 "two operations keyed the same way can
    # share one exchange").
    flags = (
        share_flags.join(rel_flags, "way_id", "full")
        .join(node_tag_flags, "way_id", "full")
    )
    matched = matched.join(flags, "way_id", "left")

    # ---- stage D: geometry battery ----------------------------------------
    matched = matched.withColumn(
        "g", geom_battery_udf(F.col("coords"), F.col("osm_coords"), F.col("n_src"))
    )

    # ---- stage E: verdict chain (reference evaluation order) ---------------
    g = F.col("g")
    verdict = (
        F.when(g["too_many"], "ERROR_TOO_MANY_NODES")
        .when(g["invalid"], "ERROR_INVALID_SHAPE")
        .when(g["closed"], "ERROR_CLOSED_SHAPE")
        .when(g["same"], "CONFLATED")
        .when(F.col("national_tag"), "ERROR_NATIONAL_BORDER")
        .when(F.col("unexpected_tag").isNotNull(), "ERROR_UNEXPECTED_TAG")
        .when(F.col("share_national_way").isNotNull(), "ERROR_NODE_IN_NATIONAL_BORDER")
        .when(F.col("share_other_way").isNotNull(), "ERROR_NODE_IN_OTHER_WAYS")
        .when(F.col("rel_other_id").isNotNull(), "ERROR_NODE_IN_OTHER_RELATION")
        .when(F.col("rel_national_id").isNotNull(), "ERROR_NODE_IN_NATIONAL_RELATION")
        .when(F.col("tagged_node_ids").isNotNull(), "ERROR_NODES_WITH_TAGS")
        .when(g["endpoint_dist_m"] > max_endpoint_m, "ERROR_END_POINTS_FAR_APART")
        .otherwise("CHECKED_POSSIBLE")
    )
    context = (
        F.when(F.col("unexpected_tag").isNotNull() & (verdict == "ERROR_UNEXPECTED_TAG"), F.col("unexpected_tag"))
        .when(verdict == "ERROR_NODE_IN_NATIONAL_BORDER", F.col("share_national_way").cast("string"))
        .when(verdict == "ERROR_NODE_IN_OTHER_WAYS", F.col("share_other_way").cast("string"))
        .when(verdict == "ERROR_NODE_IN_OTHER_RELATION", F.col("rel_other_id").cast("string"))
        .when(verdict == "ERROR_NODE_IN_NATIONAL_RELATION", F.col("rel_national_id").cast("string"))
        .when(verdict == "ERROR_NODES_WITH_TAGS", F.col("tagged_node_ids"))
        .when(
            verdict == "ERROR_END_POINTS_FAR_APART",
            F.floor(g["endpoint_dist_m"]).cast("long").cast("string"),
        )
    )
    # unglue edits only happen if evaluation actually REACHES the
    # shared-ways scan (reference short-circuits on earlier errors)
    reached_share_scan = (
        ~g["too_many"]
        & ~g["invalid"]
        & ~g["closed"]
        & ~g["same"]
        & ~F.col("national_tag")
        & F.col("unexpected_tag").isNull()
        & F.col("share_national_way").isNull()
    )
    scored = matched.select(
        "way_id",
        "n_rels",
        verdict.alias("verdict"),
        "osm_way_id",
        context.alias("error_context"),
        F.when(g["endpoint_dist_m"] < float("inf"), F.round(g["endpoint_dist_m"], 3)).alias(
            "endpoint_dist_m"
        ),
        F.round(g["hausdorff_m"], 3).alias("hausdorff_m"),
        F.when(reached_share_scan, F.coalesce("n_unglued", F.lit(0)))
        .otherwise(F.lit(0))
        .alias("n_unglued"),
        g["should_reverse"].alias("should_reverse"),
    )

    # unmatched branches (0 or >1 candidates, >=3 relations)
    unmatched = ways.filter(~F.col("is_matched"))
    u_verdict = (
        F.when(F.col("n_rels") >= 3, "ERROR_OVERLAPPING_WAYS")
        .when((F.col("n_rels") == 2) & (F.col("n_cands") == 0), "ERROR_SHARED_WAY_NOT_FOUND")
        .when((F.col("n_rels") == 2) & (F.col("n_cands") > 1), "ERROR_MULTIPLE_SHARED_WAYS")
        .when((F.col("n_rels") == 1) & (F.col("n_cands") == 0), "ERROR_WAY_NOT_FOUND")
        .otherwise("ERROR_MULTIPLE_SINGLE_WAY")
    )
    u_context = F.when(
        F.col("n_cands") > 1,
        F.array_join(F.transform(F.col("cand_ids"), lambda x: x.cast("string")), ","),
    )
    unmatched_out = unmatched.select(
        "way_id",
        "n_rels",
        u_verdict.alias("verdict"),
        F.lit(None).cast("long").alias("osm_way_id"),
        u_context.alias("error_context"),
        F.lit(None).cast("double").alias("endpoint_dist_m"),
        F.lit(None).cast("double").alias("hausdorff_m"),
        F.lit(0).cast("long").alias("n_unglued"),
        F.lit(None).cast("boolean").alias("should_reverse"),
    )
    return scored.unionByName(unmatched_out)
