"""Deterministic OSM conflation world, derived from orders.parquet.

One cadastre ("source") way per order key; ``case = way_id % 20``
selects the perturbation scenario, mirroring FIXTURES.md F3's synthesis
rule, so every reachable ProcessingState verdict
(/root/reference/processing_state.py:4-27) occurs and the expected
verdict is a closed form the DuckDB oracle can state as a CASE
expression. The ENGINE never sees ``case`` — it recomputes verdicts
from geometry, tags and membership alone (operators/conflation.py).

Scenario map (way_id % 20):
   0 identical OSM way                      → CONFLATED
   1 shifted ~0.44 m (< 1 m tolerance)      → CONFLATED
   2 shifted ~78 m (close, parallel)        → CHECKED_POSSIBLE (dry-run)
   3 shifted 0.01° lat (~1112 m endpoints)  → ERROR_END_POINTS_FAR_APART
   4 no OSM candidate                       → ERROR_WAY_NOT_FOUND
   5 two OSM candidates                     → ERROR_MULTIPLE_SINGLE_WAY
   6 candidate tagged admin_level=2         → ERROR_NATIONAL_BORDER
   7 candidate tagged highway=residential   → ERROR_UNEXPECTED_TAG
   8 candidate mid-node tagged barrier=gate → ERROR_NODES_WITH_TAGS
   9 source way with 2000 nodes             → ERROR_TOO_MANY_NODES
  10 closed square ring both sides          → ERROR_CLOSED_SHAPE
  11 way in 3 relations                     → ERROR_OVERLAPPING_WAYS
  12 2 relations, shared way identical      → CONFLATED
  13 2 relations, no shared OSM way         → ERROR_SHARED_WAY_NOT_FOUND
  14 2 relations, two shared OSM ways       → ERROR_MULTIPLE_SHARED_WAYS
  15 node shared w/ non-boundary way         → ERROR_NODE_IN_OTHER_WAYS
     (unglue=True sub-variants way_id/20 %3: v0 untagged sharer stays
      ERROR; v1 tagged sharer/mid node → unglue candidate; v2 tagged
      sharer holding the candidate ENDPOINT interior → unglue the
      other way; v1/v2 become CHECKED_POSSIBLE with 1 node duplicated)
  16 mid-node shared w/ admin_level=2 way   → ERROR_NODE_IN_NATIONAL_BORDER
  17 candidate also in relation w/o admin_level → ERROR_NODE_IN_OTHER_RELATION
  18 candidate also in admin_level=2 relation   → ERROR_NODE_IN_NATIONAL_RELATION
  19 degenerate OSM way (two equal points)  → ERROR_INVALID_SHAPE

Id spaces: source node = way*10000+i; OSM candidate = 10_000_000+way
(second candidate 10_500_000+way), its nodes 5e9+way*10000+i; sharing
way = 11_000_000+way; extra relation = 30_000_000+way; source
relations' level9 refs r1/r2/r3 = way*4+1/2/3.

``build_osm_world`` returns the world lazily: nothing is built until a
table is looked up, so a resumed stage that only names a table builds
nothing. In memory, every table is a narrow projection of one leaf, the
base ways checkpointed once; no table is cached in memory.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

OSM_WAY_BASE = 10_000_000
OSM_WAY_BASE2 = 10_500_000
SHARE_WAY_BASE = 11_000_000
EXTRA_REL_BASE = 30_000_000
OSM_NODE_BASE = 5_000_000_000


def _base_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = o.select(F.col("o_orderkey").alias("way_id")).distinct()
    w = w.withColumn("case", (F.col("way_id") % 20).cast("int"))
    # base point 0 in 1e-4-degree integers (exact closed form)
    w = w.withColumn("lat0_e4", F.lit(-400000) + F.col("way_id") % 800000)
    w = w.withColumn("lon0_e4", F.lit(-1700000) + (F.col("way_id") * 13) % 3400000)
    w = w.withColumn("n_pts", F.when(F.col("case") == 9, 2000).otherwise(5))
    return w


def _polyline(lat0_e4, lon0_e4, n_pts, closed=None, dlat=None, dlon=None):
    """coords array<array<double>>: [lon, lat] per point. Open polyline:
    point i at (lon0+7i, lat0+10i)·1e-4; closed variant: unit square."""
    dlat = dlat if dlat is not None else F.lit(0.0)
    dlon = dlon if dlon is not None else F.lit(0.0)
    i = F.sequence(F.lit(0), (n_pts - 1).cast("int"))
    open_coords = F.transform(
        i,
        lambda k: F.array(
            (lon0_e4 + k * 7) / 1e4 + dlon,
            (lat0_e4 + k * 10) / 1e4 + dlat,
        ),
    )
    if closed is None:
        return open_coords
    sq = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    closed_coords = F.array(
        *[F.array((lon0_e4 + a) / 1e4 + dlon, (lat0_e4 + b) / 1e4 + dlat) for a, b in sq]
    )
    return F.when(closed, closed_coords).otherwise(open_coords)


def _node_ids(base, n_pts, closed=None):
    ids_open = F.transform(F.sequence(F.lit(0), (n_pts - 1).cast("int")), lambda k: base + k)
    if closed is None:
        return ids_open
    ids_closed = F.array(base, base + 1, base + 2, base + 3, base)
    return F.when(closed, ids_closed).otherwise(ids_open)


_WORLD_TABLES = ("src_ways", "src_rels", "osm_ways", "osm_node_tags", "osm_rels")


class _LazyWorld(Mapping):
    """Read-only mapping over the five world tables. The first lookup of
    any name runs ``load`` and builds all five; naming the tables
    (``keys()``, ``in``, ``len``) builds nothing."""

    def __init__(self, load: Callable[[], dict[str, DataFrame]]):
        self._load = load
        self._tables: dict[str, DataFrame] | None = None

    def __getitem__(self, name: str) -> DataFrame:
        if self._tables is None:
            self._tables = self._load()
        return self._tables[name]

    def __contains__(self, name: object) -> bool:
        return name in _WORLD_TABLES

    def __iter__(self) -> Iterator[str]:
        return iter(_WORLD_TABLES)

    def __len__(self) -> int:
        return len(_WORLD_TABLES)


_WORLD_CACHE: dict[tuple[int, str], _LazyWorld] = {}


def _trim_coords(world: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Null the coords of >=2000-point ways: their verdict is decided by
    node count alone (conflate.py:365-368), so no gigabyte arrays enter
    checkpoint storage, parquet or downstream broadcast-size estimates."""
    return {
        **world,
        "src_ways": world["src_ways"].withColumn("coords", F.when(F.size("node_ids") < 2000, F.col("coords"))),
        "osm_ways": world["osm_ways"].withColumn("coords", F.when(F.size("coords") < 2000, F.col("coords"))),
    }


def materialize_osm_world(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Write the synthetic world to parquet once (bench setup, NOT
    measured): conflate-family bench timings then measure ENGINE
    operators, not synthetic-array generation (VERDICT r01 bench
    attribution). Coord payloads of >=2000-node ways are trimmed exactly
    as the in-memory path does."""
    world = _trim_coords(_build_osm_world(spark, sf_dir))
    for name in _WORLD_TABLES:
        # small row groups: the way tables carry 2000-element coord/node
        # arrays, so a default 128MB row group decompresses to several
        # hundred MB per scan task — 32 concurrent local tasks OOM'd an
        # 8g heap at sf1.0 (guide §5/§6: bound per-task read state)
        world[name].write.mode("overwrite").option(
            "parquet.block.size", 16 * 1024 * 1024
        ).parquet(os.path.join(out_dir, name))


def build_osm_world(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """The five world tables, memoized per (session, sf_dir) so the
    conflate-family queries share one world.

    Nothing is built until a table is looked up: a staged job that only
    names tables inside the build lambdas of stages it resumes builds no
    world, and starts no Spark job for it. The first lookup builds all
    five. In memory, they are narrow projections of one eagerly
    checkpointed leaf (``_build_osm_world``); the two ways tables are
    trimmed and locally checkpointed on first use, the three small
    tables are not cached. If $SPARK_GRAFT_WORLD_DIR points at a
    materialized world (bench setup), the tables are read from parquet
    instead — identical rows, but scan-backed like a real input — and
    the three small ones are persisted."""
    key = (id(spark), sf_dir)
    if key not in _WORLD_CACHE:
        wdir = os.environ.get("SPARK_GRAFT_WORLD_DIR")
        if wdir and os.path.exists(os.path.join(wdir, "src_ways", "_SUCCESS")):
            _WORLD_CACHE[key] = _LazyWorld(lambda: _read_osm_world(spark, wdir))
        else:
            _WORLD_CACHE[key] = _LazyWorld(lambda: _checkpointed_osm_world(spark, sf_dir))
    return _WORLD_CACHE[key]


def _read_osm_world(spark: SparkSession, wdir: str) -> dict[str, DataFrame]:
    world = {name: spark.read.parquet(os.path.join(wdir, name)) for name in _WORLD_TABLES}
    for name in ("src_rels", "osm_rels", "osm_node_tags"):
        world[name].persist()
    return world


def _checkpointed_osm_world(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # ways tables are referenced by several DAG branches (membership
    # join, candidate index, reverse node index, geometry join):
    # localCheckpoint the trimmed variants once, so the synthetic arrays
    # are not regenerated per branch (measured ~30% off conflate wall
    # time). No shuffle lies below them, so the lazy checkpoint starts
    # no job here.
    world = _trim_coords(_build_osm_world(spark, sf_dir))
    for name in ("src_ways", "osm_ways"):
        world[name] = world[name].localCheckpoint(eager=False)
    return world


def _build_osm_world(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All five tables as narrow projections of one leaf: the base ways,
    locally checkpointed once, so the orders scan and its distinct run
    once. Without the cut, each of the 11 union branches below scans
    orders and runs its own distinct shuffle: the filters push below
    the distinct, so no exchange is reused."""
    w = _base_ways(spark, sf_dir).localCheckpoint(eager=True)
    c = F.col("case")
    closed = c == 10

    # ---- source (cadastre) ways --------------------------------------
    src_ways = w.select(
        "way_id",
        _polyline(F.col("lat0_e4"), F.col("lon0_e4"), F.col("n_pts"), closed).alias("coords"),
        _node_ids(F.col("way_id") * 10000, F.col("n_pts"), closed).alias("node_ids"),
    )

    # ---- source relation membership (J1 input) ------------------------
    n_rels = F.when(c == 11, 3).when(c.isin(12, 13, 14), 2).otherwise(1)
    rels = w.select(
        "way_id",
        F.explode(F.transform(F.sequence(F.lit(1), n_rels.cast("int")), lambda k: F.col("way_id") * 4 + k)).alias(
            "rel_key"
        ),
    )
    src_rels = rels.select(
        "way_id",
        F.col("rel_key").cast("string").alias("level9_id"),
        F.concat(F.lit("N"), F.col("rel_key").cast("string")).alias("rel_name"),
    )

    # ---- OSM candidate ways -------------------------------------------
    # first candidate exists for every case except 4 and 13
    has_cand = ~c.isin(4, 13)
    # tag/node/relation-check cases (6-8, 15-18) get the same small
    # parallel shift as case 2: identical geometry would short-circuit to
    # CONFLATED (conflate.py:378-380) before is_conflate_possible runs.
    shifted = c.isin(2, 6, 7, 8, 15, 16, 17, 18)
    dlat = F.when(c == 1, 4e-6).when(shifted, 5e-4).when(c == 3, 1e-2).otherwise(0.0)
    dlon = F.when(shifted, 5e-4).otherwise(0.0)
    degenerate = c == 19
    # case-2 (CHECKED_POSSIBLE) sub-variants exercise the rewrite/edit
    # plan (J10, conflate.py:407-441): v1 → OSM way one node SHORT
    # (a node must be created), v2 → one node SURPLUS (a delete);
    # direction is unchanged so the verdict stays CHECKED_POSSIBLE.
    variant = F.floor(F.col("way_id") / 20) % 3
    cand_pts = (
        F.when(degenerate, F.lit(2))
        .when((c == 2) & (variant == 1), F.lit(4))
        .when((c == 2) & (variant == 2), F.lit(6))
        .otherwise(F.col("n_pts"))
    )
    cand_coords = F.when(
        degenerate,
        F.array(
            F.array(F.col("lon0_e4") / 1e4, F.col("lat0_e4") / 1e4),
            F.array(F.col("lon0_e4") / 1e4, F.col("lat0_e4") / 1e4),
        ),
    ).otherwise(_polyline(F.col("lat0_e4"), F.col("lon0_e4"), cand_pts, closed, dlat, dlon))

    way_tags = (
        F.when(c == 6, F.expr("map('boundary','administrative','admin_level','2')"))
        .when(c == 7, F.expr("map('boundary','administrative','highway','residential')"))
        .otherwise(F.expr("map('boundary','administrative','admin_level','9')"))
    )
    cand1 = w.filter(has_cand).select(
        (F.col("way_id") + OSM_WAY_BASE).alias("osm_way_id"),
        "way_id",
        cand_coords.alias("coords"),
        _node_ids(F.lit(OSM_NODE_BASE) + F.col("way_id") * 10000, cand_pts, closed).alias("node_ids"),
        way_tags.alias("tags"),
    )
    cand2 = w.filter(c.isin(5, 14)).select(
        (F.col("way_id") + OSM_WAY_BASE2).alias("osm_way_id"),
        "way_id",
        cand_coords.alias("coords"),
        _node_ids(F.lit(OSM_NODE_BASE) + F.col("way_id") * 10000 + 5000, cand_pts).alias("node_ids"),
        way_tags.alias("tags"),
    )
    # sharing ways (cases 15/16): contain a node of the candidate.
    # Case-15 sub-variants (way_id/20 % 3) exercise the unglue matrix
    # (conflate.py:150-186,221-230):
    #   v0 → UNTAGGED sharing way ("boundary in disguise", :147-148):
    #        unglue fails both directions, stays ERROR_NODE_IN_OTHER_WAYS
    #   v1 → tagged (highway=track) way sharing the candidate's MID node:
    #        direction 1 unglues the candidate boundary
    #   v2 → tagged way whose INTERIOR node is the candidate's ENDPOINT:
    #        direction 1 fails (endpoint of the boundary), direction 2
    #        unglues the other way
    share_tags = (
        F.when(c == 16, F.expr("map('boundary','administrative','admin_level','2')"))
        .when((c == 15) & (variant != 0), F.expr("map('highway','track')"))
        .otherwise(F.expr("map()"))
    )
    nb = F.lit(OSM_NODE_BASE) + F.col("way_id") * 10000
    share_nodes = F.when(
        (c == 15) & (variant == 2),
        F.array(nb + 9000, nb + 0, nb + 9001),  # candidate endpoint, interior here
    ).otherwise(F.array(nb + 2, nb + 9000))  # candidate mid node
    share_coords = F.when(
        (c == 15) & (variant == 2),
        F.array(
            F.array((F.col("lon0_e4") + 100) / 1e4, (F.col("lat0_e4") + 100) / 1e4),
            F.array((F.col("lon0_e4") + 5) / 1e4, (F.col("lat0_e4") + 5) / 1e4),
            F.array((F.col("lon0_e4") + 120) / 1e4, (F.col("lat0_e4") + 80) / 1e4),
        ),
    ).otherwise(
        F.array(
            F.array((F.col("lon0_e4") + 14) / 1e4, (F.col("lat0_e4") + 20) / 1e4),
            F.array((F.col("lon0_e4") + 100) / 1e4, (F.col("lat0_e4") + 100) / 1e4),
        )
    )
    share_way = w.filter(c.isin(15, 16)).select(
        (F.col("way_id") + SHARE_WAY_BASE).alias("osm_way_id"),
        F.lit(None).cast("long").alias("way_id"),
        share_coords.alias("coords"),
        share_nodes.alias("node_ids"),
        share_tags.alias("tags"),
    )
    osm_ways = cand1.unionByName(cand2).unionByName(share_way).drop("way_id")

    # ---- OSM node tags (case 8: candidate mid node tagged) -------------
    osm_node_tags = w.filter(c == 8).select(
        (F.lit(OSM_NODE_BASE) + F.col("way_id") * 10000 + 2).alias("node_id"),
        F.expr("map('barrier','gate')").alias("tags"),
    )

    # ---- OSM relations: (rel_id, member_way_id, tags) -------------------
    # level-9 boundary relations carry the cadastre ref in tags['ref'] —
    # the candidate index is derived from TAGS by the engine, mirroring
    # the Overpass filters (conflate.py:68-71: admin_level=9 + id_key).
    def tags9(ref_col):
        return F.map_from_arrays(
            F.array(F.lit("admin_level"), F.lit("type"), F.lit("boundary"), F.lit("ref")),
            F.array(F.lit("9"), F.lit("boundary"), F.lit("administrative"), ref_col.cast("string")),
        )

    r1 = F.col("way_id") * 4 + 1
    r2 = F.col("way_id") * 4 + 2
    own1 = w.filter(has_cand).select(
        (F.lit(20_000_000) + r1).alias("rel_id"),
        (F.col("way_id") + OSM_WAY_BASE).alias("member_way_id"),
        tags9(r1).alias("tags"),
    )
    own1b = w.filter(c.isin(12, 14)).select(
        (F.lit(20_000_000) + r2).alias("rel_id"),
        (F.col("way_id") + OSM_WAY_BASE).alias("member_way_id"),
        tags9(r2).alias("tags"),
    )
    own2 = w.filter(c.isin(5, 14)).select(
        (F.lit(20_000_000) + r1).alias("rel_id"),
        (F.col("way_id") + OSM_WAY_BASE2).alias("member_way_id"),
        tags9(r1).alias("tags"),
    )
    own2b = w.filter(c == 14).select(
        (F.lit(20_000_000) + r2).alias("rel_id"),
        (F.col("way_id") + OSM_WAY_BASE2).alias("member_way_id"),
        tags9(r2).alias("tags"),
    )
    extra_rel_tags = F.when(
        c == 18,
        F.expr("map('admin_level','2','type','boundary','boundary','administrative')"),
    ).otherwise(F.expr("map('type','boundary','boundary','administrative')"))
    extra = w.filter(c.isin(17, 18)).select(
        (F.col("way_id") + EXTRA_REL_BASE).alias("rel_id"),
        (F.col("way_id") + OSM_WAY_BASE).alias("member_way_id"),
        extra_rel_tags.alias("tags"),
    )
    osm_rels = own1.unionByName(own1b).unionByName(own2).unionByName(own2b).unionByName(extra)

    return {
        "src_ways": src_ways,
        "src_rels": src_rels,
        "osm_ways": osm_ways,
        "osm_node_tags": osm_node_tags,
        "osm_rels": osm_rels,
    }


def materialize_strip_world(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Bench setup (NOT measured): write the strip world to parquet so
    segment_tiles times engine operators, not synthetic-array datagen."""
    _build_strip_world(spark, sf_dir).write.mode("overwrite").parquet(out_dir)


def build_strip_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation input (see _build_strip_world). Reads the
    materialized parquet copy when $SPARK_GRAFT_STRIP_DIR is set."""
    sdir = os.environ.get("SPARK_GRAFT_STRIP_DIR")
    if sdir and os.path.exists(os.path.join(sdir, "_SUCCESS")):
        return spark.read.parquet(sdir)
    # inline path (driver gate): materialize the tiny world once —
    # segmentation branches re-read it dozens of times, and without the
    # cut each branch re-executes the whole datagen subtree
    return _build_strip_world(spark, sf_dir).localCheckpoint(eager=True)


def _build_strip_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation input: M adjacent unit rectangles (one per orders
    key, dense-ranked) sharing vertical borders, plus the outer
    perimeter ring as way_id=-1 with admin_level=2 (the national-border
    analogue). Node ids: bottom lattice (x,0) → x; top (x,1) → 1e6+x.

    Expected deduped segments (closed form, see queries.py oracle):
    M-1 vertical borders (parents: both rects, admin 9), 2(M-2)
    bottom/top pieces and 2 L-shaped end pieces (parents: rect+outer,
    admin 2) — total 3M-3.
    """
    from .plans.dense_index import dense_index

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").distinct()
    # distributed dense rank (no single-partition global window)
    r = dense_index(o, "o_orderkey", index_col="k")
    TOP = 1_000_000
    rects = r.select(
        F.col("k").alias("way_id"),
        F.array(
            F.col("k"),
            F.col("k") + 1,
            F.col("k") + 1 + TOP,
            F.col("k") + TOP,
            F.col("k"),
        ).alias("node_ids"),
        F.lit("9").alias("admin_level"),
    )
    outer = r.agg(F.max("k").alias("kmax")).select(
        F.lit(-1).cast("long").alias("way_id"),
        F.concat(
            F.sequence(F.lit(0), F.col("kmax") + 1),
            F.sequence(F.col("kmax") + 1 + TOP, F.lit(TOP), F.lit(-1)),
            F.array(F.lit(0)),
        ).cast("array<long>").alias("node_ids"),
        F.lit("2").alias("admin_level"),
    )
    return rects.unionByName(outer)
