"""Geo-tagging spatial join: pages × admin boundaries (J11 / north rule).

Pipeline (SURVEY.md §3.1 recast, stages map 1:1 to the reference's
measure_quality flow):

  pages(html) ─ extract_page (one Arrow UDF, one Python pass per page:
                              extract_text (G20) → extract_geo)
             ─ cell encode   (built-in expr, G21 — JVM-side, codegen)
  boundaries ─ cover cells   (Arrow UDF over WKT, one call per boundary)
             ─ explode(cells)
  join on cell (broadcast when boundary side small — the analogue of the
  reference's local Overpass index; salted shuffle otherwise)
  ─ point-in-polygon confirm (Arrow UDF, vectorized per distinct WKT)
  ─ cardinality verdict (O12/J6: 0 → NO_MATCH, 1 → MATCHED, >1 → MULTIPLE)

Scale notes (100 TB):
- The pages side is never shuffled in the broadcast path: scan →
  project → UDF → join is one stage, no wide dependency.
- In the shuffle path both sides are repartitioned on a SALTED cell key:
  ``salt = pmod(xxhash64(url), n_salt)`` on pages, boundary rows
  replicated n_salt ways via explode(sequence()). Dense city-center
  cells (30% of this corpus sits in one ~1 km cell) would otherwise pin
  a single reducer; salting spreads each hot cell over n_salt reducers.
  AQE skew-join remains enabled as backstop (session.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.udfs import (
    cell_expr,
    cover_wkt_full_udf,
    extract_page_udf,
    point_in_wkt_udf,
)

VERDICT_MATCHED = "MATCHED"
VERDICT_NO_MATCH = "NO_MATCH"
VERDICT_MULTIPLE = "MULTIPLE_MATCH"


def extract_pages_geo(pages: DataFrame, res: int, observe: bool = False) -> DataFrame:
    """pages(url, html, ...) → + text, lat, lon, cell_id.

    With observe=True, attaches named observed metrics (A9 — the Spark
    analogue of the reference's running diagnostic counters,
    translation.py:247): rows scanned + rows with extractable geo,
    retrievable via df.observation / QueryExecutionListener."""
    d = pages.withColumn("_page", extract_page_udf("html"))
    d = d.withColumns({c: F.col(f"_page.{c}") for c in ("text", "lat", "lon")}).drop("_page")
    d = d.withColumn("cell_id", cell_expr(F.col("lon"), F.col("lat"), res))
    if observe:
        d = d.observe(
            "extract_metrics",
            F.count(F.lit(1)).alias("rows_in"),
            F.count("lat").alias("rows_with_geo"),
        )
    return d


def geotag_pages(
    pages: DataFrame,
    boundaries: DataFrame,
    res: int = 6,
    broadcast_boundaries: bool = True,
    n_salt: int = 0,
) -> DataFrame:
    """Full geo-tag join → (url, lat, lon, cell_id, level9_id, verdict).

    Exactly-one-match semantics mirror conflate.py:516-556: zero
    candidates → NO_MATCH, one → MATCHED, several → MULTIPLE_MATCH with
    error_context = comma-joined sorted boundary ids
    (conflate.py:528 formatting).
    """
    pg = extract_pages_geo(pages, res).select("url", "lat", "lon", "cell_id")
    return geotag_points(pg, boundaries, res, broadcast_boundaries, n_salt)


AUTO_BROADCAST_MAX_BOUNDARIES = 100_000


def pick_geotag_strategy(boundaries: DataFrame) -> tuple[bool, int]:
    """Choose (broadcast_boundaries, n_salt) from the DIM side's size —
    the decision a planner makes per run at 100 TB: a boundary table
    that fits an executor broadcasts (pages never shuffle); past the
    threshold the join must shuffle, and then salting is mandatory
    because city-center cells are always Zipfian (BENCH/notes.md
    measures the 2x). One bounded count() on the dim side only — never
    on the fact side."""
    n = boundaries.count()
    if n <= AUTO_BROADCAST_MAX_BOUNDARIES:
        return True, 0
    return False, 32


def geotag_points(
    pg: DataFrame,
    boundaries: DataFrame,
    res: int = 6,
    broadcast_boundaries: bool = True,
    n_salt: int = 0,
) -> DataFrame:
    """The join+confirm+verdict tail of geotag_pages over already-
    extracted points pg(url, lat, lon, cell_id) — exposed so skew
    benchmarks and pre-extracted corpora can drive the join directly
    without paying the html-extract stage.

    Precondition: ``url`` is unique in ``pg``. The verdict aggregate
    groups on url alone and carries lat/lon/cell_id as min(), so two
    distinct points sharing a url are NOT kept apart: they merge into
    one row whose coordinates are the per-column minima of both (a
    point neither input had) and whose matches are the union of both
    points' boundaries. Nothing checks this; deduplicate or re-key the
    input before calling."""
    # persist the covering BEFORE the explode: the covering UDF (the only
    # non-trivial boundary-side work) runs once, and the resolution-level
    # distinct below scans one row per BOUNDARY, not per covering cell
    # (<=512x smaller than the round-1 post-explode distinct).
    # The covering carries a fully-interior flag per cell (S2 interior
    # covering): a point landing in a full cell is inside the polygon by
    # construction, so the point-in-polygon confirm — and, crucially,
    # the per-row WKT string crossing the Arrow boundary (guide §4.1
    # "pass only the columns the function needs") — is skipped for the
    # bulk of interior hits.
    bcov = boundaries.select(
        "level9_id", "wkt", cover_wkt_full_udf("wkt").alias("_cells")
    ).persist()
    bc = bcov.select(
        "level9_id", "wkt", F.explode("_cells").alias("_cc")
    ).select(
        "level9_id", "wkt", F.col("_cc.cell").alias("_jcell"), F.col("_cc.full").alias("_full")
    )

    # adaptive covering may emit several resolutions (one per boundary —
    # all of a boundary's cells share one level); the pages side joins at
    # every level PRESENT, so the page-side explode factor is the
    # handful of levels the data actually uses, not all base_res+1. The
    # collect is a bounded driver action (<= base_res+1 values) over the
    # per-boundary distinct.
    res_levels = sorted(
        int(r[0][1:])
        for r in bcov.select(
            F.split(F.element_at("_cells", 1)["cell"], ":")[0]
        ).distinct().collect()
    )
    jcells = F.array(*[cell_expr(F.col("lon"), F.col("lat"), rl) for rl in res_levels])
    pg = pg.withColumn("_jcell", F.explode(jcells))

    if broadcast_boundaries:
        joined = pg.join(F.broadcast(bc), "_jcell", "left")
    elif n_salt and n_salt > 1:
        pg_s = pg.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(n_salt)))
        bc_s = bc.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))).withColumn(
            "_salt", F.col("_salt").cast("long")
        )
        joined = pg_s.join(bc_s, ["_jcell", "_salt"], "left").drop("_salt")
    else:
        joined = pg.join(bc, "_jcell", "left")

    # full cells: inside by construction — no PiP call, and the WKT is
    # masked to NULL in the UDF argument so the string never crosses the
    # Arrow boundary for those rows (the CASE discards the UDF's output
    # for them; a Python UDF under a CASE still evaluates for every row,
    # so shrinking its INPUT is what actually saves the transfer).
    masked_wkt = F.when(F.col("_full"), F.lit(None).cast("string")).otherwise(F.col("wkt"))
    confirmed = joined.withColumn(
        "inside",
        F.when(F.col("wkt").isNull(), F.lit(False))
        .when(F.col("_full"), F.lit(True))
        .otherwise(point_in_wkt_udf(F.col("lon"), F.col("lat"), masked_wkt)),
    )
    # keep the page row even when no candidate confirmed (left semantics).
    # Group on the page key ALONE: url uniquely identifies a page (the
    # input contract everywhere this operator is used), so lat/lon/
    # cell_id are constant within a group and ride as min() aggregates
    # instead of widening the exchange key — and Catalyst can prune them
    # entirely for consumers that only need verdict counts (guide §2.3
    # "project before the exchange"; measured -0.4 s on the skewed
    # world at sf0.1).
    per_page = confirmed.groupBy("url").agg(
        F.min("lat").alias("lat"),
        F.min("lon").alias("lon"),
        F.min("cell_id").alias("cell_id"),
        F.sort_array(F.collect_list(F.when(F.col("inside"), F.col("level9_id")))).alias("matches"),
    )
    return per_page.select(
        "url",
        "lat",
        "lon",
        "cell_id",
        F.when(F.size("matches") == 1, F.col("matches")[0]).alias("level9_id"),
        F.when(F.size("matches") == 0, F.lit(VERDICT_NO_MATCH))
        .when(F.size("matches") == 1, F.lit(VERDICT_MATCHED))
        .otherwise(F.lit(VERDICT_MULTIPLE))
        .alias("verdict"),
        F.when(F.size("matches") > 1, F.array_join("matches", ",")).alias("error_context"),
    )


def rect_overlap_join(a: DataFrame, b: DataFrame, width: int = 8) -> DataFrame:
    """Rectangle-overlap equi-join (2-D analogue of interval_join).

    a: (aid, ax0, ay0, ax1, ay1), b: (bid, bx0, ...) — half-open integer
    boxes. Each box replicates to the grid cells it covers (JVM
    sequence x sequence); candidates meet on the (cx, cy) cell key.
    Duplicate suppression WITHOUT a dropDuplicates shuffle: a matched
    pair is emitted only in the cell containing the lower corner of the
    intersection (max of the mins) — every overlapping pair covers that
    reference cell on both sides exactly once, so output is exact with
    zero post-join dedup. Replication is O(area/width^2) per box; pick
    width near the typical box edge.
    """
    def cover(df, x0, y0, x1, y1):
        return df.withColumn(
            "_cx",
            F.explode(F.sequence(F.floor(F.col(x0) / width), F.floor((F.col(x1) - 1) / width))),
        ).withColumn(
            "_cy",
            F.explode(F.sequence(F.floor(F.col(y0) / width), F.floor((F.col(y1) - 1) / width))),
        )

    ca = cover(a, "ax0", "ay0", "ax1", "ay1")
    cb = cover(b, "bx0", "by0", "bx1", "by1")
    overlap = (
        (F.col("ax0") < F.col("bx1"))
        & (F.col("bx0") < F.col("ax1"))
        & (F.col("ay0") < F.col("by1"))
        & (F.col("by0") < F.col("ay1"))
    )
    ref_cell = (
        (F.col("_cx") == F.floor(F.greatest("ax0", "bx0") / width))
        & (F.col("_cy") == F.floor(F.greatest("ay0", "by0") / width))
    )
    return ca.join(cb, ["_cx", "_cy"]).filter(overlap & ref_cell).drop("_cx", "_cy")
