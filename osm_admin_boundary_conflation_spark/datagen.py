"""Deterministic synthetic geo corpus, derived from the driver's testdata.

The engine's primary input (BASELINE.json input_hint) is a table of
Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``. No such
table ships in /root/testdata, so we synthesize one *deterministically
from the testdata tables themselves* using pure integer arithmetic —
the same closed forms are emitted as SQL (``PAGES_SQL`` etc.) so the
DuckDB correctness oracle can recompute every derived value
independently of Spark. No randomness, no wall clock: byte-identical
across runs and parallelism levels (the north-rule invariant).

Layout of the synthetic world:

- pages: one page per ``documents`` row. 30% of pages (doc_id%10<3)
  carry coordinates inside one dense ~1km cell near Belgrade
  (FIXTURES.md F1's skew hotspot); the rest spread over lat 35..45,
  lon 10..40. Coordinates are embedded in the html as
  ``lat D.DDDD lon D.DDDD`` built by integer string concatenation, so
  the engine must genuinely extract them from bytes.
- boundaries: one axis-aligned rectangle per ``nation`` row, tiling
  lat [35,45) x lon [10,40) in a 5x5 grid. Rectangles make
  point-in-polygon SQL-expressible for the oracle while the Spark side
  runs the general polygon kernel on the WKT.
- OSM conflation world: one cadastre way per ``orders`` row with a
  scenario id ``way_id % 20`` choosing the perturbation, mirroring
  FIXTURES.md F3's synthesis rule; expected verdicts are closed-form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# --- shared closed-form constants (keep in sync with the SQL below) -------
HOT_LAT_E4_BASE = 448000  # 44.8000
HOT_LON_E4_BASE = 204000  # 20.4000
COLD_LAT_E4_BASE = 350000  # 35.0000
COLD_LON_E4_BASE = 100000  # 10.0000

GRID_LON0, GRID_LAT0 = 10.0, 35.0
GRID_COL_W, GRID_ROW_H = 6.0, 2.0  # 5x5 grid -> lon [10,40), lat [35,45)

CELL_RES = 6  # 0.0625 deg cells (functions/cells.py)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

# SQL fragment defining the derived page attributes from `documents`.
# The Spark builder below MUST stay arithmetically identical.
PAGES_CTE = """
pages AS (
  SELECT
    doc_id,
    'doc://' || CAST(doc_id AS VARCHAR) AS url,
    CASE WHEN doc_id % 10 < 3
         THEN 448000 + doc_id % 97
         ELSE 350000 + (doc_id * 31) % 100000 END AS lat_e4,
    CASE WHEN doc_id % 10 < 3
         THEN 204000 + (doc_id * 7) % 97
         ELSE 100000 + (doc_id * 57) % 300000 END AS lon_e4,
    lang,
    text AS body_text
  FROM documents
),
pages_geo AS (
  SELECT
    doc_id, url, lang, body_text,
    lat_e4 / 10000.0 AS lat,
    lon_e4 / 10000.0 AS lon,
    CAST(lat_e4 // 10000 AS VARCHAR) || '.' || lpad(CAST(lat_e4 % 10000 AS VARCHAR), 4, '0') AS lat_str,
    CAST(lon_e4 // 10000 AS VARCHAR) || '.' || lpad(CAST(lon_e4 % 10000 AS VARCHAR), 4, '0') AS lon_str
  FROM pages
)
"""

# expected extracted text, as reproduced by the oracle (must equal the
# engine's html -> extract_text output byte-for-byte)
EXTRACTED_TEXT_SQL = (
    "'Doc ' || CAST(doc_id AS VARCHAR) || ' geo: lat ' || lat_str"
    " || ' lon ' || lon_str || ' ' || body_text"
)


def build_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages(doc_id, url, warc_ts, html, text, lang)
    — the exact input_hint column set (url, warc_ts, html:binary,
    text:string, lang:string).

    html is real utf-8 bytes; the engine still runs extract_text /
    extract_geo against the BYTES (G20) — the provided `text` column is
    the upstream extraction the north rule's per-row invariant compares
    against ("byte-identical extracted text per url"), gated engine-side
    by `pages_text_invariant`.

    The doc scan is spread across the session's cores when it arrives as
    ONE split big enough to matter: every consumer runs Arrow extract
    UDFs over the html bytes, and a large single-file corpus would run
    that whole stage in ONE task (guide §2.5 input skew). Below the
    byte threshold the extra exchange costs more than the single task
    (measured +0.6 s on the 5k-doc sf0.1 corpus), so the guard is
    size-adaptive rather than unconditional; a pre-split corpus skips
    it either way.
    """
    import os as _os

    docs = _read(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    try:
        path = f"{sf_dir}/documents.parquet"
        if _os.path.isdir(path):  # Spark-written dataset: sum its data files
            nbytes = sum(
                e.stat().st_size
                for e in _os.scandir(path)
                if e.is_file() and not e.name.startswith(("_", "."))
            )
        else:
            nbytes = _os.path.getsize(path)
        if nbytes > 4 * 1024 * 1024 and docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par, F.col("doc_id"))
    except OSError:  # pragma: no cover — defensive
        pass
    d = docs.select(
        "doc_id",
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.when(F.col("doc_id") % 10 < 3, F.lit(HOT_LAT_E4_BASE) + F.col("doc_id") % 97)
        .otherwise(F.lit(COLD_LAT_E4_BASE) + (F.col("doc_id") * 31) % 100000)
        .alias("lat_e4"),
        F.when(F.col("doc_id") % 10 < 3, F.lit(HOT_LON_E4_BASE) + (F.col("doc_id") * 7) % 97)
        .otherwise(F.lit(COLD_LON_E4_BASE) + (F.col("doc_id") * 57) % 300000)
        .alias("lon_e4"),
        "lang",
        F.col("text").alias("body_text"),
    )
    d = d.withColumn(
        "lat_str",
        F.concat(
            (F.col("lat_e4") / 10000).cast("long").cast("string"),
            F.lit("."),
            F.lpad((F.col("lat_e4") % 10000).cast("string"), 4, "0"),
        ),
    ).withColumn(
        "lon_str",
        F.concat(
            (F.col("lon_e4") / 10000).cast("long").cast("string"),
            F.lit("."),
            F.lpad((F.col("lon_e4") % 10000).cast("string"), 4, "0"),
        ),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>geo: lat "),
        F.col("lat_str"),
        F.lit(" lon "),
        F.col("lon_str"),
        F.lit("</p><p>"),
        F.col("body_text"),
        F.lit("</p></body></html>"),
    )
    extracted = F.concat(
        F.lit("Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" geo: lat "),
        F.col("lat_str"),
        F.lit(" lon "),
        F.col("lon_str"),
        F.lit(" "),
        F.col("body_text"),
    )
    return d.select(
        "doc_id",
        "url",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(secs=F.col("doc_id"))).alias(
            "warc_ts"
        ),
        F.encode(html, "UTF-8").alias("html"),
        extracted.alias("text"),
        "lang",
    )


# ---------------------------------------------------------------------------
# boundaries
# ---------------------------------------------------------------------------

BOUNDARIES_CTE = """
boundaries AS (
  SELECT
    CAST(n_nationkey AS VARCHAR) AS level9_id,
    n_name AS level9_name,
    10.0 + (n_nationkey % 5) * 6.0 AS min_lon,
    35.0 + (n_nationkey // 5) * 2.0 AS min_lat,
    10.0 + (n_nationkey % 5) * 6.0 + 6.0 AS max_lon,
    35.0 + (n_nationkey // 5) * 2.0 + 2.0 AS max_lat
  FROM nation
)
"""


def build_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation.parquet → boundaries in the reference's cadastre schema
    (level9_id..level6_name, wkt — common.py:94-107) with a rectangle
    polygon per nation tiling the cold region 5x5."""
    n = _read(spark, sf_dir, "nation")
    d = n.select(
        F.col("n_nationkey").cast("string").alias("level9_id"),
        F.col("n_name").alias("level9_name"),
        (F.lit(GRID_LON0) + (F.col("n_nationkey") % 5) * GRID_COL_W).alias("min_lon"),
        (F.lit(GRID_LAT0) + F.floor(F.col("n_nationkey") / 5) * GRID_ROW_H).alias("min_lat"),
    )
    d = d.withColumn("max_lon", F.col("min_lon") + GRID_COL_W).withColumn(
        "max_lat", F.col("min_lat") + GRID_ROW_H
    )
    fmt = lambda c: F.format_string("%.1f", c)  # noqa: E731  (grid coords are .0 multiples)
    wkt = F.concat(
        F.lit("POLYGON (("),
        fmt(F.col("min_lon")), F.lit(" "), fmt(F.col("min_lat")), F.lit(", "),
        fmt(F.col("max_lon")), F.lit(" "), fmt(F.col("min_lat")), F.lit(", "),
        fmt(F.col("max_lon")), F.lit(" "), fmt(F.col("max_lat")), F.lit(", "),
        fmt(F.col("min_lon")), F.lit(" "), fmt(F.col("max_lat")), F.lit(", "),
        fmt(F.col("min_lon")), F.lit(" "), fmt(F.col("min_lat")),
        F.lit("))"),
    )
    return d.select(
        "level9_id",
        "level9_name",
        F.concat(F.lit("m"), (F.col("level9_id").cast("int") % 5).cast("string")).alias("level8_id"),
        F.lit(None).cast("string").alias("level8_name"),
        F.lit(None).cast("string").alias("level7_id"),
        F.lit(None).cast("string").alias("level7_name"),
        F.lit("d0").alias("level6_id"),
        F.lit(None).cast("string").alias("level6_name"),
        wkt.alias("wkt"),
        "min_lon",
        "min_lat",
        "max_lon",
        "max_lat",
    )


# ---------------------------------------------------------------------------
# relation member ways (G4 polygon-assembly input)
# ---------------------------------------------------------------------------


def build_relation_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation.parquet → UNORDERED OSM relation member ways, the G4 input
    shape (common.py:37-69): one relation per boundary rectangle, its
    perimeter split into 4 edge ways with deterministic per-way direction
    flips; every 3rd relation adds a 2-way inner hole (center strip);
    every 5th adds a disjoint second outer square (multipolygon case).
    Expected area / ring counts / center containment / IoU vs the plain
    rectangle are closed forms the DuckDB oracle states directly.
    """
    b = build_boundaries(spark, sf_dir).select(
        F.col("level9_id").cast("long").alias("rel_id"),
        "min_lon",
        "min_lat",
        "max_lon",
        "max_lat",
        "wkt",
    )

    def pt(lon, lat):
        return F.array(lon, lat)

    A = pt(F.col("min_lon"), F.col("min_lat"))
    B = pt(F.col("max_lon"), F.col("min_lat"))
    C = pt(F.col("max_lon"), F.col("max_lat"))
    D = pt(F.col("min_lon"), F.col("max_lat"))

    def way(i, role, *pts):
        """Member way i; coords reversed when (rel_id + i) is even, so the
        assembler must handle arbitrary per-way orientation."""
        rev = ((F.col("rel_id") + i) % 2) == 0
        fwd = F.array(*pts)
        return F.struct(
            (F.col("rel_id") * 100 + i).alias("way_id"),
            F.lit(role).alias("role"),
            F.when(rev, F.reverse(fwd)).otherwise(fwd).alias("coords"),
        )

    # inner hole: center strip rectangle (exact binary-fraction offsets)
    E = pt(F.col("min_lon") + 1.5, F.col("min_lat") + 0.5)
    Fp = pt(F.col("max_lon") - 1.5, F.col("min_lat") + 0.5)
    Gp = pt(F.col("max_lon") - 1.5, F.col("max_lat") - 0.5)
    H = pt(F.col("min_lon") + 1.5, F.col("max_lat") - 0.5)
    # second outer: unit square 20 degrees north (disjoint from the grid)
    S0 = pt(F.col("min_lon"), F.col("min_lat") + 20.0)
    S1 = pt(F.col("min_lon") + 1.0, F.col("min_lat") + 20.0)
    S2 = pt(F.col("min_lon") + 1.0, F.col("min_lat") + 21.0)
    S3 = pt(F.col("min_lon"), F.col("min_lat") + 21.0)

    has_hole = (F.col("rel_id") % 3) == 0
    has_extra = (F.col("rel_id") % 5) == 0
    members = F.array(
        way(0, "outer", A, B),
        way(1, "outer", B, C),
        way(2, "outer", C, D),
        way(3, "outer", D, A),
        F.when(has_hole, way(10, "inner", E, Fp, Gp)),
        F.when(has_hole, way(11, "inner", Gp, H, E)),
        F.when(has_extra, way(20, "outer", S0, S1)),
        F.when(has_extra, way(21, "outer", S1, S2)),
        F.when(has_extra, way(22, "outer", S2, S3)),
        F.when(has_extra, way(23, "outer", S3, S0)),
    )
    out = b.select(
        "rel_id",
        F.explode(F.filter(members, lambda m: m.isNotNull())).alias("m"),
        (F.col("min_lon") + 3.0).alias("probe_lon"),
        (F.col("min_lat") + 1.0).alias("probe_lat"),
        F.col("wkt").alias("ref_wkt"),
    )
    return out.select(
        "rel_id",
        F.col("m.way_id").alias("way_id"),
        F.col("m.role").alias("role"),
        F.col("m.coords").alias("coords"),
        "probe_lon",
        "probe_lat",
        "ref_wkt",
    )
