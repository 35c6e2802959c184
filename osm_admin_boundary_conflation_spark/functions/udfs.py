"""pandas/Arrow UDF wrappers over the numpy kernels.

Every UDF here is Series→Series (Arrow-batched); none is a row-at-a-time
Python UDF (input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python)"). Expensive per-geometry work (WKT parse) is memoized per batch
keyed by the WKT string, so a batch with K distinct boundaries parses K
times, not len(batch) times.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import cells as C
from . import geometry as G
from . import text as T

# --- text ------------------------------------------------------------------


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """G20: html binary → extracted text (pure; byte-identical per url)."""
    return T.extract_text(html)


_PAGE_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
    ]
)


@pandas_udf(_PAGE_SCHEMA)
def extract_page_udf(html: pd.Series) -> pd.DataFrame:
    """html binary → (text, lat, lon): one Python pass per page, so the
    text the geo scan reads is the text the struct returns."""
    text = T.extract_text(html)
    geo = T.extract_geo(text)
    geo.insert(0, "text", text.to_numpy())
    return geo


@pandas_udf(StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return T.lang_id(text)


@pandas_udf(LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return T.token_count(text).astype("int64")


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: T.simhash64(t or "")).astype("int64")


# --- geometry ---------------------------------------------------------------


def _parse_memo(wkts: pd.Series) -> dict:
    memo: dict[str, list] = {}
    for w in wkts:
        if w is not None and w not in memo:
            memo[w] = G.parse_wkt(w)
    return memo


@pandas_udf(BooleanType())
def point_in_wkt_udf(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
    """Vectorized point-in-polygon: groups the batch by distinct WKT and
    runs one numpy ray-cast per group (the Spark analogue of the
    reference's per-polygon shapely `contains`)."""
    memo = _parse_memo(wkt)
    out = np.zeros(len(lon), dtype=bool)
    pts = np.column_stack([lon.to_numpy(np.float64), lat.to_numpy(np.float64)])
    warr = wkt.to_numpy(object)
    for w, mp in memo.items():
        mask = warr == w
        if mask.any():
            out[mask] = G.points_in_multipolygon(pts[mask], mp)
    return pd.Series(out)


_IOU_SCHEMA = StructType(
    [
        StructField("i_o_u", DoubleType()),
        StructField("area_diff", DoubleType()),
    ]
)


@pandas_udf(_IOU_SCHEMA)
def iou_udf(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.DataFrame:
    """A8 (measure_quality.py:100-108): IoU + area-diff per WKT pair,
    round(_, 5) applied downstream (G18 determinism contract)."""
    memo = _parse_memo(pd.concat([wkt_a, wkt_b], ignore_index=True))
    ious = np.zeros(len(wkt_a))
    diffs = np.zeros(len(wkt_a))
    for i, (a, b) in enumerate(zip(wkt_a, wkt_b)):
        if a is None or b is None:
            ious[i], diffs[i] = -1.0, -1.0  # sentinel (measure_quality.py:94-96)
            continue
        ma, mb = memo[a], memo[b]
        ious[i] = G.iou(ma, mb)
        diffs[i] = G.area_diff(ma, mb)
    return pd.DataFrame({"i_o_u": ious, "area_diff": diffs})


@pandas_udf(DoubleType())
def bearing_udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    """G8 initial compass bearing (conflate.py:338-355) — the numpy
    kernel over the Arrow batch; oracle-checked against the closed-form
    atan2 formula in SQL."""
    return pd.Series(
        G.compass_bearing(
            lon1.to_numpy(np.float64),
            lat1.to_numpy(np.float64),
            lon2.to_numpy(np.float64),
            lat2.to_numpy(np.float64),
        )
    )


_VALID_SCHEMA = StructType(
    [
        StructField("is_valid", BooleanType()),
        StructField("is_closed", BooleanType()),
        StructField("is_ring", BooleanType()),
    ]
)


@pandas_udf(_VALID_SCHEMA)
def validity_flags_udf(coords: pd.Series) -> pd.DataFrame:
    """G10/G14 (conflate.py:370-376): LineString validity, closure, and
    ring-ness (closed AND simple — the self-intersection/duplicate-
    interior-vertex check) per Arrow batch."""
    out = {"is_valid": [], "is_closed": [], "is_ring": []}
    for c in coords:
        arr = np.asarray(c.tolist() if hasattr(c, "tolist") else list(c), np.float64)
        arr = arr.reshape(-1, 2) if arr.size else arr.reshape(0, 2)
        v, cl, rg = G.validity_flags(arr)
        out["is_valid"].append(v)
        out["is_closed"].append(cl)
        out["is_ring"].append(rg)
    return pd.DataFrame(out)


_RT_SCHEMA = StructType(
    [
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ]
)


@pandas_udf(_RT_SCHEMA)
def utm_roundtrip_udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """G2 (serbia/serbia2input.py:20-27 reprojects EPSG:32634 → 4326 with
    pyproj): WGS84 → UTM zone 34N → WGS84 round trip through the Krüger
    transverse-Mercator series, vectorized numpy over the Arrow batch.
    Round-trip error of the series is ~1e-9 deg, so round(_, 5) equals
    the input exactly — which is what the driver oracle checks."""
    e, n = G.wgs84_to_utm(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    lo, la = G.utm_to_wgs84(e, n)
    return pd.DataFrame({"lon": lo, "lat": la})


_COVER_FULL_SCHEMA = ArrayType(
    StructType(
        [StructField("cell", StringType()), StructField("full", BooleanType())]
    )
)


@pandas_udf(_COVER_FULL_SCHEMA)
def cover_wkt_full_udf(wkt: pd.Series) -> pd.Series:
    """G21 polygon→covering-cell-set (boundary side of the cell hash
    join) with a fully-interior flag per cell (S2 interior covering):
    points landing in a full=True cell are inside the polygon by
    construction and skip the point-in-polygon confirm entirely.
    Adaptive resolution: big polygons coarsen until the covering fits
    MAX_COVER_CELLS, so index size is O(1) per polygon."""
    from ..datagen import CELL_RES

    memo = _parse_memo(wkt)
    return wkt.map(
        lambda w: C.cover_polygon_adaptive_full(memo[w], CELL_RES)
        if w is not None
        else []
    )


@pandas_udf(DoubleType())
def hausdorff_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    out = np.zeros(len(a))
    for i, (x, y) in enumerate(zip(a, b)):
        if x is None or y is None:
            out[i] = -1.0
            continue
        out[i] = G.hausdorff_m(np.asarray(list(x)), np.asarray(list(y)))
    return pd.Series(out)


# --- JVM-side (no-UDF) expression builders ----------------------------------


def cell_expr(lon_col, lat_col, res: int):
    """Cell id as a pure built-in expression (whole-stage-codegen'd;
    mirrors functions/cells.py encode_cells and the oracle SQL)."""
    size = C.cell_size_deg(res)
    row = F.floor((lat_col + F.lit(90.0)) / F.lit(size)).cast("long")
    col = F.floor((lon_col + F.lit(180.0)) / F.lit(size)).cast("long")
    return F.concat(F.lit(f"r{res}:"), row.cast("string"), F.lit(":"), col.cast("string"))


def haversine_expr(lon1, lat1, lon2, lat2):
    """Great-circle meters as built-in SQL math (JVM-side G6)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = p2 - p1, F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dp / 2), F.lit(2.0)) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dl / 2), F.lit(2.0))
    return F.lit(2.0 * G.EARTH_RADIUS_M) * F.asin(F.sqrt(a))
