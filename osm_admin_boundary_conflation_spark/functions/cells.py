"""Deterministic H3-style grid cell index (G21).

The north rule requires "batched H3/S2 cell encoding"; the h3 library is
not available in this environment, so we use a deterministic
equal-angle quantization grid. The scheme only needs determinism,
hierarchy and locality — all satisfied:

- resolution r has cell edge ``RES0_DEG / 2**r`` degrees,
- cell id is ``"r{r}:{row}:{col}"`` with
  row = floor((lat + 90) / size), col = floor((lon + 180) / size),
- a child cell's (row, col) integer-divides to its parent's → hierarchy.

Crucially the encoding is pure ``floor`` arithmetic, so the DuckDB
correctness oracle can recompute it in ANSI SQL, and the Spark side can
compute it JVM-side with built-in expressions (no UDF in the hot path).
"""

from __future__ import annotations

import numpy as np

RES0_DEG = 4.0  # resolution-0 cell edge in degrees


def cell_size_deg(res: int) -> float:
    return RES0_DEG / (2.0**res)


def encode_cells(lon, lat, res: int) -> np.ndarray:
    """Vectorized lat/lon → cell id strings."""
    size = cell_size_deg(res)
    row = np.floor((np.asarray(lat, np.float64) + 90.0) / size).astype(np.int64)
    col = np.floor((np.asarray(lon, np.float64) + 180.0) / size).astype(np.int64)
    return np.array([f"r{res}:{r}:{c}" for r, c in zip(row, col)], dtype=object)


def cell_bounds(cell_id: str) -> tuple[float, float, float, float]:
    """cell id → (min_lon, min_lat, max_lon, max_lat)."""
    res_s, row_s, col_s = cell_id.split(":")
    res, row, col = int(res_s[1:]), int(row_s), int(col_s)
    size = cell_size_deg(res)
    return (col * size - 180.0, row * size - 90.0, (col + 1) * size - 180.0, (row + 1) * size - 90.0)


def cover_bbox(min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int) -> list[str]:
    """All cells intersecting a bbox (inclusive of edge-touching cells)."""
    size = cell_size_deg(res)
    r0 = int(np.floor((min_lat + 90.0) / size))
    r1 = int(np.floor((max_lat + 90.0) / size))
    c0 = int(np.floor((min_lon + 180.0) / size))
    c1 = int(np.floor((max_lon + 180.0) / size))
    return [f"r{res}:{r}:{c}" for r in range(r0, r1 + 1) for c in range(c0, c1 + 1)]


def cover_polygon(mp: list[list[np.ndarray]], res: int) -> list[str]:
    """Cells intersecting a multipolygon — vectorized, conservative.

    Guaranteed superset of the exact covering (false positives are
    filtered downstream by the point-in-polygon confirm; false
    negatives would lose join candidates, so none are allowed):

    1. interior: all bbox cells whose center lies inside (one batched
       ray-cast over the full center grid);
    2. boundary: cells containing any ring vertex or any edge sample
       (step = cell_size/2), dilated by one ring — any cell an edge
       passes through is within one cell of a sample cell.
    """
    r0, c0, marked, _full = _cover_masks(mp, res)
    rr_idx, cc_idx = np.nonzero(marked)
    return [f"r{res}:{r0 + r}:{c0 + c}" for r, c in zip(rr_idx, cc_idx)]


def cover_polygon_full(mp: list[list[np.ndarray]], res: int) -> list[tuple[str, bool]]:
    """Covering WITH an interior flag per cell: ``full=True`` cells lie
    ENTIRELY inside the polygon (the S2 'interior covering' idea), so a
    point landing in one needs NO point-in-polygon confirm. Soundness:
    a cell whose center is inside and which is NOT in the dilated
    boundary set cannot be crossed by any boundary edge (edge samples
    are spaced at half a cell edge, so every boundary-crossed cell is a
    sample cell or its 8-neighbour — all in the dilated set); a cell
    with an inside center and no boundary crossing is fully interior.
    Same cell SET as cover_polygon — only the flag is added."""
    r0, c0, marked, full = _cover_masks(mp, res)
    rr_idx, cc_idx = np.nonzero(marked)
    return [
        (f"r{res}:{r0 + r}:{c0 + c}", bool(full[r, c])) for r, c in zip(rr_idx, cc_idx)
    ]


def _cover_masks(mp: list[list[np.ndarray]], res: int):
    """(r0, c0, marked, full) boolean grids for cover_polygon[_full]."""
    from . import geometry as G

    size = cell_size_deg(res)
    min_lon, min_lat, max_lon, max_lat = G.bbox(mp)
    r0 = int(np.floor((min_lat + 90.0) / size))
    r1 = int(np.floor((max_lat + 90.0) / size))
    c0 = int(np.floor((min_lon + 180.0) / size))
    c1 = int(np.floor((max_lon + 180.0) / size))
    nrows, ncols = r1 - r0 + 1, c1 - c0 + 1

    marked = np.zeros((nrows, ncols), dtype=bool)

    # 1. interior via center grid (chunked to bound memory)
    rows = (np.arange(r0, r1 + 1) + 0.5) * size - 90.0
    cols = (np.arange(c0, c1 + 1) + 0.5) * size - 180.0
    cc, rr = np.meshgrid(cols, rows)
    centers = np.column_stack([cc.ravel(), rr.ravel()])
    CHUNK = 200_000
    inside = np.zeros(len(centers), dtype=bool)
    for s in range(0, len(centers), CHUNK):
        inside[s : s + CHUNK] = G.points_in_multipolygon(centers[s : s + CHUNK], mp)
    marked |= inside.reshape(nrows, ncols)

    # 2. boundary cells: vertices + edge samples, dilated once
    edge = np.zeros((nrows, ncols), dtype=bool)
    step = size / 2.0
    for poly in mp:
        for ring in poly:
            pts = [ring]
            a, b = ring[:-1], ring[1:]
            seg_len = np.sqrt(((b - a) ** 2).sum(axis=1))
            nsteps = np.maximum(1, np.ceil(seg_len / step).astype(int))
            for i in range(len(a)):
                t = np.linspace(0.0, 1.0, nsteps[i] + 1)[:, None]
                pts.append(a[i] + t * (b[i] - a[i]))
            all_pts = np.vstack(pts)
            er = np.floor((all_pts[:, 1] + 90.0) / size).astype(int) - r0
            ec = np.floor((all_pts[:, 0] + 180.0) / size).astype(int) - c0
            ok = (er >= 0) & (er < nrows) & (ec >= 0) & (ec < ncols)
            edge[er[ok], ec[ok]] = True
    # dilate by one cell in all 8 directions
    dil = edge.copy()
    dil[1:, :] |= edge[:-1, :]
    dil[:-1, :] |= edge[1:, :]
    dil[:, 1:] |= edge[:, :-1]
    dil[:, :-1] |= edge[:, 1:]
    dil[1:, 1:] |= edge[:-1, :-1]
    dil[1:, :-1] |= edge[:-1, 1:]
    dil[:-1, 1:] |= edge[1:, :-1]
    dil[:-1, :-1] |= edge[1:, 1:]
    full = marked & ~dil  # center inside AND no boundary near: fully interior
    marked |= dil
    return r0, c0, marked, full


MAX_COVER_CELLS = 512


def cover_polygon_adaptive_full(
    mp: list[list[np.ndarray]], base_res: int, max_cells: int = MAX_COVER_CELLS
) -> list[tuple[str, bool]]:
    """Coarsen resolution per polygon until the covering fits max_cells
    (the H3 'compact' analogue): a country-sized polygon covers at r2,
    a city block at base_res. The pages side joins at every resolution
    present (multi-res equi join in operators/spatial_join.py), so big
    polygons cost O(max_cells) index rows instead of O(area). Cells
    carry the interior flag of cover_polygon_full."""
    from . import geometry as G

    res = base_res
    while res > 0:
        size = cell_size_deg(res)
        min_lon, min_lat, max_lon, max_lat = G.bbox(mp)
        est = ((max_lat - min_lat) / size + 2) * ((max_lon - min_lon) / size + 2)
        if est <= max_cells:
            cover = cover_polygon_full(mp, res)
            if len(cover) <= max_cells:
                return cover
        res -= 1
    return cover_polygon_full(mp, 0)


def parent_cell(cell_id: str) -> str:
    res_s, row_s, col_s = cell_id.split(":")
    res, row, col = int(res_s[1:]), int(row_s), int(col_s)
    assert res > 0
    return f"r{res - 1}:{row // 2}:{col // 2}"
