"""Pure-numpy geometry kernel (no shapely in this environment).

Implements the reference's geometry surface (SURVEY.md §2.6, G1-G15,
G18-G22) as deterministic numpy functions designed to be called per
Arrow batch from pandas UDFs — never per Spark row from Python.

Reference semantics mirrored here (file:line cites are into
/root/reference):

- WKT parse (G1)                      measure_quality.py:78
- planar shoelace area / IoU (A8,G5)  measure_quality.py:100-108
  (shapely ``.area`` on WGS84 degrees is planar — ratios like IoU are
  unit-free, so planar degrees^2 matches the reference exactly)
- geodesic meters (G6)                conflate.py:280-294 — the reference
  uses pyproj Geod(WGS84).inv; we use haversine on the IAU mean radius.
  All thresholds in THIS engine (500 m endpoints, 1 m node equality) are
  evaluated with the same function on both the engine and oracle side,
  so the metric choice is internally consistent.
- endpoint match + reversal (G7)      conflate.py:278-294
- compass bearing (G8)                conflate.py:319-355
- exact geometry equality (G12)       conflate.py:297-316
- ring canonicalization (G15/O11)     translation.py:132-160
- discrete Hausdorff (G22)            north rule (no reference impl)

Geometries are represented as:
  ring      = np.ndarray (N,2) of (lon, lat) float64
  polygon   = [outer_ring, hole_ring, ...]
  multipoly = [polygon, ...]
"""

from __future__ import annotations

import math
import re

import numpy as np

EARTH_RADIUS_M = 6371008.8  # IAU mean radius

# ---------------------------------------------------------------------------
# WKT (G1)
# ---------------------------------------------------------------------------

_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def parse_wkt(wkt: str) -> list[list[np.ndarray]]:
    """Parse POLYGON/MULTIPOLYGON WKT → multipolygon structure.

    Mirrors the reference's shapely ``wkt.loads`` usage
    (measure_quality.py:78, inputcsv2shp.py:35) for the two geometry
    types the cadastre data contains (README.md:100-113).
    """
    s = wkt.strip()
    upper = s.upper()
    if upper.startswith("MULTIPOLYGON"):
        body = s[s.index("(") :]
        return [_parse_polygon_body(p) for p in _split_balanced(body)]
    if upper.startswith("POLYGON"):
        body = s[s.index("(") :]
        return [_parse_polygon_body(body)]
    if upper.startswith("LINESTRING"):
        # represented as a single open "ring" in a single polygon slot
        coords = _parse_ring(s[s.index("(") :])
        return [[coords]]
    raise ValueError(f"unsupported WKT type: {s[:30]}")


def _split_balanced(s: str) -> list[str]:
    """Split the children of one balanced paren group."""
    s = s.strip()
    assert s[0] == "(" and s[-1] == ")", s[:20]
    inner = s[1:-1]
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    parts.append(inner[start:])
    return [p.strip() for p in parts]


def _parse_polygon_body(s: str) -> list[np.ndarray]:
    return [_parse_ring(r) for r in _split_balanced(s)]


def _parse_ring(s: str) -> np.ndarray:
    s = s.strip()
    if s.startswith("("):
        s = s[1:-1]
    nums = re.findall(_NUM, s)
    arr = np.asarray(nums, dtype=np.float64).reshape(-1, 2)
    return arr


def to_wkt(mp: list[list[np.ndarray]], digits: int = 7) -> str:
    def ring_s(r: np.ndarray) -> str:
        return "(" + ", ".join(f"{x:.{digits}f} {y:.{digits}f}" for x, y in r) + ")"

    def poly_s(p: list[np.ndarray]) -> str:
        return "(" + ", ".join(ring_s(r) for r in p) + ")"

    if len(mp) == 1:
        return "POLYGON " + poly_s(mp[0])
    return "MULTIPOLYGON (" + ", ".join(poly_s(p) for p in mp) + ")"


# ---------------------------------------------------------------------------
# Areas (planar shoelace — shapely-compatible for WGS84-degree inputs)
# ---------------------------------------------------------------------------


def ring_area_signed(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_area(poly: list[np.ndarray]) -> float:
    """abs(outer) - sum(abs(holes)) — matches shapely Polygon.area."""
    if not poly:
        return 0.0
    a = abs(ring_area_signed(poly[0]))
    for hole in poly[1:]:
        a -= abs(ring_area_signed(hole))
    return a


def multipolygon_area(mp: list[list[np.ndarray]]) -> float:
    return sum(polygon_area(p) for p in mp)


# ---------------------------------------------------------------------------
# Point in polygon (ray casting; boundary counts as inside)
# ---------------------------------------------------------------------------


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: pts (M,2) vs ring (N,2) → bool (M,)."""
    x, y = pts[:, 0:1], pts[:, 1:2]  # (M,1)
    x1, y1 = ring[:, 0][None, :], ring[:, 1][None, :]  # (1,N)
    x2, y2 = np.roll(ring[:, 0], -1)[None, :], np.roll(ring[:, 1], -1)[None, :]
    # edges crossing the horizontal ray to +inf
    cond = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (y - y1) * (x2 - x1) / np.where(y2 == y1, np.inf, y2 - y1)
    crossings = np.sum(cond & (x < xint), axis=1)
    inside = (crossings % 2) == 1
    # boundary tolerance: points exactly on a vertex count as inside
    on_vertex = np.zeros(len(pts), dtype=bool)
    for i in range(len(pts)):
        if not inside[i]:
            d = np.abs(ring - pts[i]).max(axis=1)
            if d.min() < 1e-12:
                on_vertex[i] = True
    return inside | on_vertex


def points_in_polygon(pts: np.ndarray, poly: list[np.ndarray]) -> np.ndarray:
    if not poly:
        return np.zeros(len(pts), dtype=bool)
    res = points_in_ring(pts, poly[0])
    for hole in poly[1:]:
        res &= ~points_in_ring(pts, hole)
    return res


def points_in_multipolygon(pts: np.ndarray, mp: list[list[np.ndarray]]) -> np.ndarray:
    res = np.zeros(len(pts), dtype=bool)
    for poly in mp:
        res |= points_in_polygon(pts, poly)
    return res


# ---------------------------------------------------------------------------
# Polygon clipping / intersection area (exact, via triangulation +
# convex-convex Sutherland–Hodgman). area(union) = A + B - area(inter).
# ---------------------------------------------------------------------------


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    return ring if ring_area_signed(ring) >= 0 else ring[::-1]


def _dedupe_closing(ring: np.ndarray) -> np.ndarray:
    """Drop the closing vertex (WKT rings repeat the first point)."""
    if len(ring) > 1 and np.allclose(ring[0], ring[-1]):
        return ring[:-1]
    return ring


def ear_clip(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple (possibly concave) ring."""
    pts = _ensure_ccw(_dedupe_closing(np.asarray(ring, dtype=np.float64)))
    n = len(pts)
    if n < 3:
        return []
    idx = list(range(n))
    tris: list[np.ndarray] = []
    guard = 0
    while len(idx) > 3 and guard < 10 * n * n:
        guard += 1
        ear_found = False
        m = len(idx)
        for k in range(m):
            i0, i1, i2 = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            a, b, c = pts[i0], pts[i1], pts[i2]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross <= 1e-18:  # reflex or degenerate
                continue
            tri = np.array([a, b, c])
            others = np.array([pts[j] for j in idx if j not in (i0, i1, i2)])
            if len(others) and points_in_ring(others, tri).any():
                continue
            tris.append(tri)
            idx.pop(k)
            ear_found = True
            break
        if not ear_found:  # numerically stuck: drop the most degenerate vertex
            idx.pop(0)
    if len(idx) == 3:
        tris.append(np.array([pts[idx[0]], pts[idx[1]], pts[idx[2]]]))
    return tris


def clip_convex(subject: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip subject polygon by CONVEX clipper (CCW)."""
    output = list(np.asarray(subject, dtype=np.float64))
    cl = _ensure_ccw(_dedupe_closing(np.asarray(clipper, dtype=np.float64)))
    n = len(cl)
    for i in range(n):
        if not output:
            return np.zeros((0, 2))
        a, b = cl[i], cl[(i + 1) % n]
        input_list, output = output, []
        ex, ey = b[0] - a[0], b[1] - a[1]

        def side(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0])

        s = input_list[-1]
        s_in = side(s) >= 0
        for e in input_list:
            e_in = side(e) >= 0
            if e_in:
                if not s_in:
                    output.append(_seg_line_intersect(s, e, a, b))
                output.append(e)
            elif s_in:
                output.append(_seg_line_intersect(s, e, a, b))
            s, s_in = e, e_in
    return np.asarray(output) if output else np.zeros((0, 2))


def _seg_line_intersect(p1, p2, a, b):
    """Intersection of segment p1-p2 with the infinite line a-b."""
    dx1, dy1 = p2[0] - p1[0], p2[1] - p1[1]
    dxl, dyl = b[0] - a[0], b[1] - a[1]
    denom = dx1 * dyl - dy1 * dxl
    if abs(denom) < 1e-30:
        return np.array([p2[0], p2[1]])
    t = ((a[0] - p1[0]) * dyl - (a[1] - p1[1]) * dxl) / denom
    return np.array([p1[0] + t * dx1, p1[1] + t * dy1])


def _poly_tris(poly: list[np.ndarray]) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Triangulate outer ring and holes separately."""
    outer = ear_clip(poly[0]) if poly else []
    holes: list[np.ndarray] = []
    for h in poly[1:]:
        holes.extend(ear_clip(h))
    return outer, holes


def intersection_area(mp_a: list[list[np.ndarray]], mp_b: list[list[np.ndarray]]) -> float:
    """Exact area of intersection of two multipolygons.

    inter(A, B) with holes expands by inclusion-exclusion:
      area(A∩B) = Σ outerA∩outerB − Σ outerA∩holeB − Σ holeA∩outerB
                + Σ holeA∩holeB
    (valid when holes are contained in their outers and polygons within a
    multipolygon are disjoint — the reference's cadastre invariants).
    Triangulating every ring reduces all terms to convex-convex clips.
    """
    total = 0.0
    for pa in mp_a:
        oa, ha = _poly_tris(pa)
        for pb in mp_b:
            ob, hb = _poly_tris(pb)
            total += _tris_inter(oa, ob) - _tris_inter(oa, hb) - _tris_inter(ha, ob)
            total += _tris_inter(ha, hb)
    return max(total, 0.0)


def _tris_inter(tris_a: list[np.ndarray], tris_b: list[np.ndarray]) -> float:
    tot = 0.0
    for ta in tris_a:
        # quick bbox of ta
        amin, amax = ta.min(axis=0), ta.max(axis=0)
        for tb in tris_b:
            bmin, bmax = tb.min(axis=0), tb.max(axis=0)
            if (amin > bmax).any() or (bmin > amax).any():
                continue
            clipped = clip_convex(ta, tb)
            if len(clipped) >= 3:
                tot += _tri_area_poly(clipped)
    return tot


def _tri_area_poly(ring: np.ndarray) -> float:
    return abs(ring_area_signed(ring))


def iou(mp_a, mp_b) -> float:
    """intersection.area / union.area — measure_quality.py:100-104."""
    ia = intersection_area(mp_a, mp_b)
    ua = multipolygon_area(mp_a) + multipolygon_area(mp_b) - ia
    if ua <= 0:
        return 0.0
    return ia / ua


def area_diff(mp_cadastre, mp_osm) -> float:
    """intersection.area / cadastre.area — measure_quality.py:105-106."""
    a = multipolygon_area(mp_cadastre)
    if a <= 0:
        return 0.0
    return intersection_area(mp_cadastre, mp_osm) / a


# ---------------------------------------------------------------------------
# Geodesic-style distance / bearing (vectorized)
# ---------------------------------------------------------------------------


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle meters, vectorized. Engine-wide 'geodesic' metric
    (stands in for pyproj Geod.inv at conflate.py:280-294; see module doc).
    """
    lon1, lat1, lon2, lat2 = (np.asarray(v, dtype=np.float64) for v in (lon1, lat1, lon2, lat2))
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def compass_bearing(lon1, lat1, lon2, lat2):
    """Initial compass bearing A→B in [0, 360) — conflate.py:338-355."""
    lat1r, lat2r = np.radians(np.asarray(lat1, np.float64)), np.radians(np.asarray(lat2, np.float64))
    dlon = np.radians(np.asarray(lon2, np.float64) - np.asarray(lon1, np.float64))
    x = np.sin(dlon) * np.cos(lat2r)
    y = np.cos(lat1r) * np.sin(lat2r) - np.sin(lat1r) * np.cos(lat2r) * np.cos(dlon)
    initial = np.degrees(np.arctan2(x, y))
    return np.mod(initial + 360.0, 360.0)


def endpoint_match(src: np.ndarray, osm: np.ndarray) -> tuple[float, bool]:
    """Reference get_bigger_endpoint_difference (conflate.py:278-294),
    exact rule: with d11 = d(osm[0], src[0]) and d12 = d(osm[0],
    src[-1]), reverse iff d12 < d11; distance1 = min(d11, d12); d2 =
    d(osm[-1], src[0]) when reversing else d(osm[-1], src[-1]); result
    is max(distance1, d2).  (Round 1 used a smaller-SUM-of-endpoints
    orientation pick, which disagrees in asymmetric cases — ADVICE r01.)
    """
    s0, s1 = src[0], src[-1]
    o0, o1 = osm[0], osm[-1]
    d11 = float(haversine_m(o0[0], o0[1], s0[0], s0[1]))
    d12 = float(haversine_m(o0[0], o0[1], s1[0], s1[1]))
    should_reverse = d12 < d11
    d1 = min(d11, d12)
    if should_reverse:
        d2 = float(haversine_m(o1[0], o1[1], s0[0], s0[1]))
    else:
        d2 = float(haversine_m(o1[0], o1[1], s1[0], s1[1]))
    return max(d1, d2), should_reverse


def is_same_geometry(src: np.ndarray, osm: np.ndarray, tol_m: float = 1.0) -> bool:
    """G12 (conflate.py:297-316): same ring-closure, same vertex count,
    endpoint difference (via get_bigger_endpoint_difference's exact
    rule) within tol, then every vertex pair of the CHOSEN orientation
    within tol meters — the reference aligns once by the endpoint rule
    and never tries the other orientation.
    """
    if len(src) != len(osm):
        return False
    src_closed = bool(np.allclose(src[0], src[-1]))
    osm_closed = bool(np.allclose(osm[0], osm[-1]))
    if src_closed != osm_closed:
        return False
    dist, should_reverse = endpoint_match(src, osm)
    if dist > tol_m:
        return False
    aligned = src[::-1] if should_reverse else src
    d = haversine_m(aligned[:, 0], aligned[:, 1], osm[:, 0], osm[:, 1])
    return float(np.max(d)) <= tol_m


def merge_lines_to_rings(lines: list[np.ndarray]) -> list[np.ndarray]:
    """linemerge → polygonize analogue (G4, common.py:50-53): chain an
    UNORDERED set of polylines into closed rings by joining bitwise-equal
    endpoints (OSM member ways share node coordinates exactly), honoring
    per-way direction flips. Chains that fail to close are dropped —
    shapely's polygonize yields no polygon for them. Deterministic: the
    start segment and each continuation are chosen by index order after
    an endpoint sort, so output is independent of input row order.
    """
    segs = [np.asarray(l, dtype=np.float64) for l in lines if l is not None and len(l) >= 2]
    key = lambda p: (float(p[0]), float(p[1]))  # noqa: E731
    order = sorted(range(len(segs)), key=lambda i: (key(segs[i][0]), key(segs[i][-1]), len(segs[i])))
    adj: dict[tuple[float, float], list[tuple[int, int]]] = {}
    for i, s in enumerate(segs):
        adj.setdefault(key(s[0]), []).append((i, 0))
        adj.setdefault(key(s[-1]), []).append((i, 1))
    used = [False] * len(segs)
    rings: list[np.ndarray] = []
    for start in order:
        if used[start]:
            continue
        used[start] = True
        chain = [segs[start]]
        head, tail = key(segs[start][0]), key(segs[start][-1])
        while tail != head:
            cands = [(j, e) for j, e in adj.get(tail, []) if not used[j]]
            if not cands:
                break
            j, e = min(cands)
            used[j] = True
            nxt = segs[j] if e == 0 else segs[j][::-1]
            chain.append(nxt)
            tail = key(nxt[-1])
        if tail == head:
            rings.append(np.vstack([chain[0]] + [c[1:] for c in chain[1:]]))
    return rings


def assemble_relation_polygon(
    outer_lines: list[np.ndarray], inner_lines: list[np.ndarray]
) -> list[list[np.ndarray]]:
    """G4 (common.py:37-69 create_geometry_from_osm_response): assemble a
    relation's multipolygon from unordered outer/inner member ways.

    outer ways → rings → one polygon per ring, unioned (admin-boundary
    outers are disjoint, so the reference's reduce-union is exactly the
    multipolygon of the rings); each inner ring then applies as
    symmetric_difference — a hole when contained in an outer polygon,
    its own polygon otherwise.
    """
    polys: list[list[np.ndarray]] = [[r] for r in merge_lines_to_rings(outer_lines)]
    if inner_lines:
        for ring in merge_lines_to_rings(inner_lines):
            rep = _dedupe_closing(ring).mean(axis=0)[None, :]
            placed = False
            for p in polys:
                if bool(points_in_ring(rep, p[0])[0]):
                    p.append(ring)
                    placed = True
                    break
            if not placed:
                polys.append([ring])
    return polys


def hausdorff_m(a: np.ndarray, b: np.ndarray) -> float:
    """Discrete (vertex-set) Hausdorff distance in meters (G22)."""
    lon_a, lat_a = a[:, 0:1], a[:, 1:2]
    lon_b, lat_b = b[None, :, 0], b[None, :, 1]
    d = haversine_m(lon_a, lat_a, lon_b, lat_b)  # (|a|,|b|)
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


# ---------------------------------------------------------------------------
# Ring canonicalization (G15/O11 — translation.py:132-160)
# ---------------------------------------------------------------------------


def canonical_node_fingerprint(node_ids: list[int]) -> str:
    """Rotation/reversal-invariant fingerprint of a way's node-id list.

    Open ways: lexicographic min of (ids, reversed ids).
    Closed ways (rings): drop the closing id, rotate both orientations to
    start at the min id, take the lexicographic min — mirrors the
    reference's rotate-to-anchor equality (translation.py:141-148).
    """
    ids = list(node_ids)
    if len(ids) > 1 and ids[0] == ids[-1]:
        core = ids[:-1]
        n = len(core)
        # lexicographically-minimal rotation over BOTH orientations
        # (anchoring at "the" min id is ambiguous with duplicate ids)
        best = min(
            min(core[k:] + core[:k] for k in range(n)),
            min((core[::-1])[k:] + (core[::-1])[:k] for k in range(n)),
        )
        return "R:" + ",".join(map(str, best))
    return "O:" + ",".join(map(str, min(ids, ids[::-1])))


def is_ring(coords: np.ndarray) -> bool:
    return len(coords) >= 4 and bool(np.allclose(coords[0], coords[-1]))


def validity_flags(coords: np.ndarray) -> tuple[bool, bool, bool]:
    """(is_valid, is_closed, is_ring) for a LineString — conflate.py:370-376.

    shapely LineString.is_valid is True for any 2+ point line; is_closed
    = first==last; is_ring = closed and simple. We approximate 'simple'
    as: no duplicate interior vertices (translation.py:119-129 semantics).
    """
    if len(coords) < 2:
        return False, False, False
    closed = bool(np.allclose(coords[0], coords[-1]))
    interior = coords[:-1] if closed else coords
    uniq = len(np.unique(np.round(interior, 9), axis=0))
    simple = uniq == len(interior)
    return True, closed, closed and simple and len(coords) >= 4


def bbox(mp: list[list[np.ndarray]]) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a multipolygon."""
    pts = np.vstack([r for p in mp for r in p])
    mn, mx = pts.min(axis=0), pts.max(axis=0)
    return float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1])


def buffer_contains(outer: np.ndarray, inner: np.ndarray, buf_deg: float = 0.005) -> bool:
    """P11 heuristic (conflate.py:388): inner within outer.buffer(0.005).

    Implemented as: every inner vertex within buf_deg (planar degrees,
    matching the reference's degree-unit buffer) of the outer polyline.
    """
    d = _points_to_polyline_dist(inner, outer)
    return bool(np.all(d <= buf_deg))


def _points_to_polyline_dist(pts: np.ndarray, line: np.ndarray) -> np.ndarray:
    """Planar distance from each point to the nearest segment of line."""
    a = line[:-1][None, :, :]  # (1,S,2)
    b = line[1:][None, :, :]
    p = pts[:, None, :]  # (M,1,2)
    ab = b - a
    denom = (ab**2).sum(axis=2)
    denom = np.where(denom == 0, 1e-300, denom)
    t = ((p - a) * ab).sum(axis=2) / denom
    t = np.clip(t, 0.0, 1.0)
    proj = a + t[:, :, None] * ab
    d = np.sqrt(((p - proj) ** 2).sum(axis=2))
    return d.min(axis=1)


# ---------------------------------------------------------------------------
# CRS reprojection (G2 — serbia/serbia2input.py:20-27 reprojects
# EPSG:32634 UTM zone 34N → EPSG:4326 with pyproj; pyproj is absent in
# this environment, so implement the standard transverse-Mercator
# forward/inverse series (public Krüger formulas, ~1e-9 deg accuracy)
# vectorized in numpy.
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0


def _tm_constants():
    f = _WGS84_F
    n = f / (2.0 - f)
    A = _WGS84_A / (1 + n) * (1 + n**2 / 4 + n**4 / 64)
    alpha = [
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16,
        13 * n**2 / 48 - 3 * n**3 / 5,
        61 * n**3 / 240,
    ]
    beta = [
        n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96,
        n**2 / 48 + n**3 / 15,
        17 * n**3 / 480,
    ]
    delta = [
        2 * n - 2 * n**2 / 3 - 2 * n**3,
        7 * n**2 / 3 - 8 * n**3 / 5,
        56 * n**3 / 15,
    ]
    return n, A, alpha, beta, delta


def wgs84_to_utm(lon, lat, zone: int = 34):
    """Forward TM projection → (easting, northing), vectorized."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    n, A, alpha, _, _ = _tm_constants()
    lon0 = math.radians(zone * 6 - 183)
    phi = np.radians(lat)
    lam = np.radians(lon) - lon0
    e = math.sqrt(_WGS84_F * (2 - _WGS84_F))
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1 + t**2))
    x = eta.copy()
    y = xi.copy()
    for j, a in enumerate(alpha, start=1):
        x += a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        y += a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
    return _UTM_FE + _UTM_K0 * A * x, _UTM_K0 * A * y


def utm_to_wgs84(easting, northing, zone: int = 34):
    """Inverse TM projection → (lon, lat), vectorized (G2)."""
    easting = np.asarray(easting, np.float64)
    northing = np.asarray(northing, np.float64)
    n, A, _, beta, delta = _tm_constants()
    lon0 = math.radians(zone * 6 - 183)
    xi = northing / (_UTM_K0 * A)
    eta = (easting - _UTM_FE) / (_UTM_K0 * A)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(beta, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j, dd in enumerate(delta, start=1):
        phi += dd * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(lon0 + lam), np.degrees(phi)
