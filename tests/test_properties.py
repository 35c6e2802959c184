"""Property-based tests (SURVEY §5 item 4) over the geometry kernel."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_admin_boundary_conflation_spark.functions import cells as C
from osm_admin_boundary_conflation_spark.functions import geometry as G

coord = st.floats(min_value=-80, max_value=80, allow_nan=False, width=64)


def convex_polygon(cx, cy, radii_angles):
    """Build a convex ring from sorted angles around a center."""
    pts = []
    for r, a in radii_angles:
        pts.append([cx + r * np.cos(a), cy + r * np.sin(a)])
    pts.append(pts[0])
    return np.array(pts)


@st.composite
def convex_rings(draw):
    """Star-shaped SIMPLE rings (possibly concave): vertices sorted by
    angle around an interior center with every angular gap < pi —
    guaranteed non-self-intersecting. (A previous version allowed
    angular gaps > pi, producing self-intersecting 'polygons' whose
    shoelace area is a meaningless net value.)"""
    cx = draw(st.floats(-50, 50))
    cy = draw(st.floats(-50, 50))
    n = draw(st.integers(3, 8))
    jitters = [draw(st.floats(-0.4, 0.4)) for _ in range(n)]
    angles = [2 * np.pi * i / n + j * np.pi / n for i, j in enumerate(jitters)]
    radii = [draw(st.floats(0.5, 3.0)) for _ in range(n)]
    return convex_polygon(cx, cy, list(zip(radii, angles)))


@given(convex_rings(), convex_rings())
@settings(max_examples=40, deadline=None)
def test_iou_bounded_and_symmetric(r1, r2):
    a, b = [[r1]], [[r2]]
    v = G.iou(a, b)
    assert 0.0 <= v <= 1.0 + 1e-9
    assert abs(v - G.iou(b, a)) < 1e-9


@given(convex_rings())
@settings(max_examples=30, deadline=None)
def test_self_intersection_is_area(ring):
    mp = [[ring]]
    area = G.multipolygon_area(mp)
    inter = G.intersection_area(mp, mp)
    assert abs(inter - area) <= 1e-6 * max(area, 1.0)


@given(convex_rings())
@settings(max_examples=30, deadline=None)
def test_centroid_inside_convex(ring):
    c = ring[:-1].mean(axis=0)
    assert G.points_in_polygon(np.array([c]), [ring])[0]


@given(convex_rings())
@settings(max_examples=20, deadline=None)
def test_cover_contains_all_vertex_cells(ring):
    mp = [[ring]]
    cover = {c for c, _ in C.cover_polygon_adaptive_full(mp, base_res=5)}
    res = int(next(iter(cover)).split(":")[0][1:])
    for lon, lat in ring[:-1]:
        (cid,) = C.encode_cells([lon], [lat], res)
        assert cid in cover


@given(st.lists(st.integers(0, 10**9), min_size=2, max_size=12))
@settings(max_examples=50, deadline=None)
def test_fingerprint_reversal_invariant(ids):
    assert G.canonical_node_fingerprint(ids) == G.canonical_node_fingerprint(ids[::-1])


@given(st.lists(st.integers(0, 10**6), min_size=3, max_size=10, unique=True), st.integers(0, 20))
@settings(max_examples=50, deadline=None)
def test_ring_fingerprint_rotation_invariant(core, k):
    ring = core + [core[0]]
    rot = core[k % len(core) :] + core[: k % len(core)]
    ring_rot = rot + [rot[0]]
    assert G.canonical_node_fingerprint(ring) == G.canonical_node_fingerprint(ring_rot)


@given(
    st.floats(-170, 170), st.floats(-80, 80), st.floats(-170, 170), st.floats(-80, 80)
)
@settings(max_examples=60, deadline=None)
def test_haversine_metric_properties(lon1, lat1, lon2, lat2):
    d = float(G.haversine_m(lon1, lat1, lon2, lat2))
    d_rev = float(G.haversine_m(lon2, lat2, lon1, lat1))
    assert d >= 0 and abs(d - d_rev) < 1e-6
    assert float(G.haversine_m(lon1, lat1, lon1, lat1)) == 0.0
    assert d <= np.pi * G.EARTH_RADIUS_M + 1


@given(st.floats(-170, 170), st.floats(-75, 75))
@settings(max_examples=40, deadline=None)
def test_utm_roundtrip_property(lon, lat):
    # keep within a plausible zone-34 band by mapping lon into [15, 27)
    lon34 = 15.0 + abs(lon) % 12.0
    e, n = G.wgs84_to_utm(lon34, lat, zone=34)
    lon2, lat2 = G.utm_to_wgs84(e, n, zone=34)
    assert abs(float(lon2) - lon34) < 1e-6
    assert abs(float(lat2) - lat) < 1e-6


# --- G4 polygon assembly (merge_lines_to_rings / assemble_relation_polygon) --


def _rect_ring(x0, y0, w, h):
    return np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]])


def _split_ring(ring, cuts, rng):
    """Split a closed ring into `cuts` consecutive polylines, each
    optionally reversed; return them in a shuffled order."""
    pts = ring
    n = len(pts) - 1  # closing vertex repeated
    # choose cut positions (vertex indices) — always include 0
    idx = sorted(rng.choice(np.arange(1, n), size=min(cuts - 1, n - 1), replace=False).tolist())
    bounds = [0] + idx + [n]
    parts = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        seg = pts[a : b + 1]
        if rng.random() < 0.5:
            seg = seg[::-1]
        parts.append(seg)
    order = rng.permutation(len(parts))
    return [parts[i] for i in order]


@given(
    st.integers(0, 10**6),
    st.integers(2, 4),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_assembly_area_invariant_to_split_order_direction(seed, cuts, with_hole, with_extra):
    rng = np.random.default_rng(seed)
    outer = _rect_ring(10.0, 35.0, 6.0, 2.0)
    outer_lines = _split_ring(outer, cuts, rng)
    inner_lines = []
    expected = 12.0
    if with_hole:
        hole = _rect_ring(11.5, 35.5, 3.0, 1.0)
        inner_lines = _split_ring(hole, cuts, rng)
        expected -= 3.0
    if with_extra:
        outer_lines += _split_ring(_rect_ring(10.0, 55.0, 1.0, 1.0), cuts, rng)
        expected += 1.0
    mp = G.assemble_relation_polygon(outer_lines, inner_lines)
    assert abs(G.multipolygon_area(mp) - expected) < 1e-9
    assert len(mp) == (2 if with_extra else 1)
    assert sum(len(p) - 1 for p in mp) == (1 if with_hole else 0)
    # hole containment semantics: rect center inside iff no hole
    center = np.array([[13.0, 36.0]])
    assert bool(G.points_in_multipolygon(center, mp)[0]) == (not with_hole)


def test_assembly_drops_unclosed_chains():
    # an open chain (one edge removed) polygonizes to nothing
    outer = _rect_ring(0.0, 0.0, 4.0, 4.0)
    lines = [outer[0:2], outer[1:3], outer[2:4]]  # missing the closing edge
    assert G.merge_lines_to_rings(lines) == []
    # a closed single-way ring survives as-is
    rings = G.merge_lines_to_rings([outer])
    assert len(rings) == 1 and abs(G.multipolygon_area([[rings[0]]]) - 16.0) < 1e-12


def test_assembly_inner_outside_outer_becomes_own_polygon():
    # symmetric_difference semantics (common.py:67-68): an inner ring NOT
    # contained in any outer adds area instead of subtracting it
    outer = [_rect_ring(0.0, 0.0, 2.0, 2.0)]
    inner = [_rect_ring(10.0, 10.0, 1.0, 1.0)]
    mp = G.assemble_relation_polygon(outer, inner)
    assert len(mp) == 2
    assert abs(G.multipolygon_area(mp) - 5.0) < 1e-12


# --- shapefile writer fuzz (S9) ---------------------------------------------


@given(st.integers(0, 10**6), st.integers(1, 6), st.booleans())
@settings(max_examples=25, deadline=None)
def test_shapefile_roundtrip_random(seed, n_polys, with_holes):
    import tempfile

    from osm_admin_boundary_conflation_spark.functions import geometry as GG
    from osm_admin_boundary_conflation_spark.sources.shapefile_sink import (
        FIELDS,
        read_shapefile,
        write_shapefile,
    )

    rng = np.random.default_rng(seed)
    polys = []
    for p in range(n_polys):
        x0 = float(rng.uniform(-170, 160))
        y0 = float(rng.uniform(-80, 70))
        w, h = float(rng.uniform(0.5, 8)), float(rng.uniform(0.5, 8))
        rings = [f"({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, {x0} {y0 + h}, {x0} {y0})"]
        if with_holes:
            hx, hy = x0 + w / 4, y0 + h / 4
            rings.append(
                f"({hx} {hy}, {hx + w / 4} {hy}, {hx + w / 4} {hy + h / 4}, {hx} {hy + h / 4}, {hx} {hy})"
            )
        polys.append("(" + ", ".join(rings) + ")")
    wkt = "MULTIPOLYGON (" + ", ".join(polys) + ")"
    row = {"wkt": wkt, **{k: f"v{seed % 97}" for k in FIELDS}}

    with tempfile.TemporaryDirectory() as td:
        base = f"{td}/fuzz"
        stats = write_shapefile([row], base)
        (rec,) = read_shapefile(base)
    n_rings = n_polys * (2 if with_holes else 1)
    assert len(rec["rings"]) == n_rings
    # total ring area magnitude conserved; orientation signs per spec
    src = GG.parse_wkt(wkt)
    src_rings = [r for poly in src for r in poly]
    got_areas = sorted(
        abs(0.5 * sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(r, r[1:] + r[:1])))
        for r in rec["rings"]
    )
    want_areas = sorted(abs(GG.ring_area_signed(r)) for r in src_rings)
    assert np.allclose(got_areas, want_areas)
    assert rec["properties"]["level9id"] == f"v{seed % 97}"


def test_shapefile_null_shape_and_multibyte_truncation(tmp_path):
    """ADVICE r02: empty geometries become spec Null Shape records (no
    min()-of-empty crash) and DBF truncation never splits a UTF-8 char."""
    import osm_admin_boundary_conflation_spark.functions.geometry as G
    from osm_admin_boundary_conflation_spark.sources.shapefile_sink import (
        _truncate_utf8,
        read_shapefile,
        write_shapefile,
    )

    # 3-byte chars: 80 bytes falls mid-char -> cut back to 78 (26 chars)
    assert _truncate_utf8(("\u20ac" * 30).encode()) == ("\u20ac" * 26).encode()
    # 2-byte chars at an exact boundary: 40 chars survive
    assert _truncate_utf8(("\u017d" * 45).encode()) == ("\u017d" * 40).encode()
    assert _truncate_utf8(b"x" * 79) == b"x" * 79

    rows = [
        {"wkt": "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))", "level9id": "a",
         "level9name": "\u20ac" * 30},
    ]
    base = str(tmp_path / "t")
    write_shapefile(rows, base)
    recs = read_shapefile(base)
    assert recs[0]["properties"]["level9name"] == "\u20ac" * 26

    # empty multipolygon -> Null Shape record that round-trips alongside
    # a real polygon (and an all-empty file gets the zero bbox)
    orig = G.parse_wkt

    def parse_empty_aware(w):
        return [] if w == "POLYGON EMPTY" else orig(w)

    try:
        G.parse_wkt = parse_empty_aware
        base2 = str(tmp_path / "mixed")
        write_shapefile(
            [{"wkt": "POLYGON EMPTY", "level9id": "z"}, rows[0]], base2
        )
        recs2 = read_shapefile(base2)
        assert recs2[0]["rings"] == []
        assert len(recs2[1]["rings"]) == 1

        base3 = str(tmp_path / "allempty")
        stats = write_shapefile([{"wkt": "POLYGON EMPTY", "level9id": "z"}], base3)
        assert stats["bbox"] == (0.0, 0.0, 0.0, 0.0)
        assert read_shapefile(base3)[0]["rings"] == []
    finally:
        G.parse_wkt = orig
