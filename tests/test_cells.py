import numpy as np

from osm_admin_boundary_conflation_spark.functions import cells as C
from osm_admin_boundary_conflation_spark.functions import geometry as G


def test_encode_roundtrip_bounds():
    ids = C.encode_cells([20.46], [44.81], res=6)
    assert ids[0].startswith("r6:")
    lo_lon, lo_lat, hi_lon, hi_lat = C.cell_bounds(ids[0])
    assert lo_lon <= 20.46 < hi_lon
    assert lo_lat <= 44.81 < hi_lat


def test_hierarchy():
    (cid,) = C.encode_cells([20.46], [44.81], res=6)
    (pid,) = C.encode_cells([20.46], [44.81], res=5)
    assert C.parent_cell(cid) == pid


def test_cover_bbox_counts():
    size = C.cell_size_deg(6)  # 0.0625 deg
    cells = C.cover_bbox(20.0, 44.0, 20.0 + 2 * size, 44.0 + size, res=6)
    # spans 3 columns x 2 rows (inclusive of edges)
    assert len(cells) == 6


def test_cover_polygon_filters_corners():
    # a thin diagonal triangle should NOT cover every bbox cell
    tri = np.array([[20.0, 44.0], [20.5, 44.0], [20.0, 44.5], [20.0, 44.0]])
    mp = [[tri]]
    covered = set(C.cover_polygon(mp, res=6))
    bbox_cells = set(C.cover_bbox(*G.bbox(mp), res=6))
    assert covered <= bbox_cells
    assert len(covered) < len(bbox_cells)
    # every cell containing a vertex is covered
    for lon, lat in tri[:-1]:
        (cid,) = C.encode_cells([lon], [lat], res=6)
        assert cid in covered
    # covering is CONSERVATIVE: every cell whose center is inside is covered
    size = C.cell_size_deg(6)
    for cid in bbox_cells:
        lo_lon, lo_lat, hi_lon, hi_lat = C.cell_bounds(cid)
        center = np.array([[(lo_lon + hi_lon) / 2, (lo_lat + hi_lat) / 2]])
        if G.points_in_multipolygon(center, mp)[0]:
            assert cid in covered, cid


def test_cover_polygon_adaptive_coarsens():
    # a huge polygon must coarsen resolution to fit MAX_COVER_CELLS
    big = np.array([[0.0, 0.0], [30.0, 0.0], [30.0, 20.0], [0.0, 20.0], [0.0, 0.0]])
    cover = [c for c, _ in C.cover_polygon_adaptive_full([[big]], base_res=6, max_cells=256)]
    assert 0 < len(cover) <= 256
    res = int(cover[0].split(":")[0][1:])
    assert res < 6
    # a small polygon keeps base resolution
    small = np.array([[20.0, 44.0], [20.1, 44.0], [20.1, 44.1], [20.0, 44.1], [20.0, 44.0]])
    cover_s = [c for c, _ in C.cover_polygon_adaptive_full([[small]], base_res=6, max_cells=256)]
    assert cover_s[0].startswith("r6:")


def test_determinism():
    a = C.encode_cells(np.linspace(-179, 179, 100), np.linspace(-89, 89, 100), res=7)
    b = C.encode_cells(np.linspace(-179, 179, 100), np.linspace(-89, 89, 100), res=7)
    assert list(a) == list(b)


def test_geohash_matches_successive_halving():
    """The closed-form integer geohash (quantize to 20 bits/axis,
    interleave, base-32) must equal the textbook successive-halving
    encoder on the same millidegree grid points."""
    from osm_admin_boundary_conflation_spark.queries import _GEOHASH_ALPHABET

    def ref_geohash(lat, lon, chars=8):
        lat_lo, lat_hi = -90.0, 90.0
        lon_lo, lon_hi = -180.0, 180.0
        bits, out, even = 0, [], True
        val = 0
        for _ in range(chars * 5):
            if even:
                mid = (lon_lo + lon_hi) / 2
                if lon >= mid:
                    val = (val << 1) | 1
                    lon_lo = mid
                else:
                    val = val << 1
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if lat >= mid:
                    val = (val << 1) | 1
                    lat_lo = mid
                else:
                    val = val << 1
                    lat_hi = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(_GEOHASH_ALPHABET[val])
                bits, val = 0, 0
        return "".join(out)

    ids = [0, 1, 17, 999, 123456, 7777777]
    for i in ids:
        lat_md = (i * 37) % 180000
        lon_md = (i * 91) % 360000
        lat_b = lat_md * 1048576 // 180000
        lon_b = lon_md * 1048576 // 360000
        z = 0
        for k in range(20):
            z |= ((lon_b >> k) & 1) << (2 * k + 1)
            z |= ((lat_b >> k) & 1) << (2 * k)
        gh = "".join(
            _GEOHASH_ALPHABET[(z >> (35 - 5 * j)) & 31] for j in range(8)
        )
        # successive halving on the exact millidegree coordinates: the
        # first 20 halvings of each axis reproduce the 20-bit quantization
        want = ref_geohash(lat_md / 1000.0 - 90.0, lon_md / 1000.0 - 180.0)
        assert gh == want, (i, gh, want)


def test_cover_polygon_full_flag_sound():
    """Every point sampled inside a full=True cell must be inside the
    polygon, and the flagged covering's cell SET must equal
    cover_polygon's exactly."""
    import numpy as np

    from osm_admin_boundary_conflation_spark.functions import cells as C
    from osm_admin_boundary_conflation_spark.functions import geometry as G

    rng = np.random.default_rng(13)
    for trial in range(12):
        # random star-convex polygon around a random center
        cx, cy = rng.uniform(10, 30), rng.uniform(36, 44)
        angs = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(5, 12)))
        rad = rng.uniform(0.3, 2.5, len(angs))
        ring = np.column_stack([cx + rad * np.cos(angs), cy + rad * np.sin(angs)])
        ring = np.vstack([ring, ring[:1]])
        mp = [[ring]]
        res = 5
        flagged = C.cover_polygon_full(mp, res)
        assert [c for c, _ in flagged] == C.cover_polygon(mp, res)
        for cell, full in flagged:
            if not full:
                continue
            lo_lon, lo_lat, hi_lon, hi_lat = C.cell_bounds(cell)
            xs = rng.uniform(lo_lon, hi_lon, 16)
            ys = rng.uniform(lo_lat, hi_lat, 16)
            pts = np.column_stack([xs, ys])
            corners = np.array(
                [[lo_lon, lo_lat], [hi_lon, lo_lat], [hi_lon, hi_lat], [lo_lon, hi_lat]]
            )
            probe = np.vstack([pts, corners])
            assert G.points_in_multipolygon(probe, mp).all(), (trial, cell)
