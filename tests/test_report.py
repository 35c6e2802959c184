"""S12 HTML report artifact (conflate-report.py + index_template.html)."""

import re

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark import datagen_osm
from osm_admin_boundary_conflation_spark.operators import conflation as CF
from osm_admin_boundary_conflation_spark.report import write_report


def test_report_artifact_counts_and_links(spark, sf_dir, tmp_path):
    world = datagen_osm.build_osm_world(spark, sf_dir)
    verdicts = CF.conflate(
        world["src_ways"],
        world["src_rels"],
        world["osm_ways"],
        world["osm_node_tags"],
        world["osm_rels"],
    )
    path = str(tmp_path / "report.html")
    stats = write_report(verdicts, path, max_grid_rows=500)
    html = open(path, encoding="utf-8").read()

    # the one per-verdict aggregate agrees with independent counts
    assert stats["total_ways"] == verdicts.count()
    assert stats["ways_with_osm"] == verdicts.filter(F.col("osm_way_id").isNotNull()).count()

    # stats embedded verbatim
    assert f"<strong>Total ways</strong> &mdash; {stats['total_ways']}" in html
    assert f"<strong>Ways found in OSM</strong> &mdash; {stats['ways_with_osm']}" in html
    for verdict, n in stats["count_per_error"]:
        pct = 100.0 * n / stats["total_ways"]
        assert f"<strong>{verdict}</strong> &mdash; {n} ({pct:.2f}%)" in html

    # linkified contexts by entity type (conflate-report.py:49-62)
    assert re.search(r'openstreetmap\.org/way/105\d+', html)  # multiple-candidates ways
    assert re.search(r'openstreetmap\.org/node/5\d{9,}', html)  # tagged nodes
    assert re.search(r'openstreetmap\.org/relation/300\d+', html)  # other relations
    assert re.search(r'<td>\d+\.\d{2}m</td>', html)  # endpoint distance format

    # the reference's [0:-1] grid quirk: one fewer row than collected
    n_rows = html.count("<tr><td>")
    assert n_rows == stats["grid_rows"] == 500 - 1


def test_shapefile_sink_roundtrip(spark, sf_dir, tmp_path):
    """S9 (inputcsv2shp.py): write the cadastre boundaries as an ESRI
    shapefile (from-scratch writer, no fiona/pyshp) and parse the
    binary back — geometry, ring orientation, bbox, and all 8 dBase
    attributes round-trip."""
    import struct

    from osm_admin_boundary_conflation_spark import datagen
    from osm_admin_boundary_conflation_spark.functions import geometry as G
    from osm_admin_boundary_conflation_spark.sources.shapefile_sink import (
        read_shapefile,
        write_shapefile,
    )

    rows = [
        {
            "wkt": r["wkt"],
            "level9id": r["level9_id"],
            "level9name": r["level9_name"],
            "level8id": r["level8_id"],
            "level8name": r["level8_name"],
            "level7id": r["level7_id"],
            "level7name": r["level7_name"],
            "level6id": r["level6_id"],
            "level6name": r["level6_name"],
        }
        for r in sorted(
            datagen.build_boundaries(spark, sf_dir).collect(),
            key=lambda r: int(r["level9_id"]),
        )
    ]
    base = str(tmp_path / "boundaries")
    stats = write_shapefile(rows, base)
    assert stats["n_records"] == len(rows) == 25
    assert stats["bbox"] == (10.0, 35.0, 40.0, 45.0)

    back = read_shapefile(base)
    assert len(back) == 25
    for src, got in zip(rows, back):
        mp = G.parse_wkt(src["wkt"])
        ring = mp[0][0]
        got_ring = got["rings"][0]
        # same vertex set, clockwise orientation
        assert len(got_ring) == len(ring)
        assert {(x, y) for x, y in got_ring} == {(float(x), float(y)) for x, y in ring}
        area = 0.5 * sum(
            x1 * y2 - x2 * y1
            for (x1, y1), (x2, y2) in zip(got_ring, got_ring[1:] + got_ring[:1])
        )
        assert area <= 0  # shapefile outer rings are clockwise
        assert got["properties"]["level9id"] == src["level9id"]
        assert got["properties"]["level8id"] == src["level8id"]
        assert got["properties"]["level6id"] == "d0"
        assert got["properties"]["level7name"] is None

    # .shx index consistent with .shp record layout
    shx = open(base + ".shx", "rb").read()
    assert struct.unpack(">i", shx[:4])[0] == 9994
    n_idx = (len(shx) - 100) // 8
    assert n_idx == 25
    # a multipolygon with a hole also writes (outer CW + hole CCW parts)
    hole_rows = [
        {
            "wkt": "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1)), ((10 10, 11 10, 11 11, 10 11, 10 10)))",
            **{k: "x" for k in ("level9id", "level9name", "level8id", "level8name",
                                 "level7id", "level7name", "level6id", "level6name")},
        }
    ]
    base2 = str(tmp_path / "holes")
    write_shapefile(hole_rows, base2)
    (rec,) = read_shapefile(base2)
    assert len(rec["rings"]) == 3
    areas = [
        0.5 * sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(r, r[1:] + r[:1]))
        for r in rec["rings"]
    ]
    assert areas[0] < 0 and areas[1] > 0 and areas[2] < 0  # CW outer, CCW hole, CW outer
