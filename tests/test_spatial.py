import math

import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    bbox_contains_point,
    lonlat_to_mercator,
    make_box_wkb_udf,
    make_points_in_polys_udf,
    make_reproject_udf,
    mercator_to_lonlat,
    parse_wkb_polygons,
    point_in_polygon_wkb,
    reproject_point,
    validate_lonlat,
    wkb_bounds,
    wkb_box,
    wkb_bbox_udf,
    wkb_point,
    wkb_polygon,
)
from govgis_nov2023_slim_spatial_server_spark.sources.ingest import derive_bbox


def test_wkb_roundtrip_box():
    w = wkb_box(-10.0, 20.0, -5.0, 25.0)
    polys = parse_wkb_polygons(w)
    assert len(polys) == 1 and len(polys[0]) == 1
    assert wkb_bounds(w) == (-10.0, 20.0, -5.0, 25.0)


def test_point_in_polygon_basic():
    w = wkb_box(0.0, 0.0, 10.0, 10.0)
    assert point_in_polygon_wkb(w, 5.0, 5.0)
    assert not point_in_polygon_wkb(w, 15.0, 5.0)
    assert not point_in_polygon_wkb(w, -0.1, 5.0)


def test_point_in_polygon_with_hole():
    w = wkb_polygon(
        [
            [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
            [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)],  # hole
        ]
    )
    assert point_in_polygon_wkb(w, 2.0, 2.0)
    assert not point_in_polygon_wkb(w, 5.0, 5.0)  # inside the hole


def test_point_in_nonconvex():
    # L-shaped polygon
    w = wkb_polygon([[(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)]])
    assert point_in_polygon_wkb(w, 1.0, 3.0)
    assert point_in_polygon_wkb(w, 3.0, 1.0)
    assert not point_in_polygon_wkb(w, 3.0, 3.0)


def test_wkb_point_and_none():
    assert wkb_bounds(wkb_point(3.0, 4.0)) == (3.0, 4.0, 3.0, 4.0)
    assert wkb_bounds(None) is None
    assert not point_in_polygon_wkb(None, 0, 0)
    assert wkb_bounds(b"\x01\x99\x00\x00\x00") is None  # bad type byte → None


def test_bbox_udf_and_prune(spark):
    rows = [(1, wkb_box(0, 0, 2, 2)), (2, wkb_box(5, 5, 9, 9)), (3, None)]
    df = spark.createDataFrame(rows, "id: long, geom_wkb: binary")
    out = derive_bbox(df)
    got = {r["id"]: r["bbox"] for r in out.collect()}
    assert got[1]["xmin"] == 0.0 and got[1]["ymax"] == 2.0
    assert got[3]["xmin"] is None
    hits = out.where(bbox_contains_point("bbox", 1.0, 1.5)).select("id").collect()
    assert [r["id"] for r in hits] == [1]


def test_exact_intersects_udf(spark):
    rows = [(1, wkb_box(0, 0, 2, 2)), (2, wkb_box(5, 5, 9, 9)), (3, None)]
    df = spark.createDataFrame(rows, "id: long, geom_wkb: binary")
    refine = make_points_in_polys_udf()(F.col("geom_wkb"), F.lit(6.0), F.lit(6.0))
    got = {r["id"]: r["hit"] for r in df.select("id", refine.alias("hit")).collect()}
    assert got == {1: False, 2: True, 3: False}  # NULL geometry refines False
    out = df.where(refine)
    assert [r["id"] for r in out.collect()] == [2]


def test_box_wkb_udf_matches_python(spark):
    df = spark.createDataFrame([(1, -10.0, 20.0, -5.0, 25.0)], "id: long, a: double, b: double, c: double, d: double")
    out = df.select(make_box_wkb_udf()(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("w")).first()
    assert bytes(out["w"]) == wkb_box(-10.0, 20.0, -5.0, 25.0)


def test_mercator_roundtrip():
    for lon, lat in [(-100.0, 40.0), (0.0, 0.0), (179.0, -60.0)]:
        x, y = lonlat_to_mercator(lon, lat)
        lon2, lat2 = mercator_to_lonlat(x, y)
        assert lon2 == pytest.approx(lon, abs=1e-9)
        assert lat2 == pytest.approx(lat, abs=1e-9)
    # EPSG:3857 reference value: lon=1° → x ≈ 111319.49079327358
    x, _ = lonlat_to_mercator(1.0, 0.0)
    assert x == pytest.approx(111319.49079327358, rel=1e-12)


def test_reproject_point_dispatch():
    assert reproject_point(5, 6, 4326, 4326) == (5, 6)
    x, y = reproject_point(-100.0, 40.0, 4326, 3857)
    assert (x, y) == lonlat_to_mercator(-100.0, 40.0)
    with pytest.raises(ValueError):
        reproject_point(0, 0, 9999, 4326)


def test_reproject_udf(spark):
    df = spark.createDataFrame([(i, float(-120 + i), float(30 + i)) for i in range(5)], "id: long, lon: double, lat: double")
    ux, uy = make_reproject_udf(4326, 3857)
    rows = df.select("lon", "lat", ux(F.col("lon"), F.col("lat")).alias("x"), uy(F.col("lon"), F.col("lat")).alias("y")).collect()
    for r in rows:
        ex, ey = lonlat_to_mercator(r["lon"], r["lat"])
        assert r["x"] == pytest.approx(ex, rel=1e-12)
        assert r["y"] == pytest.approx(ey, rel=1e-12)


def test_validate_lonlat():
    validate_lonlat(-180, -90)
    with pytest.raises(ValueError):
        validate_lonlat(181, 0)
    with pytest.raises(ValueError):
        validate_lonlat(0, -91)


def test_multipolygon_and_big_endian():
    import struct

    # two disjoint boxes as a multipolygon (little-endian)
    p1 = wkb_box(0, 0, 1, 1)
    p2 = wkb_box(5, 5, 6, 6)
    mp = struct.pack("<BII", 1, 6, 2) + p1 + p2
    assert wkb_bounds(mp) == (0.0, 0.0, 6.0, 6.0)
    assert point_in_polygon_wkb(mp, 0.5, 0.5)
    assert point_in_polygon_wkb(mp, 5.5, 5.5)
    assert not point_in_polygon_wkb(mp, 3.0, 3.0)


def test_wkb_linestring_and_collections_tolerated():
    """LineString/MultiPoint/MultiLineString/GeometryCollection WKB must
    parse (bounds) and contribute no interior (containment) instead of
    raising and being silently dropped."""
    import struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        point_in_polygon_wkb,
        wkb_bounds,
        wkb_point,
    )

    def linestring(pts):
        out = [struct.pack("<BI", 1, 2), struct.pack("<I", len(pts))]
        out += [struct.pack("<dd", x, y) for x, y in pts]
        return b"".join(out)

    ls = linestring([(0.0, 0.0), (2.0, 1.0), (4.0, -1.0)])
    assert wkb_bounds(ls) == (0.0, -1.0, 4.0, 1.0)
    assert point_in_polygon_wkb(ls, 2.0, 1.0) is True      # vertex hit
    assert point_in_polygon_wkb(ls, 2.0, 0.0) is False     # no interior

    mp = b"".join(
        [struct.pack("<BI", 1, 4), struct.pack("<I", 2),
         wkb_point(1.0, 2.0), wkb_point(-3.0, 5.0)]
    )
    assert wkb_bounds(mp) == (-3.0, 2.0, 1.0, 5.0)
    assert point_in_polygon_wkb(mp, -3.0, 5.0) is True

    mls = b"".join(
        [struct.pack("<BI", 1, 5), struct.pack("<I", 2),
         linestring([(0.0, 0.0), (1.0, 1.0)]),
         linestring([(5.0, 5.0), (6.0, 7.0)])]
    )
    assert wkb_bounds(mls) == (0.0, 0.0, 6.0, 7.0)

    gc = b"".join(
        [struct.pack("<BI", 1, 7), struct.pack("<I", 2),
         wkb_point(9.0, 9.0),
         linestring([(0.0, 0.0), (1.0, 0.0)])]
    )
    assert wkb_bounds(gc) == (0.0, 0.0, 9.0, 9.0)
    # truly malformed bytes still degrade to None, never raise
    assert wkb_bounds(b"\x01\xff\xff") is None


def test_malformed_wkb_never_crashes_predicates():
    """The refine UDFs convert parse failures to refine-to-False via
    (ValueError, struct.error) — so the parser must only ever raise those
    on ARBITRARY bytes: truncated buffers, huge claimed counts (frombuffer
    must reject, never allocate), unknown types/endianness, and crafted
    deep GEOMETRYCOLLECTION nesting (bounded at depth 32; RecursionError
    would crash an executor task)."""
    import struct as _struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        point_in_polygon_wkb,
        polygons_intersect_wkb,
        wkb_bounds,
        wkb_polygon,
    )

    square = wkb_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]])

    adversarial = [
        b"",
        b"\x01",
        b"\x01\x03\x00\x00",  # truncated header
        _struct.pack("<BI", 1, 3),  # polygon, no ring count
        _struct.pack("<BII", 1, 3, 0xFFFFFFFF),  # 4G rings claimed
        _struct.pack("<BIII", 1, 3, 1, 0xFFFFFFFF),  # 4G points claimed
        _struct.pack("<BI", 1, 99),  # unknown geometry type
        _struct.pack(">BI", 0, 3) + b"\x00" * 8,  # big-endian truncated
        # 2000-deep nested GEOMETRYCOLLECTION (each level 9 bytes): must
        # raise ValueError at the depth bound, not RecursionError
        _struct.pack("<BII", 1, 7, 1) * 2000,
    ]
    rng = np.random.RandomState(99)
    fuzz = [rng.bytes(int(rng.randint(1, 120))) for _ in range(300)]

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_area_centroid,
    )

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_length_npoints,
    )

    for w in adversarial + fuzz:
        # predicates must return a bool, never raise
        assert polygons_intersect_wkb(w, square) in (True, False)
        assert polygons_intersect_wkb(square, w) in (True, False)
        assert point_in_polygon_wkb(w, 1.0, 1.0) in (True, False)
        wkb_bounds(w)  # None or a tuple, never an exception
        # r8 kernels share the same never-raise contract
        area, cx, cy = wkb_area_centroid(w)
        assert area is None or isinstance(area, float)
        # r9: the linear-geometry walker too (its own typed traversal)
        ln, npts = wkb_length_npoints(w)
        assert ln is None or isinstance(ln, float)
        assert (ln is None) == (npts is None)


def test_mercator_roundtrip_randomized():
    """Forward→inverse identity over the full valid domain (web-mercator
    clips latitude at ±85.051129°): 2000 random points, 1e-9° tolerance
    (≈ 0.1 mm) — catches any drift in the hand-rolled ln/tan/atan/exp
    forms that three fixed points cannot."""
    import numpy as np

    rng = np.random.RandomState(31)
    lons = rng.uniform(-180.0, 180.0, 2000)
    lats = rng.uniform(-85.0, 85.0, 2000)
    for lon, lat in zip(lons, lats):
        x, y = lonlat_to_mercator(float(lon), float(lat))
        lon2, lat2 = mercator_to_lonlat(x, y)
        assert abs(lon2 - lon) < 1e-9
        assert abs(lat2 - lat) < 1e-9


def test_wkb_linestring_roundtrip_randomized():
    """Encode→walk vertex fidelity on random polylines: every coordinate
    (arbitrary float64, not just lattice values) must survive the codec
    bit-exactly, in document order, through LINESTRING, MULTILINESTRING,
    nested GEOMETRYCOLLECTION wrapping, and a hand-built BIG-ENDIAN
    linestring (the writers emit little-endian only, but the walker must
    read either byte order)."""
    import struct as _struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_linestring,
        wkb_linestrings,
        wkb_multilinestring,
        wkb_point,
        wkb_polygon,
    )

    rng = np.random.RandomState(1234)
    for _ in range(50):
        n_lines = int(rng.randint(1, 4))
        lines = [
            [tuple(rng.uniform(-1e6, 1e6, 2)) for _ in range(int(rng.randint(2, 9)))]
            for _ in range(n_lines)
        ]
        if n_lines == 1 and rng.rand() < 0.5:
            wkb = wkb_linestring(lines[0])
        else:
            wkb = wkb_multilinestring(lines)
        # wrap in a GEOMETRYCOLLECTION with non-linear distractors
        if rng.rand() < 0.5:
            wkb = (
                _struct.pack("<BII", 1, 7, 3)
                + wkb_point(*map(float, rng.uniform(-10, 10, 2)))
                + wkb
                + wkb_polygon([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]])
            )
        got = wkb_linestrings(wkb)
        assert len(got) == n_lines
        for arr, pts in zip(got, lines):
            assert arr.shape == (len(pts), 2)
            for (gx, gy), (x, y) in zip(arr, pts):
                assert gx == x and gy == y  # bit-exact, not approx

    # big-endian LINESTRING, built by hand
    pts = [(1.5, -2.25), (3.75, 4.125), (-0.5, 0.0625)]
    be = _struct.pack(">BII", 0, 2, len(pts)) + b"".join(
        _struct.pack(">dd", x, y) for x, y in pts
    )
    (arr,) = wkb_linestrings(be)
    assert [tuple(p) for p in arr] == pts
