"""Geometry core tests (PIP parity vs brute expectations, hull, WKT,
box-segment intersection) — the numpy analog of GeoMesa's
SparkSQLSpatialRelationshipsTest fixture style (SURVEY.md §5.1)."""

import numpy as np

from geomesa_spark.functions import geometry as geo


SQUARE = np.asarray(
    [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
)
SQ_OFF = np.asarray([0, 5])

# concave "U" shape
U_SHAPE = np.asarray(
    [
        [0.0, 0.0], [9.0, 0.0], [9.0, 9.0], [6.0, 9.0], [6.0, 3.0],
        [3.0, 3.0], [3.0, 9.0], [0.0, 9.0], [0.0, 0.0],
    ]
)
U_OFF = np.asarray([0, 9])

# square with a hole in the middle
HOLE_COORDS = np.vstack(
    [
        SQUARE,
        np.asarray([[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0], [3.0, 3.0]]),
    ]
)
HOLE_OFF = np.asarray([0, 5, 10])


def test_pip_square():
    lon = np.array([5.0, -1.0, 10.5, 9.99, 0.5])
    lat = np.array([5.0, 5.0, 5.0, 9.99, 0.5])
    got = geo.points_in_polygon(lon, lat, SQUARE, SQ_OFF)
    assert got.tolist() == [True, False, False, True, True]


def test_pip_concave():
    lon = np.array([4.5, 4.5, 1.0, 8.0])
    lat = np.array([6.0, 1.5, 6.0, 6.0])  # notch center / below notch / arms
    got = geo.points_in_polygon(lon, lat, U_SHAPE, U_OFF)
    assert got.tolist() == [False, True, True, True]


def test_pip_hole():
    lon = np.array([5.0, 1.0, 5.0])
    lat = np.array([5.0, 1.0, 8.5])
    got = geo.points_in_polygon(lon, lat, HOLE_COORDS, HOLE_OFF)
    assert got.tolist() == [False, True, True]


def test_pip_matches_oracle_formula_on_random():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-2, 12, 2000)
    lat = rng.uniform(-2, 12, 2000)
    got = geo.points_in_polygon(lon, lat, U_SHAPE, U_OFF)
    # brute reimplementation of the DuckDB oracle SQL, edge by edge
    x1, y1, x2, y2 = geo.polygon_edges(U_SHAPE, U_OFF)
    cnt = np.zeros(len(lon), dtype=int)
    for a, b, c, d in zip(x1, y1, x2, y2):
        straddle = (b > lat) != (d > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (c - a) * (lat - b) / (d - b) + a
        cnt += (straddle & (lon < xi)).astype(int)
    assert (got == (cnt % 2 == 1)).all()


def test_haversine_known():
    # Paris (2.3522, 48.8566) ↔ London (-0.1276, 51.5072) ≈ 343-344 km
    d = geo.haversine_m(2.3522, 48.8566, -0.1276, 51.5072)
    assert 340_000 < d < 348_000
    assert geo.haversine_m(5.0, 5.0, 5.0, 5.0) == 0.0


def test_area_and_centroid():
    assert abs(geo.polygon_area_deg2(SQUARE, SQ_OFF) - 100.0) < 1e-9
    # hole subtracts 16
    assert abs(geo.polygon_area_deg2(HOLE_COORDS, HOLE_OFF) + 16 - 100.0) < 1e-9
    _a, cx, cy = geo.polygon_area_centroid(SQUARE, SQ_OFF)
    assert abs(cx - 5.0) < 1e-9 and abs(cy - 5.0) < 1e-9


def test_convex_hull():
    lon = np.array([0.0, 10.0, 10.0, 0.0, 5.0, 5.0])
    lat = np.array([0.0, 0.0, 10.0, 10.0, 5.0, 2.0])
    hull = geo.convex_hull(lon, lat)
    # square corners only, closed ring
    assert len(hull) == 5
    assert (hull[0] == hull[-1]).all()
    assert abs(geo.polygon_area_deg2(hull, np.asarray([0, len(hull)])) - 100.0) < 1e-9


def test_segment_box():
    hit = geo.segments_intersect_box(
        np.array([-5.0, -5.0, 11.0, 2.0]),
        np.array([5.0, 20.0, 11.0, 2.0]),
        np.array([15.0, -4.0, 12.0, 3.0]),
        np.array([5.0, 21.0, 12.0, 3.0]),
        0.0, 0.0, 10.0, 10.0,
    )
    assert hit.tolist() == [True, False, False, True]


def test_box_intersects_polygon():
    assert geo.box_intersects_polygon(4.0, 4.0, 6.0, 6.0, U_SHAPE, U_OFF) is True  # notch edges pass through? box 4-6 x 4-6 sits inside notch
    # box fully inside the notch (no edges, no vertices inside each other) → False
    assert geo.box_intersects_polygon(4.0, 5.0, 5.0, 6.0, U_SHAPE, U_OFF) is False
    assert geo.box_intersects_polygon(-5.0, -5.0, 20.0, 20.0, U_SHAPE, U_OFF) is True
    assert geo.box_intersects_polygon(1.0, 1.0, 2.0, 2.0, SQUARE, SQ_OFF) is True


def test_antimeridian_split():
    parts = geo.split_antimeridian(170.0, -10.0, -170.0, 10.0)
    assert parts == [(170.0, -10.0, 180.0, 10.0), (-180.0, -10.0, -170.0, 10.0)]
    assert geo.split_antimeridian(-10.0, 0.0, 10.0, 5.0) == [(-10.0, 0.0, 10.0, 5.0)]


def test_wkt_round_trip():
    kind, coords, off = geo.parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))")
    assert kind == "POLYGON"
    assert len(off) == 3
    txt = geo.wkt_polygon(coords, off)
    kind2, coords2, off2 = geo.parse_wkt(txt)
    assert np.allclose(coords, coords2)
    k, c, o = geo.parse_wkt("POINT (3.5 -7.25)")
    assert k == "POINT" and c[0, 0] == 3.5 and c[0, 1] == -7.25


def test_buffer_point_contains_center_near_radius():
    ring = geo.buffer_points(10.0, 45.0, 1000.0)[0]
    off = np.asarray([0, len(ring)])
    assert geo.points_in_polygon(np.array([10.0]), np.array([45.0]), ring, off)[0]
    d = geo.haversine_m(10.0, 45.0, ring[:, 0], ring[:, 1])
    assert np.all((d > 900.0) & (d < 1100.0))


def test_crosses_exact_jts_semantics():
    """JTS crosses = dim(I(a) ∩ I(b)) is a point (lines) / lower-dim
    geometry splits interior-and-exterior (mixed dims). Round-3 fix:
    vertex-touch crossings (no transversal edge pair) and MULTIPOINT
    splits now classify correctly."""
    def R(a, b):
        return geo.relate_geoms(*geo.parse_wkt(a), *geo.parse_wkt(b))

    # interior-vertex contact between line interiors: crosses, not touches
    r = R("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 1 1, 2 0)")
    assert geo.de9im(r) == "0F1FF0102"
    assert geo.pred_crosses(r) and not geo.pred_touches(r)
    # a multipoint with members inside and outside a polygon crosses it
    r = R("MULTIPOINT ((1 1), (20 20))", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert geo.pred_crosses(r)
    # inside + on-boundary is NOT crosses (I(a)∩E(b) is empty)
    r = R("MULTIPOINT ((1 1), (0 5))", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert not geo.pred_crosses(r)
    # a single point can never cross
    r = R("POINT (1 1)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert not geo.pred_crosses(r)
    # collinear overlap is overlaps, not crosses
    r = R("LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)")
    assert geo.pred_overlaps(r) and not geo.pred_crosses(r)


def test_line_centroid_length_weighted():
    """JTS centroid of a line is length-weighted, not vertex-mean: a
    polyline with many vertices bunched at one end must not drag the
    centroid toward them."""
    # L-shape (0,0)->(10,0)->(10,10): segment midpoints (5,0) & (10,5), equal lengths
    k, c, o = geo.parse_wkt("LINESTRING (0 0, 10 0, 10 10)")
    x, y = geo.line_centroid(c, o)
    assert (x, y) == (7.5, 2.5)
    # vertex-dense tail must not shift the result
    k, c, o = geo.parse_wkt("LINESTRING (0 0, 1 0, 2 0, 3 0, 4 0, 10 0)")
    x, y = geo.line_centroid(c, o)
    assert abs(x - 5.0) < 1e-12 and y == 0.0
    # multilinestring: two equal-length parts average their midpoints
    k, c, o = geo.parse_wkt("MULTILINESTRING ((0 0, 10 0), (0 10, 10 10))")
    x, y = geo.line_centroid(c, o)
    assert (x, y) == (5.0, 5.0)
