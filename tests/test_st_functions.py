"""st_* SQL-surface tests, transcribing the shape of GeoMesa's
SparkSQLSpatialRelationshipsTest / GeometricDistanceTest /
GeometricConstructorsTest (SURVEY.md §5.1): a WKT box grid + probe
points with exact expected id sets, via BOTH the DataFrame API and
SQL-registered functions."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions import st_functions as ST


@pytest.fixture(scope="module")
def registered(spark):
    ST.register_all(spark)
    return spark


# 3x3 box grid, 10-degree boxes at (10i, 10j)..(10i+10, 10j+10)
BOXES = [
    (i * 3 + j, f"POLYGON (({10*i} {10*j}, {10*i+10} {10*j}, {10*i+10} {10*j+10}, {10*i} {10*j+10}, {10*i} {10*j}))")
    for i in range(3)
    for j in range(3)
]
# probe points: centers of each box + corners + far outside
PROBES = [(b[0], f"POINT ({10*(b[0]//3)+5} {10*(b[0]%3)+5})") for b in BOXES] + [
    (100, "POINT (-50 -50)"),
    (101, "POINT (35 35)"),
]


def test_contains_box_grid_matrix(registered):
    spark = registered
    rows = [(pid, pw, bid, bw) for pid, pw in PROBES for bid, bw in BOXES]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "pw", "bid", "bw"]))
    got = (
        df.where(ST.st_contains(F.col("bw"), F.col("pw")))
        .select("pid", "bid")
        .toPandas()
    )
    # each center probe is inside exactly its own box; outliers in none
    expect = {(i, i) for i in range(9)}
    assert set(map(tuple, got.to_numpy())) == expect


def test_sql_registration_parity(registered):
    spark = registered
    out = spark.sql(
        "select st_contains('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', st_point(5.0d, 5.0d)) a, "
        "st_contains('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', st_point(15.0d, 5.0d)) b, "
        "st_x(st_point(3.5d, -7.25d)) x, st_y(st_point(3.5d, -7.25d)) y"
    ).collect()[0]
    assert out["a"] is True and out["b"] is False
    assert out["x"] == 3.5 and out["y"] == -7.25


def test_constructors_accessors(registered):
    spark = registered
    df = spark.range(1).select(
        ST.st_makeBBOX(F.lit(-10.0), F.lit(-5.0), F.lit(10.0), F.lit(5.0)).alias("box")
    )
    row = df.select(
        ST.st_area(F.col("box")).alias("area"),
        ST.st_numPoints(F.col("box")).alias("np"),
        ST.st_centroid(F.col("box")).alias("cen"),
        ST.st_envelope(F.col("box")).alias("env"),
    ).collect()[0]
    assert row["area"] == pytest.approx(200.0)
    assert row["np"] == 5
    assert "POINT" in row["cen"]
    kind, c, o = geo.parse_wkt(row["cen"])
    assert c[0, 0] == pytest.approx(0.0) and c[0, 1] == pytest.approx(0.0)
    assert geo.parse_wkt(row["env"])[0] == "POLYGON"


def test_area_and_centroid_ignore_ring_orientation():
    """WKT does not fix ring orientation: a hole wound like its shell is
    still a hole. Both spellings give |shell| − |hole| and the same
    centroid, as a POLYGON, a MULTIPOLYGON member and a
    GEOMETRYCOLLECTION member."""
    shell = "(0 0, 4 0, 4 4, 0 4, 0 0)"
    unit = "((10 10, 11 10, 11 11, 10 11, 10 10))"
    got = []
    for hole in ("(1 1, 1 2, 2 2, 2 1, 1 1)", "(1 1, 2 1, 2 2, 1 2, 1 1)"):  # CW, then CCW
        poly = f"({shell}, {hole})"
        rows = pd.Series(
            [f"POLYGON {poly}", f"MULTIPOLYGON ({poly}, {unit})", f"GEOMETRYCOLLECTION (POLYGON {poly}, POLYGON {unit})"]
        )
        assert list(ST.st_area.func(rows)) == [15.0, 16.0, 16.0]
        got.append(list(ST.st_centroid.func(rows)))
    assert got[0] == got[1]
    (x, y), = geo.parse_wkt(got[0][0])[1]
    assert x == y == pytest.approx((16 * 2.0 - 1.5) / 15)
    (x, y), = geo.parse_wkt(got[0][1])[1]
    assert x == y == pytest.approx((16 * 2.0 - 1.5 + 10.5) / 16)


def test_distance_functions(registered):
    spark = registered
    row = spark.range(1).select(
        ST.st_distance(
            ST.st_point(F.lit(0.0), F.lit(0.0)), ST.st_point(F.lit(3.0), F.lit(4.0))
        ).alias("planar"),
        ST.st_distanceSphere(
            ST.st_point(F.lit(0.0), F.lit(0.0)), ST.st_point(F.lit(0.0), F.lit(1.0))
        ).alias("sphere"),
    ).collect()[0]
    assert row["planar"] == pytest.approx(5.0)
    # one degree of latitude ≈ 111.2 km on the mean-radius sphere
    assert row["sphere"] == pytest.approx(111_194.93, rel=1e-3)


def test_processing_and_output(registered):
    spark = registered
    row = spark.range(1).select(
        ST.st_bufferPoint(F.lit(10.0), F.lit(50.0), F.lit(10000.0)).alias("buf"),
        ST.st_asGeoJSON(F.lit("POINT (1.5 2.5)")).alias("gj"),
        ST.st_convexHull(F.lit("LINESTRING (0 0, 4 0, 4 4, 2 1)")).alias("hull"),
        ST.st_idlSafeGeom(F.lit("POLYGON ((170 0, -170 0, -170 10, 170 10, 170 0))")).alias("idl"),
    ).collect()[0]
    kind, c, o = geo.parse_wkt(row["buf"])
    assert kind == "POLYGON"
    # buffer contains the center
    assert bool(geo.points_in_polygon(np.array([10.0]), np.array([50.0]), c, o)[0])
    gj = json.loads(row["gj"])
    assert gj == {"type": "Point", "coordinates": [1.5, 2.5]}
    hk, hc, ho = geo.parse_wkt(row["hull"])
    assert hk == "POLYGON" and len(hc) == 4  # triangle ring closed (interior point dropped)
    assert row["idl"].startswith("MULTIPOLYGON")


def test_buffer_sql_registration(registered):
    """st_buffer (general planar form, round 4): SQL-registered, planar
    degrees; a negative radius erodes (empty for lower dimensions)."""
    spark = registered
    r = spark.sql("""
        select st_buffer('LINESTRING (0 0, 4 0)', 0.5d) line_buf,
               st_area(st_buffer('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 0.5d)) sq_area,
               st_buffer('POINT (1 1)', -1.0d) neg,
               st_contains(st_buffer('POINT (1 1)', 0.5d), 'POINT (1 1)') ctr
    """).collect()[0]
    k, c, o = geo.parse_wkt(r["line_buf"])
    assert k == "POLYGON"
    # area ≈ 2rL + πr² within the inscribed-arc convention
    assert 0.5 * 2 * 4 < r["sq_area"] <= 16 + 4 * 0.5 * 4 + np.pi * 0.25 + 1e-9
    assert r["sq_area"] > 16 + 8 * 0.9
    assert r["neg"] == "POLYGON EMPTY"  # negative radius erodes a point away
    assert r["ctr"] is True


def test_cell_functions(registered):
    spark = registered
    row = spark.range(1).select(
        ST.st_geoHash(F.lit(2.351), F.lit(48.857), F.lit(9)).alias("gh"),
        ST.st_z2(F.lit(0.0), F.lit(0.0)).alias("z2"),
        ST.st_s2(F.lit(2.351), F.lit(48.857), F.lit(12)).alias("s2"),
    ).collect()[0]
    assert row["gh"].startswith("u09")  # Paris geohash prefix (public fact)
    assert row["z2"] >= 0
    assert row["s2"] != 0


def test_intersects_pairs(registered):
    spark = registered
    pairs = [
        ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))", True),
        ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))", False),
        ("POINT (5 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", True),
        ("POINT (50 50)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", False),
    ]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b", "expect"]))
    got = df.select(ST.st_intersects(F.col("a"), F.col("b")).alias("got"), "expect").collect()
    for r in got:
        assert r["got"] == r["expect"]


# ---------------------------------------------------------------------------
# exact relation predicates (round-2: poly×poly / line kernel)
# ---------------------------------------------------------------------------

SQ = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
SQ_ROT = "POLYGON ((10 0, 10 10, 0 10, 0 0, 10 0))"
SQ_SHIFT = "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"
SQ_FAR = "POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))"
SQ_INNER = "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"
SQ_EDGE = "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"
SQ_CORNER = "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"
HOLED = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1))"
HOLE = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
HOLED_SHELL = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
BOX1 = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
BOX2 = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
BOX2_SHIFT = "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"
CSHAPE = "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))"
NOTCH = "POLYGON ((5 4, 8 4, 8 6, 5 6, 5 4))"  # in C's notch: bbox overlap, disjoint

RELATION_CASES = [
    # (a, b, intersects, touches, overlaps, contains, equals, disjoint)
    (SQ, SQ_SHIFT, True, False, True, False, False, False),
    (SQ, SQ_FAR, False, False, False, False, False, True),
    (SQ, SQ_INNER, True, False, False, True, False, False),
    (SQ, SQ_EDGE, True, True, False, False, False, False),
    (SQ, SQ_CORNER, True, True, False, False, False, False),
    (CSHAPE, NOTCH, False, False, False, False, False, True),
    (SQ, SQ_ROT, True, False, False, True, True, False),
    # SQ_INNER sits in CSHAPE's notch sharing boundary segments: touches
    (CSHAPE, SQ_INNER, True, True, False, False, False, False),
    # a square genuinely inside CSHAPE's bottom bar
    (CSHAPE, "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))",
     True, False, False, True, False, False),
]


def test_polygon_relation_matrix(registered):
    spark = registered
    pdf = pd.DataFrame(RELATION_CASES, columns=[
        "a", "b", "e_int", "e_tch", "e_ovl", "e_con", "e_eq", "e_dis"])
    df = spark.createDataFrame(pdf)
    got = df.selectExpr(
        "e_int", "e_tch", "e_ovl", "e_con", "e_eq", "e_dis",
        "st_intersects(a, b) g_int", "st_touches(a, b) g_tch",
        "st_overlaps(a, b) g_ovl", "st_contains(a, b) g_con",
        "st_equals(a, b) g_eq", "st_disjoint(a, b) g_dis",
    ).collect()
    for r in got:
        for p in ("int", "tch", "ovl", "con", "eq", "dis"):
            assert r[f"g_{p}"] == r[f"e_{p}"], (p, r)


def test_line_relations(registered):
    spark = registered
    rows = spark.sql(f"""
        select
          st_crosses('LINESTRING (-5 5, 15 5)', '{SQ}') c1,
          st_crosses('LINESTRING (0 0, 10 10)', 'LINESTRING (0 10, 10 0)') c2,
          st_crosses('LINESTRING (1 1, 9 9)', '{SQ}') c3,
          st_touches('LINESTRING (10 5, 20 5)', '{SQ}') t1,
          st_overlaps('LINESTRING (0 0, 10 0)', 'LINESTRING (5 0, 15 0)') o1,
          st_covers('{SQ}', 'LINESTRING (1 1, 9 9)') cv1,
          st_coveredBy('LINESTRING (1 1, 9 9)', '{SQ}') cb1
    """).collect()[0]
    assert rows["c1"] and rows["c2"] and not rows["c3"]
    assert rows["t1"] and rows["o1"] and rows["cv1"] and rows["cb1"]


def test_relate_de9im(registered):
    spark = registered
    r = spark.sql(
        f"select st_relate('{SQ}', '{SQ_INNER}') m, "
        f"st_relateBool('{SQ}', '{SQ_INNER}', 'T*****FF*') contains_pat"
    ).collect()[0]
    assert len(r["m"]) == 9 and r["m"][0] == "2"  # interiors meet with dim 2
    assert r["contains_pat"] is True


# ---------------------------------------------------------------------------
# constructors / accessors / output long tail
# ---------------------------------------------------------------------------


def test_wkb_roundtrip(registered):
    spark = registered
    geoms = [SQ, "POINT (2.5 -3.25)", "LINESTRING (0 0, 5 5, 10 0)", CSHAPE]
    df = spark.createDataFrame(pd.DataFrame({"g": geoms}))
    out = df.selectExpr(
        "st_asText(g) canon",
        "st_asText(st_geomFromWKB(st_asBinary(g))) round_trip",
        "length(st_asBinary(g)) nbytes",
    ).collect()
    for r in out:
        assert r["round_trip"] == r["canon"]
        assert r["nbytes"] > 5


def test_constructor_accessor_long_tail(registered):
    spark = registered
    r = spark.sql("""
        select
          st_makeLine(array('POINT (0 0)', 'POINT (5 5)', 'POINT (10 0)')) line,
          st_makePolygon('LINESTRING (0 0, 10 0, 10 10, 0 0)') poly,
          st_pointN('LINESTRING (0 0, 5 5, 10 0)', 2) p2,
          st_pointN('LINESTRING (0 0, 5 5, 10 0)', -1) plast,
          st_exteriorRing('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))') shell,
          st_interiorRingN('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 1) hole,
          st_coordDim('POINT (1 2)') cd,
          st_dimension('LINESTRING (0 0, 1 1)') dim,
          st_geometryType('POLYGON ((0 0, 1 0, 1 1, 0 0))') gt,
          st_translate('POINT (1 2)', 10.0, -1.0) tr
    """).collect()[0]
    assert r["line"] == "LINESTRING (0 0, 5 5, 10 0)"
    assert r["poly"].startswith("POLYGON")
    assert r["p2"] == "POINT (5 5)"
    assert r["plast"] == "POINT (10 0)"
    assert r["shell"].startswith("LINESTRING (0 0")
    assert r["hole"].startswith("LINESTRING (2 2")
    assert r["cd"] == 2 and r["dim"] == 1
    assert r["gt"] == "Polygon"
    assert r["tr"] == "POINT (11 1)"


def test_distance_and_closest_point_general(registered):
    spark = registered
    r = spark.sql(f"""
        select
          st_distance('{SQ}', 'POINT (20 5)') d_poly_pt,
          st_distance('POINT (0 0)', 'POINT (3 4)') d_pp,
          st_distance('{SQ}', '{SQ_INNER}') d_contained,
          st_closestPoint('{SQ}', 'POINT (20 5)') cp
    """).collect()[0]
    assert r["d_poly_pt"] == 10.0
    assert r["d_pp"] == 5.0
    assert r["d_contained"] == 0.0
    assert r["cp"] == "POINT (10 5)"


def test_casts(registered):
    spark = registered
    r = spark.sql(f"""
        select st_castToPoint('POINT (1 2)') p,
               st_castToPoint('{SQ}') notp,
               st_castToPolygon('{SQ}') poly,
               st_castToGeometry('LINESTRING (0 0, 1 1)') g
    """).collect()[0]
    assert r["p"] == "POINT (1 2)" and r["notp"] is None
    assert r["poly"] is not None and r["g"] is not None


def test_geohash_constructors_roundtrip(registered):
    spark = registered
    r = spark.sql("""
        select
          st_pointFromGeoHash(st_geoHash(2.351, 48.857, 9)) p9,
          st_geomFromGeoHash(st_geoHash(2.351, 48.857, 5)) box5,
          st_box2DFromGeoHash(st_geoHash(2.351, 48.857, 5)) box5b,
          st_contains(st_geomFromGeoHash(st_geoHash(2.351, 48.857, 5)), 'POINT (2.351 48.857)') inside,
          st_pointFromText('POINT (1 2)') pt,
          st_lineFromText('LINESTRING (0 0, 1 1)') ln,
          st_polygonFromText('POINT (1 2)') not_poly
    """).collect()[0]
    # 9-char geohash center is within ~1e-4 deg of the input
    import re

    x, y = map(float, re.findall(r"-?[\d.]+", r["p9"]))
    assert abs(x - 2.351) < 1e-3 and abs(y - 48.857) < 1e-3
    assert r["box5"].startswith("POLYGON") and r["box5"] == r["box5b"]
    assert r["inside"] is True
    assert r["pt"] == "POINT (1 2)" and r["ln"].startswith("LINESTRING")
    assert r["not_poly"] is None


def test_multipolygon_holes_preserved_and_fastpath_kinds(registered):
    spark = registered
    mp = ("MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 8 2, 8 8, 2 8, 2 2)), "
          "((20 0, 25 0, 25 5, 20 5, 20 0)))")
    r = spark.sql(f"""
        select st_numGeometries('{mp}') ng,
               st_asText(st_geomFromWKB(st_asBinary('{mp}'))) rt,
               st_contains('{mp}', 'POINT (5 5)') in_hole,
               st_contains('{mp}', 'POINT (1 1)') in_shell,
               st_contains('LINESTRING (0 0, 2 2)', 'POINT (1 1)') line_pt,
               st_contains('POINT (1 1)', 'POINT (1 1)') pt_pt,
               st_within('POINT (1 1)', 'LINESTRING (0 0, 2 2)') pt_in_line
    """).collect()[0]
    assert r["ng"] == 2  # member polygons, not rings
    assert r["rt"].count("((") == 2  # two members; hole grouped inside the first
    assert r["in_hole"] is False and r["in_shell"] is True
    # non-polygon containers route to the relate kernel, not the PIP fast path
    assert r["line_pt"] is True and r["pt_pt"] is True and r["pt_in_line"] is True


def test_cell_fn_null_params(registered):
    spark = registered
    out = spark.sql("""
        select st_geoHash(2.351, 48.857, cast(null as int)) gh,
               st_s2(2.351, 48.857, cast(null as int)) s2
    """).collect()[0]
    assert out["gh"] is None and out["s2"] is None


CANONICAL_DE9IM = [
    # (a, b, expected JTS matrix)
    (SQ, SQ_ROT, "2FFF1FFF2"),                 # equals
    (SQ, SQ_INNER, "212FF1FF2"),               # contains
    (SQ_INNER, SQ, "2FF1FF212"),               # within
    (SQ, SQ_FAR, "FF2FF1212"),                 # disjoint
    (SQ, SQ_SHIFT, "212101212"),               # overlaps
    (SQ, SQ_EDGE, "FF2F11212"),                # edge touch (1-dim boundary)
    (SQ, SQ_CORNER, "FF2F01212"),              # corner touch (0-dim boundary)
    (HOLED, HOLE, "FF2F112F2"),                # B fills A's hole
    (HOLE, HOLED, "FF2F1F212"),                # A fills B's hole
    (BOX2, BOX1, "212F11FF2"),                 # contains, shared edges
    (BOX1, BOX2, "2FF11F212"),                 # within, shared edges
    (HOLED, HOLED_SHELL, "2FF11F2F2"),         # holed polygon within its shell
    (BOX2, BOX2_SHIFT, "212111212"),           # overlap, collinear boundary pieces
    ("POINT (1 1)", "POINT (1 1)", "0FFFFFFF2"),
    # JTS: each point lies in the other's EXTERIOR → IE and EI are 0-dim
    ("POINT (1 1)", "POINT (2 2)", "FF0FFF0F2"),
]


def test_de9im_canonical_matrices(registered):
    spark = registered
    pdf = pd.DataFrame(CANONICAL_DE9IM, columns=["a", "b", "want"])
    got = spark.createDataFrame(pdf).selectExpr("want", "st_relate(a, b) got").collect()
    for r in got:
        assert r["got"] == r["want"], (r["want"], r["got"])


def test_cell_ring_cover_and_aliases(registered):
    spark = registered
    r = spark.sql(f"""
        select st_makePoint(1.0d, 2.0d) mp,
               st_byteArray('abc') ba,
               size(st_cellRing(16512, 1, 8)) ring_n,
               st_coverPolygon('{SQ}', 8) cover
    """).collect()[0]
    assert r["mp"] == "POINT (1.0 2.0)"
    assert bytes(r["ba"]) == b"abc"
    assert r["ring_n"] == 8  # interior cell ring-1 has 8 neighbors
    assert len(r["cover"]) >= 1
    # cover matches the operator-side cover for the same polygon
    from geomesa_spark.functions import geometry as geo_l
    from geomesa_spark.operators.spatial_join import cover_cells_one

    k, c, o = geo_l.parse_wkt(SQ)
    want, _ = cover_cells_one(c, o, 8)
    assert sorted(r["cover"]) == sorted(want)


# --- round 3: line-combination DE-9IM (exact dims), multi-geometries,
# spheroid distance, closest-point witness ----------------------------------

CANONICAL_DE9IM_LINES = [
    # classic JTS pairs, matrices from JTS relate()
    ("LINESTRING (0 0, 10 10)", "LINESTRING (0 10, 10 0)", "0F1FF0102"),   # proper cross
    ("LINESTRING (0 0, 5 0)", "LINESTRING (5 0, 10 0)", "FF1F00102"),      # endpoint touch
    ("LINESTRING (0 0, 10 0)", "LINESTRING (2 0, 8 0)", "101FF0FF2"),      # contains collinear
    ("LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)", "1010F0102"),     # collinear overlap
    ("LINESTRING (0 0, 10 0)", "LINESTRING (0 0, 10 0)", "1FFF0FFF2"),     # equal
    ("LINESTRING (0 0, 10 0)", "LINESTRING (3 5, 3 9)", "FF1FF0102"),      # disjoint
    ("LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 5 5)", "F01FF0102"),      # B endpoint on A interior
    ("LINESTRING (0 0, 10 0)", "POLYGON ((2 -2, 8 -2, 8 2, 2 2, 2 -2))", "101FF0212"),  # line crosses polygon (endpoints outside)
    ("LINESTRING (3 3, 7 7)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "1FF0FF212"),  # line within polygon
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "LINESTRING (3 3, 7 7)", "102FF1FF2"),  # polygon contains line
    ("LINESTRING (0 0, 10 0)", "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))", "FF1FF0212"),  # disjoint
    ("LINESTRING (0 10, 10 10)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "F1FF0F212"),  # line along boundary (fully covered, endpoints at corners)
    ("POINT (5 5)", "LINESTRING (0 0, 10 10)", "0FFFFF102"),               # point on line interior
    ("POINT (0 0)", "LINESTRING (0 0, 10 10)", "F0FFFF102"),               # point at line endpoint
    ("POINT (5 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "0FFFFF212"),  # point in polygon
    ("POINT (0 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "F0FFFF212"),  # point on boundary
]


def test_de9im_line_and_point_combinations(registered):
    spark = registered
    pdf = pd.DataFrame(CANONICAL_DE9IM_LINES, columns=["a", "b", "want"])
    got = spark.createDataFrame(pdf).selectExpr("a", "b", "want", "st_relate(a, b) got").collect()
    for r in got:
        assert r["got"] == r["want"], (r["a"], r["b"], r["want"], r["got"])


def test_multi_geometry_sql_surface(registered):
    spark = registered
    mp = "MULTIPOINT ((1 1), (5 5), (20 20))"
    ml = "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))"
    gc = "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 5 5), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))"
    r = spark.sql(f"""
        select st_geometryType('{mp}') t_mp,
               st_geometryType('{ml}') t_ml,
               st_geometryType('{gc}') t_gc,
               st_numGeometries('{mp}') n_mp,
               st_numGeometries('{ml}') n_ml,
               st_numGeometries('{gc}') n_gc,
               st_numPoints('{gc}') np_gc,
               st_dimension('{mp}') d_mp,
               st_dimension('{ml}') d_ml,
               st_dimension('{gc}') d_gc,
               st_geometryN('{ml}', 2) g2_ml,
               st_geometryN('{gc}', 1) g1_gc,
               st_mPointFromText('{mp}') c_mp,
               st_mLineFromText('{ml}') c_ml,
               st_mPointFromText('{ml}') c_bad,
               st_asText('{gc}') rt_gc,
               st_envelope('{mp}') env_mp,
               st_exteriorRing('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))') er_mp,
               st_intersects('{mp}', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') i_mp,
               st_within('{mp}', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') w_mp,
               st_within('MULTIPOINT ((1 1), (5 5))', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') w_mp2,
               st_crosses('{ml}', 'LINESTRING (0 1, 1 0)') x_ml,
               st_asGeoJSON('{mp}') gj_mp
    """).collect()[0]
    assert r["t_mp"] == "MultiPoint" and r["t_ml"] == "MultiLineString" and r["t_gc"] == "GeometryCollection"
    assert r["n_mp"] == 3 and r["n_ml"] == 2 and r["n_gc"] == 3
    assert r["np_gc"] == 1 + 2 + 5
    assert r["d_mp"] == 0 and r["d_ml"] == 1 and r["d_gc"] == 2
    assert r["g2_ml"] == "LINESTRING (2 2, 3 3, 4 4)"
    assert r["g1_gc"] == "POINT (1 2)"
    assert r["c_mp"] is not None and r["c_ml"] is not None and r["c_bad"] is None
    assert r["rt_gc"].startswith("GEOMETRYCOLLECTION (POINT (1 2)")
    assert "20" in r["env_mp"]
    assert r["er_mp"] is None  # MULTIPOLYGON exteriorRing undefined (reference casts to Polygon)
    assert r["i_mp"] is True and r["w_mp"] is False and r["w_mp2"] is True
    assert r["x_ml"] is True
    assert json.loads(r["gj_mp"])["type"] == "MultiPoint"


def test_multi_geometry_wkb_roundtrip(registered):
    spark = registered
    for w in [
        "MULTIPOINT ((1 2), (3 4))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "GEOMETRYCOLLECTION (POINT (1 2), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
    ]:
        r = spark.sql(f"select st_geomFromWKB(st_asBinary('{w}')) rt").collect()[0]
        assert r["rt"] == w, (w, r["rt"])


def test_distance_spheroid_published_values(registered):
    """Vincenty inverse vs published geodesics: the Geoscience Australia
    Flinders Peak - Buninyong pair (54 972.271 m), one degree of longitude
    on the equator (a*pi/180), and the WGS84 quarter meridian."""
    spark = registered
    lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
    lon1 = 144 + 25 / 60 + 29.52440 / 3600
    lat2 = -(37 + 39 / 60 + 10.15610 / 3600)
    lon2 = 143 + 55 / 60 + 35.38390 / 3600
    r = spark.sql(f"""
        select st_distanceSpheroid(st_point({lon1}d, {lat1}d), st_point({lon2}d, {lat2}d)) fb,
               st_distanceSpheroid('POINT (0 0)', 'POINT (1 0)') eq1,
               st_distanceSpheroid('POINT (0 0)', 'POINT (0 90)') qm,
               st_distanceSpheroid('POINT (5 5)', 'POINT (5 5)') zero
    """).collect()[0]
    assert abs(r["fb"] - 54972.271) < 0.01
    assert abs(r["eq1"] - 6378137.0 * np.pi / 180.0) < 1e-6
    assert abs(r["qm"] - 10001965.729) < 0.01
    assert r["zero"] == 0.0


def test_length_spheroid(registered):
    """st_lengthSpheroid: a two-vertex line equals st_distanceSpheroid of
    its endpoints; a polyline sums segment geodesics; the equatorial
    degree and quarter meridian anchor against exact ellipsoid values;
    non-lines are 0 and MULTILINESTRING sums members."""
    spark = registered
    r = spark.sql("""
        select st_lengthSpheroid('LINESTRING (0 0, 1 0)') eq1,
               st_lengthSpheroid('LINESTRING (0 0, 0 90)') qm,
               st_lengthSpheroid('LINESTRING (0 0, 1 0, 1 1)') poly,
               st_distanceSpheroid('POINT (0 0)', 'POINT (1 0)')
                 + st_distanceSpheroid('POINT (1 0)', 'POINT (1 1)') poly_ref,
               st_lengthSpheroid('MULTILINESTRING ((0 0, 1 0), (0 0, 1 0))') ml,
               st_lengthSpheroid('POINT (3 4)') pt,
               st_lengthSpheroid('POLYGON ((0 0, 1 0, 1 1, 0 0))') pg
    """).collect()[0]
    assert abs(r["eq1"] - 6378137.0 * np.pi / 180.0) < 1e-6
    assert abs(r["qm"] - 10001965.729) < 0.01
    assert abs(r["poly"] - r["poly_ref"]) < 1e-9
    assert abs(r["ml"] - 2 * r["eq1"]) < 1e-9
    assert r["pt"] == 0.0 and r["pg"] == 0.0


def test_containment_fast_path_not_fooled_by_embedded_point(registered):
    """The PIP fast path must dispatch on the WHOLE contained WKT: a
    GEOMETRYCOLLECTION whose first member is an inside POINT (second
    member outside) must answer via the exact kernel (False), and a
    bare-syntax single-member MULTIPOINT must not be string-matched as a
    POINT; st_x/st_y on multi-part kinds are null (JTS Point cast)."""
    spark = registered
    r = spark.sql("""
        select st_contains('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))',
                           'GEOMETRYCOLLECTION (POINT (5 5), POINT (99 99))') gc_out,
               st_contains('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))',
                           'GEOMETRYCOLLECTION (POINT (5 5), POINT (6 6))') gc_in,
               st_within('MULTIPOINT (5 5)', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') mp_in,
               st_x('MULTIPOINT (3 4)') mx,
               st_y('GEOMETRYCOLLECTION (POINT (3 4))') gy,
               st_x('POINT (3 4)') px
    """).collect()[0]
    assert r["gc_out"] is False
    assert r["gc_in"] is True
    assert r["mp_in"] is True
    assert r["mx"] is None and r["gy"] is None
    assert r["px"] == 3.0


def test_indexed_accessors_null_index(registered):
    """A SQL NULL in the index column yields null rows, not a poisoned
    Arrow batch (NaN reaches the UDF as float, not None)."""
    spark = registered
    df = spark.createDataFrame(
        [("LINESTRING (0 0, 1 1, 2 2)", None), ("LINESTRING (0 0, 1 1, 2 2)", 2)],
        "wkt string, n int",
    )
    df.createOrReplaceTempView("null_idx_t")
    rows = spark.sql("""
        select st_pointN(wkt, n) p, st_geometryN(wkt, n) g,
               st_interiorRingN('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))', n) r
        from null_idx_t order by n nulls first
    """).collect()
    assert rows[0]["p"] is None and rows[0]["g"] is None and rows[0]["r"] is None
    assert rows[1]["p"] == "POINT (1 1)"


def test_closest_point_intersection_witness(registered):
    """ADVICE fix: when geometries intersect, st_closestPoint returns an
    actual point of A ∩ B (JTS DistanceOp), not just A's first vertex."""
    spark = registered
    r = spark.sql("""
        select st_closestPoint('LINESTRING (0 0, 10 10)', 'LINESTRING (0 10, 10 0)') xing,
               st_closestPoint('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
                               'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') ovl,
               st_distance('LINESTRING (0 0, 10 10)', 'LINESTRING (0 10, 10 0)') d
    """).collect()[0]
    assert r["xing"] == "POINT (5 5)"
    assert r["d"] == 0.0
    # overlap witness must lie inside BOTH rectangles' closures
    k, c, o = geo.parse_wkt(r["ovl"])
    x, y = float(c[0, 0]), float(c[0, 1])
    assert 2 <= x <= 4 and 2 <= y <= 4, r["ovl"]


def test_contains_boundary_point_fast_path_matches_kernel(registered):
    """ADVICE fix: the PIP fast path now answers False for boundary points
    on BOTH polygon sides (raw parity was side-dependent)."""
    spark = registered
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    r = spark.sql(f"""
        select st_contains('{sq}', 'POINT (0 5)') left,
               st_contains('{sq}', 'POINT (10 5)') right,
               st_contains('{sq}', 'POINT (5 0)') bottom,
               st_contains('{sq}', 'POINT (5 10)') top,
               st_contains('{sq}', 'POINT (5 5)') inside,
               st_covers('{sq}', 'POINT (0 5)') cov_left,
               st_covers('{sq}', 'POINT (10 5)') cov_right
    """).collect()[0]
    assert r["left"] is False and r["right"] is False
    assert r["bottom"] is False and r["top"] is False
    assert r["inside"] is True
    assert r["cov_left"] is True and r["cov_right"] is True


def test_simplicity_validity_predicates(registered):
    """st_isSimple / st_isValid / st_isRing / st_isClosed / st_isEmpty /
    st_isCollection over the classic JTS cases."""
    r = registered.sql("""
        select st_isSimple('LINESTRING (0 0, 1 1, 2 0)') s1,
               st_isSimple('LINESTRING (0 0, 2 2, 2 0, 0 2)') s2,
               st_isSimple('MULTIPOINT (1 1, 1 1)') s3,
               st_isSimple('MULTILINESTRING ((0 0, 2 2), (0 2, 2 0))') s4,
               st_isSimple('POLYGON ((0 0, 1 0, 1 1, 0 0))') s5,
               st_isValid('POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))') v1,
               st_isValid('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))') v2,
               st_isValid('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (3 3, 6 3, 6 6, 3 6, 3 3))') v3,
               st_isRing('LINESTRING (0 0, 1 0, 1 1, 0 0)') r1,
               st_isRing('LINESTRING (0 0, 1 0, 1 1)') r2,
               st_isClosed('LINESTRING (0 0, 1 0, 1 1, 0 0)') c1,
               st_isClosed('LINESTRING (0 0, 1 1)') c2,
               st_isClosed('POINT (1 1)') c3,
               st_isEmpty('GEOMETRYCOLLECTION EMPTY') e1,
               st_isEmpty('POINT (1 1)') e2,
               st_isCollection('MULTIPOINT (1 1, 2 2)') k1,
               st_isCollection('POINT (1 1)') k2
    """).collect()[0]
    assert r["s1"] is True and r["s2"] is False and r["s3"] is False
    assert r["s4"] is False and r["s5"] is True
    assert r["v1"] is False and r["v2"] is True and r["v3"] is False
    assert r["r1"] is True and r["r2"] is False
    assert r["c1"] is True and r["c2"] is False and r["c3"] is True
    assert r["e1"] is True and r["e2"] is False
    assert r["k1"] is True and r["k2"] is False


def test_boundary_and_length(registered):
    """st_boundary JTS getBoundary parity; st_length is PLANAR degrees
    (perimeter for polygons) while st_lengthSphere is haversine meters."""
    r = registered.sql("""
        select st_boundary('POINT (1 2)') bp,
               st_boundary('LINESTRING (0 0, 1 1)') bl,
               st_boundary('LINESTRING (0 0, 1 0, 1 1, 0 0)') br,
               st_boundary('POLYGON ((0 0, 1 0, 1 1, 0 0))') bg,
               st_length('LINESTRING (0 0, 3 4)') l1,
               st_length('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') l2,
               st_length('POINT (1 1)') l3,
               st_lengthSphere('LINESTRING (0 0, 1 0)') m1,
               st_distanceSphere('POINT (0 0)', 'POINT (1 0)') m2
    """).collect()[0]
    assert r["bp"] == "GEOMETRYCOLLECTION EMPTY"
    assert r["bl"] == "MULTIPOINT ((0 0), (1 1))"
    assert r["br"] == "MULTIPOINT EMPTY"
    assert r["bg"] == "LINESTRING (0 0, 1 0, 1 1, 0 0)"
    assert r["l1"] == 5.0 and r["l2"] == 16.0 and r["l3"] == 0.0
    assert r["m1"] == r["m2"] > 100_000


def test_overlay_intersection_difference(registered):
    """st_intersection / st_difference: exact pairings (point/line vs
    anything, convex polygon clips); unsupported pairings are null."""
    r = registered.sql("""
        select st_intersection('POINT (2 2)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') i1,
               st_intersection('LINESTRING (-1 2, 5 2)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') i2,
               st_intersection('LINESTRING (0 0, 10 10)', 'LINESTRING (0 10, 10 0)') i3,
               st_intersection('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
                               'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') i4,
               st_intersection('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
                               'POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))') i5,
               st_intersection('POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))',
                               'POLYGON ((0 5, 4 5, 4 9, 2 6, 0 9, 0 5))') i6,
               st_intersection('POLYGON ((0 0, 6 0, 6 6, 3 2, 0 6, 0 0))',
                               'POLYGON ((1 3, 5 3, 5 8, 3 5.5, 1 8, 1 3))') i7,
               st_difference('POLYGON ((0 0, 6 0, 6 6, 3 2, 0 6, 0 0))',
                             'POLYGON ((1 3, 5 3, 5 8, 3 5.5, 1 8, 1 3))') d6,
               st_difference('LINESTRING (-1 2, 5 2)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') d1,
               st_difference('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
                             'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') d2,
               st_difference('MULTIPOINT (2 2, 9 9)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') d3,
               st_difference('LINESTRING (0 0, 4 0)', 'LINESTRING (2 0, 6 0)') d4,
               st_difference('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
                             'POLYGON ((-1 -1, 5 -1, 5 5, -1 5, -1 -1))') d5,
               st_union('LINESTRING (0 0, 4 0)', 'LINESTRING (2 0, 6 0)') u1,
               st_union('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
                        'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') u2,
               st_union('MULTIPOINT (1 1, 2 2)', 'POINT (2 2)') u3,
               st_union('POINT (1 1)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') u4
    """).collect()[0]
    assert r["i1"] == "POINT (2 2)"
    assert r["i2"] == "LINESTRING (0 2, 4 2)"
    assert r["i3"] == "POINT (5 5)"
    assert r["i4"] == "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"
    assert r["i5"] == "POLYGON EMPTY"
    assert r["i6"] == "POLYGON EMPTY"  # concave x concave, disjoint
    # concave x concave proper crossings: area-conserving
    gi = geo.parse_wkt(r["i7"])
    gd = geo.parse_wkt(r["d6"])
    ai = sum(abs(geo.polygon_area_deg2(c, o)) for _k, c, o in geo.geom_parts(*gi))
    ad = sum(abs(geo.polygon_area_deg2(c, o)) for _k, c, o in geo.geom_parts(*gd))
    aa = abs(geo.polygon_area_deg2(*geo.parse_wkt('POLYGON ((0 0, 6 0, 6 6, 3 2, 0 6, 0 0))')[1:]))
    assert ai > 0 and ad > 0
    assert ai + ad == pytest.approx(aa, rel=1e-9)
    assert r["d1"] == "MULTILINESTRING ((-1 2, 0 2), (4 2, 5 2))"
    assert r["d2"] == "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    assert r["d3"] == "POINT (9 9)"
    assert r["d4"] == "LINESTRING (0 0, 2 0)"
    assert r["d5"] == "POLYGON EMPTY"
    assert r["u1"] == "MULTILINESTRING ((0 0, 4 0), (4 0, 6 0))"
    uk, uc, uo = geo.parse_wkt(r["u2"])
    assert uk == "POLYGON" and abs(abs(geo.polygon_area_deg2(uc, uo)) - 28.0) < 1e-9
    assert r["u3"] == "MULTIPOINT ((1 1), (2 2))"
    # mixed-dimension union (r4): the point is absorbed by the polygon
    assert r["u4"] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    # difference piece areas tile the annulus exactly
    got = geo.parse_wkt(r["d2"])
    area = sum(
        abs(geo.polygon_area_deg2(c, o))
        for _k, c, o in geo.geom_parts(*got)
    )
    assert area == 12.0
    # point-set checks of the i4 / d2 goldens: exact area, and probe
    # membership matches the operands' boolean off the edges
    from tests.test_overlay_holes import _member, _near_any_edge

    gi4 = geo.parse_wkt(r["i4"])
    assert abs(geo.polygon_area_deg2(gi4[1], gi4[2])) == 4.0
    sq_a = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    sq_b = geo.parse_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    rng = np.random.default_rng(11)
    probes = np.column_stack([rng.uniform(-1, 7, 2000), rng.uniform(-1, 7, 2000)])
    in_a, in_b = _member(probes, *sq_a), _member(probes, *sq_b)
    for res, want in ((gi4, in_a & in_b), (got, in_a & ~in_b)):
        near = _near_any_edge(probes, [sq_a, sq_b, res], tol=1e-9)
        assert not ((_member(probes, *res) != want) & ~near).any()


def test_transform_and_new_constructors(registered):
    """st_transform 4326<->3857 round trip; st_makeBox2D / st_makePointM /
    st_pointFromWKB / st_geomFromGeoJSON / st_asLatLonText; the
    st_geomFromText aliases."""
    spark = registered
    r = spark.sql("""
        select st_transform('POINT (0 0)', 'EPSG:4326', 'EPSG:3857') t0,
               st_transform(st_transform('LINESTRING (-73.98 40.75, 2.35 48.85)',
                                         'EPSG:4326', 'EPSG:3857'),
                            'EPSG:3857', 'EPSG:4326') rt,
               st_transform('POINT (0 0)', 'EPSG:4326', 'EPSG:32633') bad,
               st_makeBox2D('POINT (0 0)', 'POINT (4 4)') box,
               st_makePointM(1.5, 2.5, 7.0) pm,
               st_x(st_makePointM(1.5, 2.5, 7.0)) pmx,
               st_pointFromWKB(st_asBinary('POINT (3 4)')) pw,
               st_pointFromWKB(st_asBinary('LINESTRING (0 0, 1 1)')) pwl,
               st_geomFromGeoJSON(st_asGeoJSON('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) gj,
               st_asLatLonText('POINT (-73.98 40.75)') dms,
               st_geomFromText('POINT (1 2)') a1,
               st_geometryFromText('LINESTRING (0 0, 1 1)') a2
    """).collect()[0]
    assert r["t0"] == "POINT (0 0)"
    rt_coords = geo.parse_wkt(r["rt"])[1]
    assert np.allclose(rt_coords, [[-73.98, 40.75], [2.35, 48.85]], atol=1e-9)
    assert r["bad"] is None
    assert geo.parse_wkt(r["box"])[0] == "POLYGON"
    assert abs(abs(geo.polygon_area_deg2(*geo.parse_wkt(r["box"])[1:])) - 16.0) < 1e-12
    assert r["pm"] == "POINT M (1.5 2.5 7)"
    assert r["pmx"] == 1.5  # dimensioned POINT M projects to 2-D for st_x
    assert r["pw"] == "POINT (3 4)" and r["pwl"] is None
    assert r["gj"] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert r["dms"] == "40°45'00.000\"N 73°58'48.000\"W"
    assert r["a1"] == "POINT (1 2)" and r["a2"] == "LINESTRING (0 0, 1 1)"


def test_track_clip_twin(registered):
    """The pure-Catalyst Liang–Barsky clip in the track_clip_length
    contract query is segment-for-segment equal to the overlay-UDF route
    (st_intersection of the segment with the bbox POLYGON → st_length →
    micro-round): two independent float paths agreeing at micro-degree
    granularity on every real segment."""
    import os

    from geomesa_spark import contract as CT

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    spark = registered
    want = (
        CT.queries()["track_clip_length"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")["clip_len_micro"]
    )
    box = (
        f"POLYGON (({CT.CLIP_X0} {CT.CLIP_Y0}, {CT.CLIP_X1} {CT.CLIP_Y0}, "
        f"{CT.CLIP_X1} {CT.CLIP_Y1}, {CT.CLIP_X0} {CT.CLIP_Y1}, {CT.CLIP_X0} {CT.CLIP_Y0}))"
    )
    from pyspark.sql import Window

    pts = CT.events_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "pid")
    seg = (
        pts.select("user_id", "ts", "pid", "lon", "lat")
        .withColumn("x1", F.lag("lon").over(w))
        .withColumn("y1", F.lag("lat").over(w))
        .where(F.col("x1").isNotNull())
        .withColumn(
            "wkt",
            F.concat(
                F.lit("LINESTRING ("),
                F.col("x1").cast("string"), F.lit(" "), F.col("y1").cast("string"),
                F.lit(", "),
                F.col("lon").cast("string"), F.lit(" "), F.col("lat").cast("string"),
                F.lit(")"),
            ),
        )
    )
    got = (
        seg.withColumn("piece", ST.st_intersection("wkt", F.lit(box)))
        .withColumn(
            "micro",
            F.when(
                F.col("piece").isNotNull() & ~F.col("piece").endswith("EMPTY"),
                F.round(ST.st_length("piece") * F.lit(1000000.0)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("user_id")
        .agg(F.sum("micro").alias("clip_len_micro"))
        .where(F.col("clip_len_micro") > 0)
        .toPandas()
        .set_index("user_id")["clip_len_micro"]
    )
    assert set(got.index) == set(want.index)
    diff = (got - want).abs()
    # two float paths may disagree by 1 micro on a segment whose length
    # lands within an ulp of a .5-micro boundary; zero observed in the
    # deterministic data but the bound keeps the twin honest
    assert int(diff.max()) <= 1, diff[diff > 0]


def test_overlay_review_regressions(registered):
    """Round-3 self-review fixes: concave∩convex with a disconnected
    result keeps its members apart (a convex clip would bridge them
    into one invalid ring); GC
    operands and nested-GC transform are null/handled, never a crashed
    batch; hole-in-hole is invalid; NaN in any st_makePointM arg is
    null; 'FOO EMPTY' is not an empty geometry."""
    spark = registered
    r = spark.sql("""
        select st_intersection('POLYGON ((0 0, 10 0, 10 10, 7 10, 7 3, 3 3, 3 10, 0 10, 0 0))',
                               'POLYGON ((-1 5, 11 5, 11 9, -1 9, -1 5))') ushape,
               st_intersection('POINT (1 1)',
                               'GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), POINT (9 9))') gc,
               st_transform('GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (0 0)))',
                            'EPSG:4326', 'EPSG:3857') nested,
               st_isValid('POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (2 2, 10 2, 10 10, 2 10, 2 2), (4 4, 6 4, 6 6, 4 6, 4 4))') hh,
               st_makePointM(1.5, cast('nan' as double), 7.0) pm,
               st_isEmpty('FOO EMPTY') fe,
               st_isEmpty('MULTIPOINT EMPTY') me
    """).collect()[0]
    # the U-shape's intersection with the band is two disjoint rectangles
    uk, uc, uo = geo.parse_wkt(r["ushape"])
    assert uk == "MULTIPOLYGON"
    parts = geo.geom_parts(uk, uc, uo)
    assert len(parts) == 2
    area = sum(abs(geo.polygon_area_deg2(c, o)) for _k, c, o in parts)
    assert area == pytest.approx(24.0)  # two disjoint 3x4 bars
    # GEOMETRYCOLLECTION operands decompose per-part (r4)
    assert r["gc"] == "POINT (1 1)"
    assert r["nested"] == "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (0 0)))"
    assert r["hh"] is False  # hole nested inside another hole
    assert r["pm"] is None
    assert r["fe"] is None and r["me"] is True


def test_union_self_overlapping_linework(registered):
    """st_union must not double-cover when B's own parts overlap each
    other: the running-subtraction form keeps the union a SET."""
    spark = registered
    r = spark.sql("""
        select st_length(st_union('LINESTRING (0 0, 1 0)',
                                  'MULTILINESTRING ((0 0, 3 0), (2 0, 5 0))')) ln
    """).collect()[0]
    assert r["ln"] == 5.0


def test_multipolygon_overlay(registered):
    """MULTIPOLYGON operands in st_intersection/st_difference: the slab
    sweep takes every member and hole of both operands at once."""
    spark = registered
    r = spark.sql("""
        select st_intersection('MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))',
                               'POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))') i,
               st_difference('MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))',
                             'POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))') d,
               st_difference('POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))',
                             'MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))') dr,
               st_difference('POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))',
                             'MULTIPOLYGON (((2 2, 4 2, 4 4, 2 4, 2 2)), ((6 6, 8 6, 8 8, 6 8, 6 6)))') chain,
               st_difference('POLYGON ((0 0, 20 0, 20 20, 10 15, 0 20, 0 0))',
                             'MULTIPOLYGON (((2 2, 4 2, 4 4, 2 4, 2 2)), ((6 6, 8 6, 8 8, 6 8, 6 6)))') concave_chain,
               st_difference('POLYGON ((2 -5, 8 -5, 8 5, 2 5, 2 -5))',
                             'MULTIPOLYGON (((0 10, 1 10, 1 11, 0 11, 0 10)), ((0 13, 1 13, 1 14, 0 14, 0 13)))') disjoint_b,
               st_difference('POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))',
                             'MULTIPOLYGON (((0 0, 9 0, 9 9, 0 9, 0 0)), ((20 20, 21 20, 21 21, 20 21, 20 20)))') swallowed,
               st_intersection('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))',
                               'POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))') holes
    """).collect()[0]

    def area(w):
        return sum(abs(geo.polygon_area_deg2(c, o)) for _k, c, o in geo.geom_parts(*geo.parse_wkt(w)))

    assert area(r["i"]) == pytest.approx(8.0)
    assert area(r["d"]) == pytest.approx(24.0)
    assert area(r["dr"]) == pytest.approx(12.0)
    assert area(r["chain"]) == pytest.approx(392.0)
    # concave shell with two strictly-interior members: both append as
    # holes (exact interaction classification), no null
    ck, cc, co = geo.parse_wkt(r["concave_chain"])
    assert ck == "POLYGON" and len(co) == 4  # shell + 2 holes
    shell_area = abs(geo.polygon_area_deg2(cc[:co[1]], np.asarray([0, co[1]])))
    assert area(r["concave_chain"]) == pytest.approx(shell_area - 8.0)
    # B entirely disjoint: A passes through UNCHANGED (no fragmentation)
    assert r["disjoint_b"] == "POLYGON ((2 -5, 8 -5, 8 5, 2 5, 2 -5))"
    # first B member swallows A entirely
    assert r["swallowed"] == "POLYGON EMPTY"
    # holed subject: (shell ∩ strip) minus the hole's overlap with the
    # strip — [2,9]×[1,3] (14) minus [2,3]×[2,3] (1)
    assert area(r["holes"]) == pytest.approx(13.0)


def test_multipolygon_union(registered):
    """st_union with MULTIPOLYGON operands: disjoint members concatenate,
    an interacting member merges pairwise via GH, an interior member is
    absorbed; a member bridging two parts merges them transitively."""
    spark = registered
    MP = "'MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))'"
    r = spark.sql(f"""
        select st_union({MP}, 'POLYGON ((20 0, 22 0, 22 2, 20 2, 20 0))') add_disjoint,
               st_union({MP}, 'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))') merge_one,
               st_union({MP}, 'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))') absorb,
               st_union({MP}, 'POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))') bridge
    """).collect()[0]

    def area(w):
        return sum(abs(geo.polygon_area_deg2(c, o)) for _k, c, o in geo.geom_parts(*geo.parse_wkt(w)))

    assert area(r["add_disjoint"]) == pytest.approx(36.0)
    assert area(r["merge_one"]) == pytest.approx(44.0)
    assert area(r["absorb"]) == pytest.approx(32.0)
    # a member bridging both parts merges them transitively:
    # 16 + 16 + 20 − 4 − 4 (the strip's overlap with each square)
    assert area(r["bridge"]) == pytest.approx(44.0)


def test_buffer_point_batched_wkt_matches_per_row(registered):
    """st_bufferPoint builds every ring in one numpy broadcast; its WKT is
    byte-identical to the per-row ring + geo.wkt_polygon form, including
    near-pole latitudes, the clamped cos(lat) at the poles, radius 0 and
    NaN inputs."""
    rng = np.random.default_rng(7)
    lon = np.concatenate([[10.0, -179.9, 0.0, 0.0, 5.0, 1.0, np.nan], rng.uniform(-180, 180, 500)])
    lat = np.concatenate([[89.99, -89.99, 90.0, -90.0, 45.0, np.nan, 0.0], rng.uniform(-90, 90, 500)])
    r = np.concatenate([[1e4, 5e3, 100.0, 100.0, 0.0, 1.0, 1.0], rng.exponential(1e4, 500)])

    def per_row(lo, la, rr):
        ang = np.linspace(0.0, 2.0 * np.pi, 33)
        dlat = np.degrees(rr / geo.EARTH_RADIUS_M)
        dlon = dlat / max(np.cos(np.radians(la)), 1e-9)
        ring = np.stack([lo + dlon * np.cos(ang), la + dlat * np.sin(ang)], axis=1)
        return geo.wkt_polygon(ring, np.asarray([0, len(ring)]))

    want = [per_row(lon[i], lat[i], r[i]) for i in range(len(lon))]
    assert ST._buffer_point_wkt(lon, lat, r) == want
    assert ST._buffer_point_wkt(lon[:0], lat[:0], r[:0]) == []
    pdf = pd.DataFrame({"lon": lon[:6], "lat": lat[:6], "r": r[:6]})
    rows = registered.createDataFrame(pdf).select(ST.st_bufferPoint("lon", "lat", "r").alias("w")).collect()
    assert [row["w"] for row in rows] == want[:6]


def test_wkb_geojson_readers_null_only_malformed_input(monkeypatch):
    """Malformed WKB (truncated bytes, an unknown kind code) and
    malformed GeoJSON (not JSON, a JSON list, a Point without
    ``coordinates``) read as null; the readers raise ValueError for all
    of them. Any other exception is a kernel bug and propagates."""
    import struct

    point = struct.pack("<BIdd", 1, 1, 3.0, 4.0)
    bad_wkb = [point[:12], struct.pack("<BI", 1, 99) + point[5:]]
    for b in bad_wkb:
        with pytest.raises(ValueError):
            geo.wkb_read(b)
    wkb = pd.Series(bad_wkb + [point, None])
    assert list(ST.st_geomFromWKB.func(wkb)) == [None, None, "POINT (3 4)", None]
    assert list(ST.st_pointFromWKB.func(wkb)) == [None, None, "POINT (3 4)", None]
    bad_gj = ["not json", "[1, 2]", '{"type": "Point"}']
    for s in bad_gj:
        with pytest.raises(ValueError):
            ST._geojson_read(s)
    gj = pd.Series(bad_gj + ['{"type": "Point", "coordinates": [3, 4]}', None])
    assert list(ST.st_geomFromGeoJSON.func(gj)) == [None, None, None, "POINT (3 4)", None]

    def broken(*_g):
        raise RuntimeError("kernel bug")

    monkeypatch.setattr(geo, "wkt_any", broken)
    for udf, arg in (
        (ST.st_geomFromWKB, point),
        (ST.st_pointFromWKB, point),
        (ST.st_geomFromGeoJSON, '{"type": "Point", "coordinates": [3, 4]}'),
    ):
        with pytest.raises(RuntimeError):
            udf.func(pd.Series([arg]))


def test_parse_cache_nulls_only_malformed_wkt(monkeypatch):
    """Malformed, empty and unsupported WKT (parse_wkt's ValueError) is
    null through st_intersection and st_buffer; any other exception
    raised inside the parser is a kernel bug and propagates."""
    square = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    bad = [
        "POLYGON ((0 0, 4 0, 4 4",  # truncated
        "garbage",
        "",
        "POINT (a b)",  # non-numeric
        "POLYGON EMPTY",
        "CIRCULARSTRING (0 0, 1 1, 2 0)",  # unsupported kind
    ]
    for w in bad:
        with pytest.raises(ValueError):
            geo.parse_wkt(w)
    got = ST.st_intersection.func(pd.Series(bad + [square]), pd.Series([square] * (len(bad) + 1)))
    assert got.iloc[:-1].isna().all() and got.iloc[-1] is not None
    got = ST.st_buffer.func(pd.Series(bad + [square]), pd.Series([1.0] * (len(bad) + 1)))
    assert got.iloc[:-1].isna().all() and got.iloc[-1] is not None

    def broken(_w):
        raise IndexError("kernel bug")

    monkeypatch.setattr(geo, "parse_wkt", broken)
    with pytest.raises(IndexError):
        ST.st_intersection.func(pd.Series([square]), pd.Series([square]))
    with pytest.raises(IndexError):
        ST.st_buffer.func(pd.Series([square]), pd.Series([1.0]))


def test_overlay_udfs_propagate_kernel_errors(monkeypatch):
    """An exception raised inside the areal overlay kernel is a kernel
    bug: each of the four overlay UDFs propagates it instead of turning
    the row into a null."""
    a = pd.Series(["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"])
    b = pd.Series(["POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"])

    def broken(*_args):
        raise RuntimeError("kernel bug")

    monkeypatch.setattr(ST, "slab_boolean", broken)
    for udf in (ST.st_intersection, ST.st_union, ST.st_difference, ST.st_symDifference):
        with pytest.raises(RuntimeError, match="kernel bug"):
            udf.func(a, b)


def test_geometryN_member_or_null():
    """st_geometryN answers every index with a member or a null — n = 0,
    n past the member count, a nested collection member and each multi
    kind — with no catch-all between the kernel and the row."""
    members = {
        "MULTIPOINT ((1 2), (3 4))": ["POINT (1 2)", "POINT (3 4)"],
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))": ["LINESTRING (0 0, 1 1)", "LINESTRING (2 2, 3 3)"],
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))": [
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
        ],
        "GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION (LINESTRING (0 0, 5 5), POINT (3 3)))": [
            "POINT (1 2)",
            "GEOMETRYCOLLECTION (LINESTRING (0 0, 5 5), POINT (3 3))",
        ],
        "POINT (1 2)": ["POINT (1 2)"],
    }
    rows = [(w, n) for w in members for n in (0, 1, 2, 3)]
    got = ST.st_geometryN.func(pd.Series([w for w, _n in rows]), pd.Series([n for _w, n in rows]))
    want = [members[w][n - 1] if 1 <= n <= len(members[w]) else None for w, n in rows]
    assert list(got) == want


SEVEN_KINDS = [
    "POINT (1 2)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))",
    "MULTIPOINT ((0 0), (3 1))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 0))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (9 9), LINESTRING (0 0, 1 1), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
]


def test_convex_hull_every_kind():
    """The hull of all vertices, a collection's members included (a
    collection was null: its kernel indexed the member list)."""
    got = ST.st_convexHull.func(pd.Series(SEVEN_KINDS))
    assert got.notna().all()
    assert got.iloc[6] == "POLYGON ((0 0, 4 0, 9 9, 0 4, 0 0))"
    assert got.iloc[5] == "POLYGON ((0 0, 1 0, 6 5, 6 6, 5 6, 0 1, 0 0))"
    assert got.iloc[2] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    # a degenerate hull is a POINT or a LINESTRING between the extreme
    # points, as JTS writes it (was a two-vertex POLYGON ring)
    degenerate = ["POINT (1 2)", "MULTIPOINT ((0 0), (3 1))", "MULTIPOINT ((0 0), (1 1), (3 3), (2 2))"]
    assert list(ST.st_convexHull.func(pd.Series(degenerate))) == [
        "POINT (1 2)", "LINESTRING (0 0, 3 1)", "LINESTRING (0 0, 3 3)",
    ]


def test_relation_refusal_is_null():
    """A polygon whose own edges cross (a bowtie) is refused by the slab
    sweep's relate: every relation function answers null for it, never
    an exception or a guessed matrix."""
    bowtie, sq = pd.Series(["POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))"]), pd.Series([SQ])
    for fn in (ST.st_relate, ST.st_intersects, ST.st_covers, ST.st_contains, ST.st_closestPoint):
        assert fn.func(bowtie, sq).iloc[0] is None, fn
    assert ST.st_relateBool.func(bowtie, sq, pd.Series(["T********"])).iloc[0] is None
    assert np.isnan(ST.st_distance.func(bowtie, sq).iloc[0])


def test_idl_safe_geom_every_kind():
    """Only a POLYGON wider than 180° splits; every other geometry comes
    back unchanged (a POINT was written as a POLYGON, a LINESTRING as an
    unclosed POLYGON, a MULTIPOLYGON's second member as a hole, and a
    collection was null)."""
    got = ST.st_idlSafeGeom.func(pd.Series(SEVEN_KINDS))
    assert list(got) == SEVEN_KINDS
    wide = ST.st_idlSafeGeom.func(pd.Series(["POLYGON ((170 0, -170 0, -170 10, 170 10, 170 0))"]))
    assert wide.iloc[0].startswith("MULTIPOLYGON")


def test_per_unique_propagates_kernel_errors(monkeypatch):
    """An exception inside an accessor kernel is a kernel bug: it
    propagates instead of becoming null."""

    def broken(*_g):
        raise RuntimeError("kernel bug")

    monkeypatch.setattr(geo, "geom_dim", broken)
    with pytest.raises(RuntimeError):
        ST.st_dimension.func(pd.Series(["POINT (1 2)"]))


def test_centroid_of_collection_uses_highest_dimension():
    """JTS: a collection's centroid is that of its highest-dimension
    parts — its polygons area-weighted (the point does not pull it), else
    its lines length-weighted, else its points' mean."""
    got = ST.st_centroid.func(
        pd.Series(
            [
                "GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1)), POINT (9 9))",
                "GEOMETRYCOLLECTION (LINESTRING (0 0, 4 0), POINT (9 9), LINESTRING (0 2, 0 4))",
                "GEOMETRYCOLLECTION (POINT (0 0), POINT (3 6))",
            ]
        )
    )
    (x, y), = geo.parse_wkt(got.iloc[0])[1]
    assert x == y == pytest.approx((16 * 2.0 - 1.5) / 15)
    (x, y), = geo.parse_wkt(got.iloc[1])[1]
    assert (x, y) == pytest.approx(((2.0 * 4 + 0.0 * 2) / 6, (0.0 * 4 + 3.0 * 2) / 6))
    assert got.iloc[2] == "POINT (1.5 3.0)"


def test_make_point_m_writes_negative_zero_as_zero():
    got = ST.st_makePointM.func(pd.Series([-0.0, 1.5]), pd.Series([1.0, -0.0]), pd.Series([-0.0, 2.0]))
    assert list(got) == ["POINT M (0 1 0)", "POINT M (1.5 0 2)"]


def _relations(a, b):
    a, b = pd.Series([a]), pd.Series([b])
    return (
        ST.st_covers.func(a, b).iloc[0],
        ST.st_contains.func(a, b).iloc[0],
        ST.st_within.func(b, a).iloc[0],
        ST.st_relate.func(a, b).iloc[0],
        ST.st_relateBool.func(a, b, pd.Series(["T*****FF*"])).iloc[0],
    )


_BOX_ACROSS = "POLYGON ((0.5 0.2, 1.5 0.2, 1.5 0.8, 0.5 0.8, 0.5 0.2))"
_GC_OVERLAPPING = "GEOMETRYCOLLECTION (POLYGON ((0 0, 1.2 0, 1.2 1, 0 1, 0 0)), POLYGON ((0.8 0, 2 0, 2 1, 0.8 1, 0.8 0)))"
_ONE_MEMBER = "POLYGON ((1 7, 5 7, 5 9, 1 9, 1 7))"


@pytest.mark.parametrize(
    "a,b,matrix",
    [
        pytest.param(
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0)))",
            _BOX_ACROSS, "212FF1FF2", id="gc_touching_members",
        ),
        pytest.param(_GC_OVERLAPPING, _BOX_ACROSS, "212FF1FF2", id="gc_overlapping_members"),
        pytest.param(_GC_OVERLAPPING, "LINESTRING (0.5 0.5, 1.5 0.5)", "102FF1FF2", id="line_through_gc_overlap"),
        pytest.param(
            "MULTIPOLYGON (((8 7, 9 7, 9 8, 8 8, 8 7)), ((1 7, 5 7, 5 9, 1 9, 1 7)))",
            _ONE_MEMBER, "2F2F11FF2", id="multipolygon_member_equal",
        ),
        pytest.param(
            "GEOMETRYCOLLECTION (POLYGON ((8 7, 9 7, 9 8, 8 8, 8 7)), POLYGON ((1 7, 5 7, 5 9, 1 9, 1 7)))",
            _ONE_MEMBER, "2F2F11FF2", id="gc_member_equal",
        ),
    ],
)
def test_relate_inside_multipart(a, b, matrix):
    """B lies inside A, though A's parts touch or overlap each other
    (a collection's members were related one by one), or B equals one
    of A's parts (every sample of either lay on the other's boundary or
    outside it, and II read F)."""
    assert _relations(a, b) == (True, True, True, matrix, True)
