"""General st_buffer: planar buffer as one winding-count slab sweep over
the geometry's rings, per-edge capsules and per-point discs. Checks are
distance-field ground truth: a probe belongs
to buffer(G, r) iff dist(probe, G) ≤ r, up to the inscribed-arc sag
band r·(1−cos(0.7π/s)) which is excluded (the result polygon inscribes
the true buffer, the JTS quadrant-segments convention; the jittered
first/last chords of each arc span up to 1.4 steps)."""

from __future__ import annotations

import numpy as np
import pytest

from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions import st_functions as stf

S = 8  # default segments per semicircle in _buffer_geom
# max chord spans 1.4 angular steps (the phase jitter widens the first/
# last chord of each arc), so the inscribed sag bound is 1−cos(0.7π/s)
SAG = 1.0 - np.cos(0.7 * np.pi / S)


def _dist_to_geom(probes, kind, coords, offs):
    """0 inside an areal part; otherwise min distance to any ring/edge."""
    d = np.full(len(probes), np.inf)
    inside = np.zeros(len(probes), dtype=bool)
    for k2, c2, o2 in geo.geom_parts(kind, coords, offs):
        if k2 == "POINT":
            d = np.minimum(d, np.hypot(probes[:, 0] - c2[0, 0], probes[:, 1] - c2[0, 1]))
            continue
        if k2 == "POLYGON":
            inside |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c2, o2) == 2
        edges = geo.polygon_edges(c2, o2) if k2 == "POLYGON" else geo.line_edges(c2)
        d2, _cx, _cy = geo._point_to_segments(probes[:, 0], probes[:, 1], *edges)
        d = np.minimum(d, np.sqrt(d2.min(axis=1)))
    d[inside] = 0.0
    return d


def _member(probes, kind, coords, offs):
    got = np.zeros(len(probes), dtype=bool)
    for _k, c, o in geo.geom_parts(kind, coords, offs):
        got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2
    return got


def _check_buffer(wkt_in, r, rng, span, n=4000):
    g = geo.parse_wkt(wkt_in)
    w = stf._buffer_geom(g, r)
    assert w is not None, wkt_in
    k, c, o = geo.parse_wkt(w)
    assert k in ("POLYGON", "MULTIPOLYGON")
    probes = rng.uniform(-span, span, size=(n, 2))
    dist = _dist_to_geom(probes, *g)
    got = np.zeros(n, dtype=bool)
    for _k2, c2, o2 in geo.geom_parts(k, c, o):
        got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c2, o2) == 2
    band = np.abs(dist - r) <= r * (SAG + 1e-3)
    want = dist <= r
    assert (got[~band] == want[~band]).all(), wkt_in
    return w


def test_buffer_point_and_multipoint():
    rng = np.random.default_rng(2)
    w = _check_buffer("POINT (1 2)", 0.5, rng, 4)
    k, c, o = geo.parse_wkt(w)
    # inscribed 2s-gon area
    assert stf._areal_area(c, o) == pytest.approx(
        0.5**2 * S * np.sin(np.pi / S), rel=1e-9
    )
    _check_buffer("MULTIPOINT ((0 0), (3 0), (0.6 0))", 0.4, rng, 5)


def test_buffer_linestring():
    rng = np.random.default_rng(3)
    _check_buffer("LINESTRING (0 0, 4 0)", 0.5, rng, 6)
    _check_buffer("LINESTRING (0 0, 2 0, 2 2, 0 2)", 0.4, rng, 4)
    # closed ring polyline: the buffer is an annulus (void survives)
    w = _check_buffer("LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)", 0.5, rng, 6)
    k, c, o = geo.parse_wkt(w)
    assert not any(
        geo.classify_points_in_polygon([2.0], [2.0], c2, o2)[0] == 2
        for _k2, c2, o2 in geo.geom_parts(k, c, o)
    )


def test_buffer_polygon_axis_aligned():
    """The regression case for arc-sample jitter: axis-aligned rings
    sample co-centered arcs from perpendicular edges."""
    rng = np.random.default_rng(4)
    w = _check_buffer("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", 0.5, rng, 6)
    k, c, o = geo.parse_wkt(w)
    # area ≈ A + P·r + πr² (inscribed arcs slightly less)
    area = stf._areal_area(c, o)
    full = 16.0 + 16.0 * 0.5 + np.pi * 0.25
    assert full * (1 - 2 * SAG) < area <= full + 1e-9


def test_buffer_concave_polygon():
    rng = np.random.default_rng(5)
    _check_buffer(
        "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))", 0.6, rng, 12
    )


def test_buffer_polygon_with_hole():
    rng = np.random.default_rng(6)
    # big hole: its center survives the buffer (hole inradius 2 > r)
    w = _check_buffer(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))",
        0.8,
        rng,
        12,
    )
    k, c, o = geo.parse_wkt(w)
    assert not any(
        geo.classify_points_in_polygon([5.0], [5.0], c2, o2)[0] == 2
        for _k2, c2, o2 in geo.geom_parts(k, c, o)
    )
    # small hole: the buffer swallows it entirely (hole inradius < r)
    w2 = stf._buffer_geom(
        geo.parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4.6 4.6, 5.4 4.6, 5.4 5.4, 4.6 5.4, 4.6 4.6))"),
        0.8,
    )
    k2, c2, o2 = geo.parse_wkt(w2)
    assert all(
        len(oo) == 2 for _kk, _cc, oo in geo.geom_parts(k2, c2, o2)
    )  # no hole survives
    assert stf._areal_area(c2, o2) > 100.0  # grew outward past the shell


def test_buffer_island_in_hole():
    rng = np.random.default_rng(7)
    mp = (
        "MULTIPOLYGON (((0 0, 12 0, 12 12, 0 12, 0 0), (2 2, 10 2, 10 10, 2 10, 2 2)),"
        " ((5 5, 7 5, 7 7, 5 7, 5 5)))"
    )
    w = _check_buffer(mp, 0.5, rng, 14)
    k, c, o = geo.parse_wkt(w)
    # the island grew but stays separated from the outer ring's buffer
    assert k == "MULTIPOLYGON"
    probes = np.asarray([[6.0, 6.0], [6.0, 7.3], [6.0, 8.6]])
    got = np.zeros(3, dtype=bool)
    for _k2, c2, o2 in geo.geom_parts(k, c, o):
        got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c2, o2) == 2
    assert got.tolist() == [True, True, False]


def test_buffer_invalid_inputs():
    g = geo.parse_wkt("POINT (0 0)")
    assert stf._buffer_geom(g, 0.0) is None
    assert stf._buffer_geom(g, float("nan")) is None
    # negative radius: lower-dim subjects erode to nothing (JTS)
    assert stf._buffer_geom(g, -1.0) == "POLYGON EMPTY"
    assert stf._buffer_geom(geo.parse_wkt("LINESTRING (0 0, 4 0)"), -1.0) == "POLYGON EMPTY"


def test_buffer_negative_erosion():
    """Erosion: got == (inside AND dist-to-boundary ≥ |r|) outside the
    sag band; a member thinner than 2|r| vanishes; holes grow."""
    rng = np.random.default_rng(12)
    for wkt_in, r in (
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", -0.5),
        ("POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))", -0.6),
        ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))", -0.5),
    ):
        g = geo.parse_wkt(wkt_in)
        w = stf._buffer_geom(g, r)
        assert w is not None, wkt_in
        k, c, o = geo.parse_wkt(w)
        probes = rng.uniform(-1, 11, size=(4000, 2))
        dist = _dist_to_geom(probes, *g)          # 0 inside
        bdist = np.full(len(probes), np.inf)      # distance to boundary
        kk, cc, oo = g
        for _k2, c2, o2 in geo.geom_parts(kk, cc, oo):
            d2, _cx, _cy = geo._point_to_segments(
                probes[:, 0], probes[:, 1], *geo.polygon_edges(c2, o2)
            )
            bdist = np.minimum(bdist, np.sqrt(d2.min(axis=1)))
        inside = dist == 0.0
        want = inside & (bdist >= -r)
        got = _member(probes, k, c, o) if not w.endswith(" EMPTY") else np.zeros(len(probes), bool)
        band = np.abs(bdist + r) <= (-r) * (SAG + 1e-3)
        assert (got[~band] == want[~band]).all(), wkt_in
    # a 4x4 square erodes by 0.5 to a 3x3 square (sharp corners: exact)
    w = stf._buffer_geom(geo.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"), -0.5)
    k, c, o = geo.parse_wkt(w)
    area = stf._areal_area(c, o)
    assert 9.0 <= area <= 9.0 * (1 + 4 * SAG)
    # thin sliver vanishes entirely
    assert stf._buffer_geom(
        geo.parse_wkt("POLYGON ((0 0, 10 0, 10 0.6, 0 0.6, 0 0))"), -0.5
    ) == "POLYGON EMPTY"


def test_buffer_contains_original():
    rng = np.random.default_rng(8)
    for wkt_in in (
        "POLYGON ((0 0, 5 0, 5 3, 0 3, 0 0))",
        "LINESTRING (0 0, 3 1, 5 0)",
    ):
        g = geo.parse_wkt(wkt_in)
        w = stf._buffer_geom(g, 0.7)
        k, c, o = geo.parse_wkt(w)
        # every vertex of the input is interior to the buffer
        _k0, c0, _o0 = g[0], g[1], g[2]
        got = np.zeros(len(c0), dtype=bool)
        for _k2, c2, o2 in geo.geom_parts(k, c, o):
            got |= geo.classify_points_in_polygon(c0[:, 0], c0[:, 1], c2, o2) == 2
        assert got.all()


def test_buffer_holed_island_inside_hole():
    """Review regression: a HOLED island nested inside another member's
    hole — the island's own hole must stay carved (a bare-shell
    subtraction of the containing member used to swallow the carve)."""
    rng = np.random.default_rng(31)
    mp = (
        "MULTIPOLYGON (((0 0,12 0,12 12,0 12,0 0),(2 2,10 2,10 10,2 10,2 2)),"
        " ((4.5 4.5,7.5 4.5,7.5 7.5,4.5 7.5,4.5 4.5),(5 5,7 5,7 7,5 7,5 5)))"
    )
    w = _check_buffer(mp, 0.3, rng, 13, n=8000)
    k, c, o = geo.parse_wkt(w)
    # (6,6) is 1.0 away from every ring and outside the geometry
    assert not _member(np.asarray([[6.0, 6.0]]), k, c, o)[0]


def test_buffer_spike_reversal_vertices():
    """Advisor regression (r5): a 'spike' vertex where the path doubles
    back along the same line used to be dropped as collinear, silently
    deleting the buffer around the retraced segment. Now collinear
    OVERLAPPING edges merge into maximal segments (the point-set union
    is unchanged), so the distance-field check covers the full extent."""
    rng = np.random.default_rng(33)
    # the advisor's exact case: max x must reach 2 + r, not 1 + r
    w = _check_buffer("LINESTRING (0 0, 2 0, 1 0)", 0.5, rng, 4)
    k, c, o = geo.parse_wkt(w)
    assert _member(np.asarray([[2.3, 0.0]]), k, c, o)[0]
    # overshooting reversal: second edge LONGER than the first
    w = _check_buffer("LINESTRING (0 0, 2 0, -1 0)", 0.5, rng, 4)
    k, c, o = geo.parse_wkt(w)
    assert _member(np.asarray([[2.3, 0.0], [-1.3, 0.0]]), k, c, o).all()
    # zigzag along one line + continuation off-line
    _check_buffer("LINESTRING (0 0, 2 0, 1 0, 3 0, 3 2)", 0.4, rng, 5)
    # spike at the very end of a bent line
    _check_buffer("LINESTRING (0 2, 0 0, 2 0, 0.5 0)", 0.4, rng, 4)


def test_buffer_spiked_ring_honest_null():
    """A zero-width spike in a polygon ring is an invalid polygon: the
    buffer returns None (honest null), never a silently-wrong answer."""
    g = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 2, 2 2, 2 3, 2 2, 0 2, 0 0))")
    assert stf._buffer_geom(g, 0.1) is None
    assert stf._buffer_geom(g, -0.1) is None


def test_buffer_self_crossing_polyline():
    """A self-intersecting polyline's capsules cross each other (once an
    honest null for ~20% of random zig-zags); the sweep cuts at every
    crossing within the capsule set. Distance-field equivalence on the
    audit's first previously-null input."""
    rng = np.random.default_rng(44)
    w = _check_buffer(
        "LINESTRING (0.6349868331 3.848554448, -2.49716731 -1.249264016, "
        "3.415267494 -3.641630718, -3.747138184 -0.2795987302, 1.5 1.5)",
        0.49,
        rng,
        6,
    )
    assert w is not None
    # a figure-eight crossing: buffer must cover the crossing point once
    w2 = _check_buffer("LINESTRING (0 0, 4 4, 4 0, 0 4)", 0.4, rng, 6)
    assert w2 is not None


def test_buffer_zero_length_linestring_is_point_disc():
    """A LINESTRING whose vertices all coincide buffers to the disc of its
    point (JTS), not to null and not to POLYGON EMPTY."""
    rng = np.random.default_rng(45)
    w = _check_buffer("LINESTRING (0 0, 0 0)", 0.5, rng, 2)
    assert w == stf._buffer_geom(geo.parse_wkt("POINT (0 0)"), 0.5)


def test_buffer_non_finite_coordinates_null():
    for wkt_in in ("POINT (nan 0)", "LINESTRING (0 0, inf 1)"):
        g = geo.parse_wkt(wkt_in)
        assert stf._buffer_geom(g, 0.5) is None, wkt_in
        assert stf._buffer_geom(g, -0.5) is None, wkt_in
    # a radius so large the capsule coordinates overflow
    assert stf._buffer_geom(geo.parse_wkt("LINESTRING (0 0, 1 1)"), 1e300) is None


def test_buffer_invalid_polygon_rings_null():
    """Rings that cross each other, and an unclosed ring, are invalid
    polygons: honest null for dilation and erosion alike."""
    for wkt_in in (
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (5 5, 12 5, 12 6, 5 6, 5 5))",
        "POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))",
        "POLYGON ((0 0, 4 0, 4 4, 0 4))",
    ):
        g = geo.parse_wkt(wkt_in)
        assert stf._buffer_geom(g, 0.3) is None, wkt_in
        assert stf._buffer_geom(g, -0.3) is None, wkt_in


def _sweep_input_sizes(monkeypatch):
    """Record the number of edges each slab_region call of _buffer_geom
    receives."""
    seen = []
    real = stf.slab_region

    def spy(ea, eb, ind):
        seen.append(len(ea) + len(eb))
        return real(ea, eb, ind)

    monkeypatch.setattr(stf, "slab_region", spy)
    return seen


def test_buffer_shell_is_one_convolution_cycle(monkeypatch):
    """A polygon shell reaches the sweep as its convolution cycle with
    the 2s-gon: a unit square at r = 1 is 4 translated edges plus 4 arc
    steps per right-angle corner, 20 edges (one capsule per edge plus
    the fill ring was 76)."""
    seen = _sweep_input_sizes(monkeypatch)
    w = _check_buffer("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 1.0, np.random.default_rng(9), 3)
    assert len(seen) == 1 and seen[0] <= 20
    k, c, o = geo.parse_wkt(w)
    # every vertex is a disc vertex: the area is the 16-gon's plus the
    # square and its four translated edges, up to the inscribed sag
    full = 1.0 + 4.0 + np.pi
    assert full * (1 - 2 * SAG) < stf._areal_area(c, o) <= full


@pytest.mark.parametrize(
    "cx, cy, h",
    [(5.0, 5.0, 1.0), (5.123456789, 4.87654321, 0.7371234567)],
    ids=["snapped", "float"],
)
@pytest.mark.parametrize("ratio", [0.8, 1.05, 2.0])
def test_buffer_hole_closes(cx, cy, h, ratio):
    """A square hole of half-width h: at r = 0.8h exactly one (shrunken)
    hole survives; at r ≥ 1.05h every point of the hole is within r of
    a side, so no hole survives and the hole's centre is covered."""
    hole = [(cx - h, cy - h), (cx - h, cy + h), (cx + h, cy + h), (cx + h, cy - h), (cx - h, cy - h)]
    wkt_in = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (%s))" % ", ".join("%.10g %.10g" % p for p in hole)
    r = ratio * h
    w = _check_buffer(wkt_in, r, np.random.default_rng(10), 12, n=8000)
    k, c, o = geo.parse_wkt(w)
    holes = sum(len(oo) - 2 for _k2, _c2, oo in geo.geom_parts(k, c, o))
    assert holes == (1 if ratio < 1 else 0)
    assert _member(np.asarray([[cx, cy]]), k, c, o)[0] == (ratio > 1)


@pytest.mark.parametrize("sign", [-1.0, 1.0])
def test_buffer_hole_skip_threshold(monkeypatch, sign):
    """A hole whose x or y span is below 2·r·cos(0.7π/s) reaches the
    sweep as no ring at all (every point of it lies within the capsule
    band's guaranteed radius of its boundary); just above it keeps its
    ring and capsules. Either way the hole closes."""
    r = 0.5
    span = 2.0 * r * np.cos(0.7 * np.pi / S) + sign * 1e-7
    shell = "(0 0, 10 0, 10 10, 0 10, 0 0)"
    hole = "(3 5, 3 %r, 7 %r, 7 5, 3 5)" % (5 + span, 5 + span)
    seen = _sweep_input_sizes(monkeypatch)
    _check_buffer("POLYGON (%s)" % shell, r, np.random.default_rng(11), 12)
    w = _check_buffer("POLYGON (%s, %s)" % (shell, hole), r, np.random.default_rng(11), 12)
    k, c, o = geo.parse_wkt(w)
    assert sum(len(oo) - 2 for _k2, _c2, oo in geo.geom_parts(k, c, o)) == 0
    assert _member(np.asarray([[5.0, 5 + span / 2]]), k, c, o)[0]
    assert (seen[1] == seen[0]) == (sign < 0)


def test_buffer_collection_polygon_is_one_convolution_cycle(monkeypatch):
    """A GEOMETRYCOLLECTION's polygon members reach the sweep as their
    convolution cycles, as a MULTIPOLYGON's do: two overlapping unit
    squares at r = 1 are 2 × 20 edges (a fill ring plus one capsule per
    edge was 152)."""
    seen = _sweep_input_sizes(monkeypatch)
    _check_buffer(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5)))",
        1.0, np.random.default_rng(12), 4,
    )
    assert seen == [40]


def test_buffer_collection_of_disjoint_polygons_is_its_multipolygon():
    """Disjoint holed polygons buffer to the same bytes whether they are
    spelled as a GEOMETRYCOLLECTION or as a MULTIPOLYGON."""
    a = "((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2.5, 2.5 2.5, 2.5 1, 1 1))"
    b = "((10.5 0.25, 14 0, 13 4.75, 10.5 0.25), (12 1, 12.5 2, 13 1, 12 1))"
    for r in (0.3, 1.0):
        gc = stf._buffer_geom(geo.parse_wkt(f"GEOMETRYCOLLECTION (POLYGON {a}, POLYGON {b})"), r)
        assert gc is not None and gc == stf._buffer_geom(geo.parse_wkt(f"MULTIPOLYGON ({a}, {b})"), r)


@pytest.mark.parametrize("dx", [0.0, 0.1234567891], ids=["snapped", "float"])
@pytest.mark.parametrize("r", [0.2, 0.6, 1.5])
def test_buffer_collection_overlapping_holed_members(r, dx):
    """Overlapping holed members, one member inside another member's
    hole and a polyline across them all: the windings of the members'
    rings add, so the sweep keeps exactly the union of their dilations."""

    def ring(*pts):
        return "(" + ", ".join("%.10g %.10g" % (x + dx, y + dx) for x, y in pts) + ")"

    wkt_in = "GEOMETRYCOLLECTION (%s)" % ", ".join([
        "POLYGON (%s, %s)" % (ring((0, 0), (6, 0), (6, 6), (0, 6), (0, 0)), ring((1, 2), (1, 4), (4, 4), (4, 2), (1, 2))),
        "POLYGON (%s, %s)" % (ring((3, 1), (9, 1), (9, 7), (3, 7), (3, 1)), ring((6.5, 3.5), (6.5, 4.5), (7.5, 4.5), (7.5, 3.5), (6.5, 3.5))),
        "POLYGON (%s)" % ring((1.5, 2.5), (2.5, 2.5), (2.5, 3.5), (1.5, 3.5), (1.5, 2.5)),
        "LINESTRING %s" % ring((-2, -1), (10, 8)),
    ])
    _check_buffer(wkt_in, r, np.random.default_rng(13), 12, n=8000)
