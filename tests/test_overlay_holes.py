"""Round-4 overlay hardening: holed-operand overlay and degenerate
shared-edge contact (both answered by the slab sweep), transitive member
merging, and multi-part DE-9IM goldens.

Pure-numpy tests (no SparkSession): they exercise the same kernels the
st_intersection/st_difference/st_union pandas UDFs dispatch to. Property
style follows tests/test_geometry_overlay.py — area identities plus
Monte-Carlo membership, with degenerate trials honestly skipped."""

from __future__ import annotations

import numpy as np
import pytest

from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions import st_functions as stf


def _star(rng, n, cx, cy, rmin=1.0, rmax=3.0, jitter_grid=False):
    if jitter_grid:
        # jittered uniform grid bounds the max angular gap to <2·(2π/n),
        # so every chord stays at distance ≥ rmin·cos(2π/n) from the
        # center — the shell provably contains the fixed-offset holes
        ang = (np.arange(n) + rng.uniform(0.1, 0.9, n)) * (2 * np.pi / n)
    else:
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(rmin, rmax, n)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


def _holed(rng, cx, cy):
    """Star shell with two small star holes at fixed interior offsets —
    holes inside the shell (shell inradius ≥ 2.2·cos(2π/10) ≈ 1.78 >
    hole reach 0.85·√2 + 0.45 ≈ 1.65) and mutually disjoint by
    construction."""
    shell = _star(rng, int(rng.integers(10, 14)), cx, cy, 2.2, 3.5, jitter_grid=True)
    holes = [
        _star(rng, int(rng.integers(4, 7)), cx - 0.85, cy - 0.85, 0.15, 0.45),
        _star(rng, int(rng.integers(4, 7)), cx + 0.85, cy + 0.85, 0.15, 0.45),
    ]
    coords = np.concatenate([shell] + holes)
    offs = np.concatenate([[0], np.cumsum([len(shell)] + [len(h) for h in holes])])
    return "POLYGON", coords, offs


def _geom_area(g):
    return stf._areal_area(g[1], g[2])


def _result_area(wkt):
    if wkt is None:
        return None
    if wkt.endswith(" EMPTY"):
        return 0.0
    k, c, o = geo.parse_wkt(wkt)
    if k in ("POLYGON", "MULTIPOLYGON"):
        return stf._areal_area(c, o)
    return 0.0


def _member(probes, kind, coords, offs):
    got = np.zeros(len(probes), dtype=bool)
    for _k, c, o in geo.geom_parts(kind, coords, offs):
        got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2
    return got


def _near_any_edge(probes, geoms, tol=1e-9):
    excl = np.zeros(len(probes), dtype=bool)
    for kind, coords, offs in geoms:
        for _k, c, o in geo.geom_parts(kind, coords, offs):
            for r in range(len(o) - 1):
                ring = c[o[r]:o[r + 1]]
                d2, _cx, _cy = geo._point_to_segments(
                    probes[:, 0], probes[:, 1], *geo.line_edges(ring)
                )
                excl |= d2.min(axis=1) < tol
    return excl


def test_holed_overlay_property():
    """Holed × holed star polygons: area(A∩B)+area(A\\B)==area(A) (both
    orders), the union inclusion–exclusion identity, and Monte-Carlo
    membership equivalence for all three operators."""
    rng = np.random.default_rng(11)
    ok = skipped = 0
    for trial in range(120):
        A = _holed(rng, 0.0, 0.0)
        B = _holed(rng, float(rng.uniform(-2.5, 2.5)), float(rng.uniform(-2.5, 2.5)))
        w_i = stf._overlay_intersection(A, B)
        w_d = stf._overlay_difference(A, B)
        w_db = stf._overlay_difference(B, A)
        w_u = stf._overlay_union(A, B)
        if any(w is None for w in (w_i, w_d, w_db, w_u)):
            skipped += 1
            continue
        aa, ab = _geom_area(A), _geom_area(B)
        ai = _result_area(w_i)
        assert ai + _result_area(w_d) == pytest.approx(aa, rel=1e-9, abs=1e-9), trial
        assert ai + _result_area(w_db) == pytest.approx(ab, rel=1e-9, abs=1e-9), trial
        assert _result_area(w_u) == pytest.approx(aa + ab - ai, rel=1e-9, abs=1e-9), trial
        probes = rng.uniform(-6.5, 6.5, size=(200, 2))
        in_a = _member(probes, *A)
        in_b = _member(probes, *B)
        results = {}
        for name, w in (("i", w_i), ("d", w_d), ("u", w_u)):
            k, c, o = geo.parse_wkt(w)
            results[name] = (k, c, o)
        excl = _near_any_edge(probes, [A, B] + list(results.values()))
        got_i = _member(probes, *results["i"])
        got_d = _member(probes, *results["d"])
        got_u = _member(probes, *results["u"])
        assert (got_i[~excl] == (in_a & in_b)[~excl]).all(), trial
        assert (got_d[~excl] == (in_a & ~in_b)[~excl]).all(), trial
        assert (got_u[~excl] == (in_a | in_b)[~excl]).all(), trial
        ok += 1
    assert ok > 80 and skipped < 40


def test_holed_vs_holefree_consistency():
    """A holed subject against a hole-free clip must agree with the
    decomposition (shell op clip) corrected by the holes."""
    sq = lambda x0, y0, s: np.asarray(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], float
    )
    shell, hole = sq(0, 0, 10), sq(3, 3, 2)
    A = ("POLYGON", np.concatenate([shell, hole]), np.asarray([0, 5, 10]))
    B = ("POLYGON", sq(4, -1, 8), np.asarray([0, 5]))
    # A∩B = (shell∩B) minus hole∩B: [4,10]×[0,7]=42 minus [4,5]×[3,5]=2
    ai = _result_area(stf._overlay_intersection(A, B))
    want = 42.0 - 2.0
    assert ai == pytest.approx(want)
    ad = _result_area(stf._overlay_difference(A, B))
    assert ad == pytest.approx((100.0 - 4.0) - want)
    au = _result_area(stf._overlay_union(A, B))
    assert au == pytest.approx((100.0 - 4.0) + 64.0 - want)
    # the hole survives in the union only where B doesn't cover it:
    # probe (3.5, 4) is in hole∩B → union covers it; (3.2, 3.2) outside B
    k, c, o = geo.parse_wkt(stf._overlay_union(A, B))
    assert _member(np.asarray([[4.5, 4.0]]), k, c, o)[0]
    assert not _member(np.asarray([[3.2, 3.2]]), k, c, o)[0]


def test_union_hole_filled_exactly():
    sq = lambda x0, y0, s: np.asarray(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], float
    )
    A = ("POLYGON", np.concatenate([sq(0, 0, 4), sq(1, 1, 2)]), np.asarray([0, 5, 10]))
    B = ("POLYGON", sq(1, 1, 2), np.asarray([0, 5]))
    assert _result_area(stf._overlay_union(A, B)) == pytest.approx(16.0)
    # and a partial fill keeps the uncovered part of the hole open
    B2 = ("POLYGON", sq(1, 1, 1), np.asarray([0, 5]))
    w = stf._overlay_union(A, B2)
    assert _result_area(w) == pytest.approx(13.0)
    k, c, o = geo.parse_wkt(w)
    assert not _member(np.asarray([[2.5, 2.5]]), k, c, o)[0]  # still a hole
    assert _member(np.asarray([[1.5, 1.5]]), k, c, o)[0]      # filled by B2


def test_shared_edge_goldens():
    """Degenerate contact answered by the slab sweep (and, for an
    intersection with no area, the operands' shared boundary linework):
    the JTS canonical answers for edge-adjacent, corner-touching,
    covered-with-contact, and equal operands."""
    g = geo.parse_wkt
    C = g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    D = g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
    # edge-adjacent: union merges, intersection is the shared edge
    assert _result_area(stf._overlay_union(C, D)) == pytest.approx(2.0)
    ik, ic, io = geo.parse_wkt(stf._overlay_intersection(C, D))
    assert ik == "LINESTRING"
    assert np.hypot(*(ic[1] - ic[0])) == pytest.approx(1.0)
    assert stf._overlay_difference(C, D) == "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    # corner touch: union keeps two members, intersection is the point
    P = g("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
    uk, _uc, uo = geo.parse_wkt(stf._overlay_union(C, P))
    assert uk == "MULTIPOLYGON" and len(uo) == 3
    assert stf._overlay_intersection(C, P) == "POINT (1 1)"
    # covered with boundary contact: A minus its right half
    E = g("POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))")
    half = g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
    dk, dc, do_ = geo.parse_wkt(stf._overlay_difference(E, half))
    assert dk == "POLYGON" and stf._areal_area(dc, do_) == pytest.approx(1.0)
    assert not _member(np.asarray([[1.5, 0.5]]), dk, dc, do_)[0]
    assert _member(np.asarray([[0.5, 0.5]]), dk, dc, do_)[0]
    assert stf._overlay_intersection(E, half) == geo.wkt_any(*half)
    assert _result_area(stf._overlay_union(E, half)) == pytest.approx(2.0)
    # equal operands
    assert stf._overlay_union(C, C) == geo.wkt_any(*C)
    assert stf._overlay_intersection(C, C) == geo.wkt_any(*C)
    assert stf._overlay_difference(C, C) == "POLYGON EMPTY"
    # interior notch subtraction touching the outer boundary
    A4 = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    notch = g("POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))")
    nd = stf._overlay_difference(A4, notch)
    assert _result_area(nd) == pytest.approx(12.0)
    k, c, o = geo.parse_wkt(nd)
    assert not _member(np.asarray([[2.0, 1.0]]), k, c, o)[0]
    # a hole ring exactly filled by the clip: intersection collapses to
    # the shared boundary linework
    H = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))")
    B2 = g("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    assert _result_area(stf._overlay_union(H, B2)) == pytest.approx(16.0)
    lk, lc, _lo = geo.parse_wkt(stf._overlay_intersection(H, B2))
    assert lk == "LINESTRING" and len(lc) == 5


def test_transitive_member_merge():
    """A member spanning several parts merges them transitively instead
    of returning null."""
    g = geo.parse_wkt
    MP = g("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))")
    strip = g("POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))")
    w = stf._overlay_union(MP, strip)
    assert _result_area(w) == pytest.approx(16.0 + 16.0 + 20.0 - 4.0 - 4.0)
    k, _c, o = geo.parse_wkt(w)
    assert k == "POLYGON" and len(o) == 2  # one merged ring, no voids
    # three parts bridged by one member
    MP3 = g(
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)),"
        " ((20 0, 24 0, 24 4, 20 4, 20 0)))"
    )
    strip3 = g("POLYGON ((2 1, 22 1, 22 3, 2 3, 2 1))")
    w3 = stf._overlay_union(MP3, strip3)
    # strip3 overlaps the members by 4 + 8 + 4 (member 2 is spanned fully)
    assert _result_area(w3) == pytest.approx(48.0 + 40.0 - 16.0)


# --- DE-9IM goldens for multi-part operands (round-3 verdict ask #8) --------

MULTIPART_DE9IM = [
    # MULTIPOLYGON vs strip overlapping both members
    (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))",
        "POLYGON ((2 1, 12 1, 12 3, 2 3, 2 1))",
        "212101212",
    ),
    # MULTIPOLYGON contains a polygon inside one member
    (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))",
        "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
        "212FF1FF2",
    ),
    # MULTIPOLYGON disjoint from a polygon
    (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))",
        "POLYGON ((20 20, 24 20, 24 24, 20 24, 20 20))",
        "FF2FF1212",
    ),
    # MULTIPOLYGON touches a polygon along one member's edge
    (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))",
        "POLYGON ((14 0, 18 0, 18 4, 14 4, 14 0))",
        "FF2F11212",
    ),
    # GEOMETRYCOLLECTION(point, polygon) vs polygon inside the GC polygon
    (
        "GEOMETRYCOLLECTION (POINT (20 20), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
        "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
        "212FF1FF2",
    ),
    # GEOMETRYCOLLECTION vs polygon covering only the point member
    (
        "GEOMETRYCOLLECTION (POINT (20 20), POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
        "POLYGON ((19 19, 21 19, 21 21, 19 21, 19 19))",
        "0F2FF1212",
    ),
    # MULTIPOLYGON vs MULTIPOLYGON: each member contains one B member
    (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 0, 14 0, 14 4, 10 4, 10 0)))",
        "MULTIPOLYGON (((1 1, 2 1, 2 2, 1 2, 1 1)), ((11 1, 12 1, 12 2, 11 2, 11 1)))",
        "212FF1FF2",
    ),
    # holed MULTIPOLYGON member: B sits inside the hole → disjoint
    (
        "MULTIPOLYGON (((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2)))",
        "POLYGON ((3 3, 5 3, 5 5, 3 5, 3 3))",
        "FF2FF1212",
    ),
]


def test_de9im_multipart_goldens():
    for a, b, want in MULTIPART_DE9IM:
        ga, gb = geo.parse_wkt(a), geo.parse_wkt(b)
        got = geo.de9im(geo.relate_geoms(*ga, *gb))
        assert got == want, (a, b, want, got)


def test_de9im_gc_open_linestring_boundary():
    """Advisor regression (r5): an open LINESTRING part's boundary is
    two DISCONNECTED points, so the whole-part per-opposite-part MIN is
    unsound when the other side is multi-part. The combination now
    applies the MIN per endpoint COMPONENT (each a connected point).
    Here each endpoint sits inside a different B member, so B(A)∩E(B)
    is truly 'F'; the buggy exact path returned '0'."""
    A = geo.parse_wkt("GEOMETRYCOLLECTION (LINESTRING (0 0, 10 0))")
    B = geo.parse_wkt(
        "MULTIPOLYGON (((-1 -1, 1 -1, 1 1, -1 1, -1 -1)),"
        " ((9 -1, 11 -1, 11 1, 9 1, 9 -1)))"
    )
    assert geo.de9im(geo.relate_geoms(*A, *B)) == "1010FF212"
    # one endpoint inside a member, one in the open: BE is truly '0'
    B0 = geo.parse_wkt(
        "MULTIPOLYGON (((-1 -1, 1 -1, 1 1, -1 1, -1 -1)),"
        " ((4 -1, 6 -1, 6 1, 4 1, 4 -1)))"
    )
    got0 = geo.de9im(geo.relate_geoms(*A, *B0))
    assert got0[5] == "0", got0
    # symmetric side: open-line GC on the B side of a MULTIPOLYGON A —
    # the transpose of the matrix above (E(A)∩B(B) is the exact cell)
    assert geo.de9im(geo.relate_geoms(*B, *A)) == "1020F11F2"
    # single-part opposite side: min over one part is trivially exact,
    # the open-line GC keeps the exact combination
    B1 = geo.parse_wkt("POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))")
    assert geo.de9im(geo.relate_geoms(*A, *B1)) == "1010F0212"
    # closed-ring LINESTRING part: empty boundary is connected, exact
    # combination allowed — ring inside one member, disjoint matrix rows
    A2 = geo.parse_wkt(
        "GEOMETRYCOLLECTION (LINESTRING (-0.5 -0.5, 0.5 -0.5, 0.5 0.5,"
        " -0.5 0.5, -0.5 -0.5))"
    )
    assert geo.de9im(geo.relate_geoms(*A2, *B)) == "1FFFFF212"


def test_chain_closed_rings_contract():
    """The rechainer refuses ambiguity: an open chain and a degree-4
    junction both return None; a clean split rectangle re-chains."""
    seg = lambda *pts: np.asarray(pts, dtype=np.float64)
    ok = geo.chain_closed_rings(
        [seg((0, 0), (1, 0)), seg((1, 0), (1, 1), (0, 1)), seg((0, 1), (0, 0))]
    )
    assert ok is not None and len(ok) == 1 and len(ok[0]) == 5
    assert geo.chain_closed_rings([seg((0, 0), (1, 0)), seg((1, 0), (1, 1))]) is None
    # degree-4 junction at (1, 0)
    assert (
        geo.chain_closed_rings(
            [
                seg((0, 0), (1, 0)),
                seg((1, 0), (0, 0)),
                seg((2, 0), (1, 0)),
                seg((1, 0), (2, 0)),
            ]
        )
        is None
    )


def test_collection_and_mixed_dim_overlays():
    """Round-4: GEOMETRYCOLLECTION operands decompose per-part for
    intersection/difference; mixed-dimension unions return
    GEOMETRYCOLLECTION(higher, lower \\ higher), JTS semantics."""
    g = geo.parse_wkt
    GC = g(
        "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 5, 10 5),"
        " POLYGON ((20 0, 24 0, 24 4, 20 4, 20 0)))"
    )
    B = g("POLYGON ((0 0, 22 0, 22 6, 0 6, 0 0))")
    w = stf._overlay_intersection(GC, B)
    k, c, o = geo.parse_wkt(w)
    parts = geo.geom_parts(k, c, o)
    kinds = sorted(p[0] for p in parts)
    assert kinds == ["LINESTRING", "POINT", "POLYGON"]
    assert stf._overlay_intersection(B, GC) == w  # commutes
    assert _result_area(stf._overlay_difference(GC, B)) == pytest.approx(8.0)
    # B minus a collection of two disjoint squares: both punch holes
    holes2 = g(
        "GEOMETRYCOLLECTION (POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1)),"
        " POLYGON ((5 1, 7 1, 7 3, 5 3, 5 1)))"
    )
    w2 = stf._overlay_difference(B, holes2)
    k2, _c2, o2 = geo.parse_wkt(w2)
    assert k2 == "POLYGON" and len(o2) == 4  # shell + 2 holes
    assert stf._areal_area(_c2, o2) == pytest.approx(22 * 6 - 8.0)
    # mixed-dim union: line pierces the polygon, outside parts survive
    w3 = stf._overlay_union(g("LINESTRING (0 3, 12 3)"), g("POLYGON ((2 0, 6 0, 6 6, 2 6, 2 0))"))
    k3, c3, o3 = geo.parse_wkt(w3)
    parts3 = geo.geom_parts(k3, c3, o3)
    lens = sum(
        np.hypot(*(cc[1] - cc[0])) for kk, cc, _oo in parts3 if kk == "LINESTRING"
    )
    assert lens == pytest.approx(2.0 + 6.0)
    # a point inside the polygon is absorbed entirely
    assert stf._overlay_union(g("POINT (1 1)"), g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")) == (
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    )


def test_gc_union_by_dimension():
    """GEOMETRYCOLLECTION union re-unions canonically by dimension:
    areal parts merge, linework keeps only what lies outside the areal
    result, points keep only what no higher dimension covers."""
    g = geo.parse_wkt
    GC = g(
        "GEOMETRYCOLLECTION (POINT (1 1), POINT (30 30),"
        " LINESTRING (0 5, 12 5), POLYGON ((20 0, 24 0, 24 4, 20 4, 20 0)))"
    )
    B = g("POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))")
    w = stf._overlay_union(GC, B)
    k, c, o = geo.parse_wkt(w)
    parts = geo.geom_parts(k, c, o)
    assert _result_area(w) is not None or True
    areal = sum(
        abs(geo.polygon_area_deg2(cc, oo)) for kk, cc, oo in parts if kk == "POLYGON"
    )
    assert areal == pytest.approx(16.0 + 36.0)
    lines = [cc for kk, cc, _oo in parts if kk == "LINESTRING"]
    assert len(lines) == 1 and np.hypot(*(lines[0][-1] - lines[0][0])) == pytest.approx(6.0)
    pts = [tuple(cc[0]) for kk, cc, _oo in parts if kk == "POINT"]
    assert pts == [(30.0, 30.0)]  # (1,1) was absorbed by B
    # GC ∪ GC: both sides decompose
    w2 = stf._overlay_union(
        GC, g("GEOMETRYCOLLECTION (POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2)), POINT (40 40))")
    )
    k2, c2, o2 = geo.parse_wkt(w2)
    parts2 = geo.geom_parts(k2, c2, o2)
    npts = sum(1 for kk, *_ in parts2 if kk == "POINT")
    nlines = sum(1 for kk, *_ in parts2 if kk == "LINESTRING")
    assert npts == 3 and nlines == 2  # line split around the 2..8 polygon


def test_buffer_geometrycollection():
    from tests.test_buffer import _dist_to_geom, SAG

    rng = np.random.default_rng(9)
    g = geo.parse_wkt("GEOMETRYCOLLECTION (POINT (0 0), LINESTRING (5 0, 9 0))")
    w = stf._buffer_geom(g, 0.5)
    assert w is not None
    k, c, o = geo.parse_wkt(w)
    probes = rng.uniform(-2, 11, size=(3000, 2))
    dist = _dist_to_geom(probes, *g)
    got = _member(probes, k, c, o)
    band = np.abs(dist - 0.5) <= 0.5 * (SAG + 1e-3)
    assert (got[~band] == (dist <= 0.5)[~band]).all()


def test_symdifference():
    """st_symDifference: (A∪B)\\(A∩B) preferred form — area identity
    area(AΔB) == area(A)+area(B)−2·area(A∩B) on random star pairs, and
    canonical goldens for equal/touching/line operands."""
    g = geo.parse_wkt
    A = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    w = stf._overlay_symdifference(A, B)
    k, c, o = geo.parse_wkt(w)
    # two hole-free L-shaped members meeting at (2 4) and (4 2): the
    # OGC-valid form (JTS returns the same), not one ring whose A∩B hole
    # pinches the shell at two points
    members = geo.geom_parts(k, c, o)
    assert k == "MULTIPOLYGON" and len(members) == 2
    assert all(len(mo) == 2 for _mk, _mc, mo in members)
    assert stf._areal_area(c, o) == 24.0
    rng = np.random.default_rng(19)
    probes = np.column_stack([rng.uniform(-1, 7, 4000), rng.uniform(-1, 7, 4000)])
    near = _near_any_edge(probes, [A, B, (k, c, o)], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, k, c, o)
    assert not ((in_r != (in_a ^ in_b)) & ~near).any()
    assert stf._overlay_symdifference(A, A) == "POLYGON EMPTY"
    assert stf._overlay_symdifference(
        g("LINESTRING (0 0, 4 0)"), g("LINESTRING (2 0, 6 0)")
    ) == "MULTILINESTRING ((0 0, 2 0), (4 0, 6 0))"
    # edge-adjacent: symdiff == union (intersection is measure-zero)
    t = stf._overlay_symdifference(
        g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"), g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
    )
    assert _result_area(t) == pytest.approx(2.0)
    rng = np.random.default_rng(21)
    ok = skip = 0
    for _t in range(60):
        a = ("POLYGON", _star(rng, 8, 0, 0), np.asarray([0, 9]))
        b = (
            "POLYGON",
            _star(rng, 8, float(rng.uniform(-2, 2)), float(rng.uniform(-2, 2))),
            np.asarray([0, 9]),
        )
        w = stf._overlay_symdifference(a, b)
        i = stf._overlay_intersection(a, b)
        if w is None or i is None:
            skip += 1
            continue
        aa, ab = _geom_area(a), _geom_area(b)
        ii = _result_area(i)
        assert _result_area(w) == pytest.approx(aa + ab - 2 * ii, rel=1e-8, abs=1e-8)
        ok += 1
    assert ok > 40 and skip < 15


def test_difference_near_touch_hole_stays_outside():
    """Regression (round-5 MC audit): subtracting B split A into pieces
    whose edge passed 8.9e-16 from A's hole corner; the exact contact
    matrices saw no touch while the corner SAMPLE classified inside, and
    the no-shell-contact branch punched the (fully outside) hole into
    that piece — flipping every even-odd reader over the hole's area.
    The majority-vote side test now leaves the piece untouched."""
    A = geo.parse_wkt(
        "POLYGON ((-1 -3, 6 2, 3 5, 0 5, -2 4, -1 -3), "
        "(-0 1, 1.5 1, 1.5 2.5, -0 2.5, -0 1))"
    )
    B = geo.parse_wkt(
        "POLYGON ((-5 -3, -4 -5, -1 -6, 1 -6, 4 -4, 2 2, 1 3, -5 -3), "
        "(-0.5 -3.5, 1 -3.5, 1 -1.5, -0.5 -1.5, -0.5 -3.5))"
    )
    w = stf._overlay_difference(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # the witness probe sits inside A's hole (not in A) — it must not be
    # claimed by the result
    assert not _member(np.asarray([[0.054637148676818, 1.7950678412809822]]), *gr)[0]
    # full Monte-Carlo membership equivalence on a deterministic grid
    rng = np.random.default_rng(7)
    probes = np.column_stack([rng.uniform(-6, 7, 4000), rng.uniform(-7, 6, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a & ~in_b)) & ~near).any()
    # point-set area == inclusion-exclusion identity
    inter = stf._overlay_intersection(A, B)
    assert _result_area(w) == pytest.approx(_geom_area(A) - _result_area(inter), rel=1e-9)


def test_symdifference_pinch_vertex_hole_grouping():
    """Regression (round-5 MC audit): A Δ B in the union-with-
    intersection-hole form yields a hole ALL of whose vertices are pinch
    points ON the union shell. multipolygon_parts' vertex-only
    containment vote then fully abstained and orphaned the hole into its
    own filled shell — doubling the intersection region for any
    part-union reader. Edge midpoints now vote too."""
    A = geo.parse_wkt(
        "POLYGON ((4.216012079 2.137448752, 3.703435706 2.595488684, "
        "-0.1879512167 2.638832547, -0.7326042607 2.169027258, "
        "1.253003475 -3.466624011, 4.216012079 2.137448752), "
        "(0.4073813638 0.09805368557, 1.615676706 0.09805368557, "
        "1.615676706 1.306349028, 0.4073813638 1.306349028, "
        "0.4073813638 0.09805368557))"
    )
    B = geo.parse_wkt(
        "POLYGON ((1.245416066 3.367876862, -2.38299289 0.5541000034, "
        "-2.437214609 0.2649433219, -2.443646673 0.2187577455, "
        "-2.213620291 -1.611000588, 3.392063697 -3.112136974, "
        "1.245416066 3.367876862), "
        "(0.8906103919 -0.7688997976, 2.022109951 -0.7688997976, "
        "2.022109951 0.3625997613, 0.8906103919 0.3625997613, "
        "0.8906103919 -0.7688997976))"
    )
    w = stf._overlay_symdifference(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # witness probe inside A∩B: symdiff must exclude it
    assert not _member(np.asarray([[1.8428259982501487, -2.259192367505113]]), *gr)[0]
    rng = np.random.default_rng(8)
    probes = np.column_stack([rng.uniform(-3, 5, 4000), rng.uniform(-4, 4, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a ^ in_b)) & ~near).any()
    inter = stf._overlay_intersection(A, B)
    assert _result_area(w) == pytest.approx(
        _geom_area(A) + _geom_area(B) - 2 * _result_area(inter), rel=1e-9
    )


def test_union_hole_partially_covered_by_other_operand():
    """Regression (round-5 MC audit): A's boundary slices through B's
    hole purely via touch contacts (edge through one hole corner, a
    vertex ON the opposite hole edge), and the touch point IS the edge
    midpoint. A ∪ B must not keep B's hole whole: A covers part of it
    (a midpoint-sampling contact test once declared the pair
    'disjoint')."""
    A = geo.parse_wkt(
        "POLYGON ((-3 -1, 0 -4, 1 -3, 1 2, -1 2, -3 1, -3 -1), "
        "(-1 -0.5, -0 -0.5, -0 0.5, -1 0.5, -1 -0.5))"
    )
    B = geo.parse_wkt(
        "POLYGON ((-6 2, -6 -0, 3 2, 3 3, -1 6, -6 2), "
        "(-2 1.5, -1 1.5, -1 2.5, -2 2.5, -2 1.5))"
    )
    w = stf._overlay_union(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # witness: inside B's hole but covered by A — the union must keep it
    assert _member(np.asarray([[-1.5, 1.6]]), *gr)[0]
    rng = np.random.default_rng(5)
    probes = np.column_stack([rng.uniform(-7, 4, 4000), rng.uniform(-5, 7, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a | in_b)) & ~near).any()
    inter = stf._overlay_intersection(A, B)
    assert _result_area(w) == pytest.approx(
        _geom_area(A) + _geom_area(B) - _result_area(inter), rel=1e-9
    )


def test_relate_covers_notch_between_contact_vertices():
    """Regression (round-5 MC audit): D = C \\ notch shares every vertex
    and edge-midpoint sample of C's boundary, so relate_geoms declared
    D ⊇ C (every sample ON D's boundary), de9im read IE='F', and the
    covered-difference fast path answered C \\ D = EMPTY — losing the
    notch. Contact-interval sampling now threads between the other
    polygon's on-edge vertices."""
    C = geo.parse_wkt(
        "POLYGON ((3 5, 5 5, 9 5, 9 6, 5 6, 5 8, 3 8, 3 6, 0 6, 0 5, 3 5))"
    )
    D = geo.parse_wkt(
        "MULTIPOLYGON (((0 5, 3 5, 3 6, 0 6, 0 5)), "
        "((3 7, 4 7, 4 5, 5 5, 9 5, 9 6, 5 6, 5 8, 4 8, 3 8, 3 7)))"
    )
    m = geo.relate_geoms(*C, *D)
    assert not geo.pred_covered_by(m)  # C has interior outside D (the notch)
    assert geo.de9im(m)[2] == "2"  # I(C) ∩ E(D) is the 2-D notch
    # end-to-end: the GC-with-overlapping-members intersection that
    # exposed it (was POLYGON EMPTY; truth is the 1x2 notch rect)
    A = geo.parse_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((3 5, 5 5, 5 8, 3 8, 3 5)), "
        "POLYGON ((0 5, 9 5, 9 6, 0 6, 0 5)))"
    )
    B = geo.parse_wkt("POLYGON ((3 1, 4 1, 4 7, 3 7, 3 1))")
    w = stf._overlay_intersection(A, B)
    assert w is not None and not w.endswith("EMPTY")
    assert _result_area(w) == pytest.approx(2.0)
    gr = geo.parse_wkt(w)
    assert _member(np.asarray([[3.5, 5.5]]), *gr)[0]


def test_symdifference_shared_edge_chain_degenerate_slivers():
    """Regression (round-5 MC audit): operands sharing a two-edge
    boundary chain made the intersection emit an exactly-zero-area
    sliver ring and duplicate consecutive vertices; the u \\ i subtract
    kernels then exploded into 29 overlapping pieces (24% probe
    mismatch)."""
    A = geo.parse_wkt(
        "POLYGON ((-6 1, -5 -2, -4 -3, -2 -4, 6 4, 5 5, -1 8, -6 1), "
        "(-1.5 0, 0 0, 0 2, -1.5 2, -1.5 0))"
    )
    B = geo.parse_wkt(
        "POLYGON ((-5 -2, -4 -3, -2 -4, -0 7, -2 7, -6 3, -5 -2))"
    )
    w = stf._overlay_symdifference(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    rng = np.random.default_rng(13)
    probes = np.column_stack([rng.uniform(-7, 7, 4000), rng.uniform(-5, 9, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a ^ in_b)) & ~near).any()
    inter = stf._overlay_intersection(A, B)
    assert _result_area(w) == pytest.approx(
        _geom_area(A) + _geom_area(B) - 2 * _result_area(inter), rel=1e-9
    )


def test_union_island_in_hole_covered_by_other():
    """Regression (round-5 MC audit, nested_islands class): B's boundary
    lies entirely ON A's closure while B's interior swallows A's whole
    hole-annulus (hole minus nested island) — invisible to boundary
    sampling, and the old hole-centroid probe landed INSIDE the island.
    relate wrongly said A covers B, and the covered-operand fast path
    returned A for A ∪ B. The exact scanline escape witness
    (geo._escape_witness) now disproves covers."""
    A = geo.parse_wkt(
        "MULTIPOLYGON (((-5 -7, 5 -7, 5 3, -5 3, -5 -7), "
        "(-3 -5, 3 -5, 3 1, -3 1, -3 -5)), "
        "((-1 -3, 1 -3, 1 -1, -1 -1, -1 -3)))"
    )
    B = geo.parse_wkt("POLYGON ((-5 -5, 3 -5, 3 3, -5 3, -5 -5))")
    assert not geo.pred_covers(geo.relate_geoms(*A, *B))
    w = stf._overlay_union(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # witness: in A's hole annulus (outside the island), inside B
    assert _member(np.asarray([[-2.4310262366, -1.1731385725]]), *gr)[0]
    rng = np.random.default_rng(17)
    probes = np.column_stack([rng.uniform(-6, 6, 4000), rng.uniform(-8, 4, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a | in_b)) & ~near).any()
    s = stf._overlay_symdifference(A, B)
    assert s is not None
    gs = geo.parse_wkt(s)
    in_s = _member(probes, *gs)
    near_s = _near_any_edge(probes, [A, B, gs], tol=1e-9)
    assert not ((in_s != (in_a ^ in_b)) & ~near_s).any()


def test_symdifference_nested_holes_spike_ring():
    """Regression (round-5 MC audit, N=2000): A's hole nested inside B's
    hole with shared corner/edges made the intersection emit a hole-
    union ring threading the nested hole's corners via an exact
    zero-width backtrack spike; the u \\ i add-back intersect kernel
    answered EMPTY on the spiked ring, silently losing the H_B \\ H_A
    patch."""
    A = geo.parse_wkt(
        "POLYGON ((-4 -1, 2 -2, 3 -2, 2 2, -0 3, -4 -1), "
        "(-1 -1, -0.5 -1, -0.5 -0, -1 -0, -1 -1))"
    )
    B = geo.parse_wkt(
        "POLYGON ((-5 -1, -4 -2, 1 -5, 5 -4, 6 -2, 5 6, -4 4, -5 -1), "
        "(-1 -1, 0 -1, 0 0.5, -1 0.5, -1 -1))"
    )
    w = stf._overlay_symdifference(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # witness: inside B's hole but outside A's nested hole ⇒ in A only
    assert _member(np.asarray([[-0.20984242, -0.87200809]]), *gr)[0]
    rng = np.random.default_rng(23)
    probes = np.column_stack([rng.uniform(-6, 7, 4000), rng.uniform(-6, 7, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a ^ in_b)) & ~near).any()
    inter = stf._overlay_intersection(A, B)
    assert _result_area(w) == pytest.approx(
        _geom_area(A) + _geom_area(B) - 2 * _result_area(inter), rel=1e-9
    )


def test_areal_difference_disjoint_piece_gate():
    """Regression (round-5 MC audit, N=2000): a holed_snapped u \\ i with
    a 4-member degenerate intersection drove the member-subtraction
    chain into overlapping sliver pieces (duplicated zero-area parts, a
    piece holed by its own fp-noise twin) without any step nulling —
    parity area 72.74 vs the true 68.69. The slab sweep answers the
    pair directly, gated by its exact area identity."""
    A = geo.parse_wkt(
        "POLYGON ((-5 -3, 1 -4, 4 -1, 2 7, -4 7, -5 6, -5 -3), "
        "(-2 0, 0.5 0, 0.5 2.5, -2 2.5, -2 0))"
    )
    B = geo.parse_wkt("POLYGON ((1 -3, 2 -3, 4 -1, -1 3, -2 3, -3 2, 1 -3))")
    w = stf._overlay_symdifference(A, B)
    assert w is not None
    gr = geo.parse_wkt(w)
    # witness: inside both operands ⇒ excluded from the symdifference
    assert not _member(np.asarray([[1.5834590002, 0.7047495466]]), *gr)[0]
    rng = np.random.default_rng(29)
    probes = np.column_stack([rng.uniform(-6, 5, 4000), rng.uniform(-5, 8, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b, in_r = _member(probes, *A), _member(probes, *B), _member(probes, *gr)
    assert not ((in_r != (in_a ^ in_b)) & ~near).any()
    # mixed-dimension gate false-positive guard: GC intersection result
    # (polygon + touching-edge linework) must NOT null the symdiff
    A2 = geo.parse_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((3 1, 8 1, 8 6, 3 6, 3 1)), "
        "POLYGON ((1 2, 3 2, 3 5, 1 5, 1 2)))"
    )
    B2 = geo.parse_wkt("POLYGON ((0 5, 9 5, 9 9, 0 9, 0 5))")
    w2 = stf._overlay_symdifference(A2, B2)
    assert w2 is not None


def _assert_probe_identity(A, B, w, op, rng, box):
    """p ∈ op(A, B) == BOOL_op(p ∈ A, p ∈ B) off every edge of A, B and
    the result."""
    gr = geo.parse_wkt(w)
    x0, y0, x1, y1 = box
    probes = np.column_stack([rng.uniform(x0, x1, 4000), rng.uniform(y0, y1, 4000)])
    near = _near_any_edge(probes, [A, B, gr], tol=1e-9)
    in_a, in_b = _member(probes, *A), _member(probes, *B)
    want = {
        "intersection": in_a & in_b,
        "union": in_a | in_b,
        "difference": in_a & ~in_b,
        "symdifference": in_a ^ in_b,
    }[op]
    got = np.zeros(len(probes), dtype=bool) if w.endswith(" EMPTY") else _member(probes, *gr)
    assert not ((got != want) & ~near).any(), (op, w)


def test_symdifference_overlapping_squares_two_members():
    """Two overlapping squares: A Δ B is the two L-shaped members that
    meet at the corners (2 4) and (4 2) — a valid MULTIPOLYGON of area
    24, not one ring with a hole pinching the shell at two points."""
    A = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = geo.parse_wkt("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    w = stf._overlay_symdifference(A, B)
    k, c, o = geo.parse_wkt(w)
    assert k == "MULTIPOLYGON"
    members = geo.geom_parts(k, c, o)
    assert len(members) == 2 and all(len(mo) == 2 for _mk, _mc, mo in members)
    assert [stf._areal_area(mc, mo) for _mk, mc, mo in members] == [12.0, 12.0]
    assert stf._areal_area(c, o) == 24.0
    _assert_probe_identity(A, B, w, "symdifference", np.random.default_rng(41), (-1, -1, 7, 7))


def test_areal_overlay_empty_interior_meet():
    """Operands whose interiors do not meet: the slab sweep finds no
    area, and the intersection is the shared boundary linework when the
    operands touch, POLYGON EMPTY when they do not — also when their
    bounding boxes overlap."""
    g = geo.parse_wkt
    sq = g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    right = g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
    assert stf._overlay_intersection(sq, right) == "LINESTRING (1 0, 1 1)"
    corner = g("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
    assert stf._overlay_intersection(sq, corner) == "POINT (1 1)"
    # concave × concave, bboxes disjoint (the i6 pair of test_st_functions)
    assert stf._overlay_intersection(
        g("POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))"),
        g("POLYGON ((0 5, 4 5, 4 9, 2 6, 0 9, 0 5))"),
    ) == "POLYGON EMPTY"
    # a bar inside a U's notch: bboxes overlap, interiors and boundaries
    # disjoint; lowered onto the notch floor it touches along an edge
    u = g("POLYGON ((0 0, 6 0, 6 6, 4 6, 4 2, 2 2, 2 6, 0 6, 0 0))")
    bar = g("POLYGON ((2.5 3, 3.5 3, 3.5 7, 2.5 7, 2.5 3))")
    assert stf._overlay_intersection(u, bar) == "POLYGON EMPTY"
    assert stf._overlay_difference(u, bar) == geo.wkt_any(*u)
    floor = g("POLYGON ((2.5 2, 3.5 2, 3.5 7, 2.5 7, 2.5 2))")
    assert stf._overlay_intersection(u, floor) == "LINESTRING (3.5 2, 2.5 2)"
    rng = np.random.default_rng(43)
    for op, fn in (
        ("union", stf._overlay_union),
        ("difference", stf._overlay_difference),
        ("symdifference", stf._overlay_symdifference),
    ):
        for b in (bar, floor):
            w = fn(u, b)
            assert w is not None, (op, b)
            _assert_probe_identity(u, b, w, op, rng, (-1, -1, 7, 8))
    assert stf._areal_area(*geo.parse_wkt(stf._overlay_union(u, floor))[1:]) == 28.0 + 5.0


def test_symdifference_equal_covered_touching():
    """The slab sweep answers symdifference exactly for equal, covered
    and touching operands."""
    g = geo.parse_wkt
    big = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    small = g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")  # shares two edges
    right = g("POLYGON ((4 0, 6 0, 6 4, 4 4, 4 0))")
    assert stf._overlay_symdifference(big, big) == "POLYGON EMPTY"
    rng = np.random.default_rng(47)
    for A, B, area in ((small, big, 12.0), (big, small, 12.0), (big, right, 24.0)):
        w = stf._overlay_symdifference(A, B)
        assert w is not None
        assert stf._areal_area(*geo.parse_wkt(w)[1:]) == area
        _assert_probe_identity(A, B, w, "symdifference", rng, (-1, -1, 7, 5))


def _raise_relate(*_args):
    raise RuntimeError("relate_geoms called")


def test_areal_overlay_is_relate_free(monkeypatch):
    """The (MULTI)POLYGON pairs of test_shared_edge_goldens and
    test_areal_overlay_empty_interior_meet give the same answer for all
    four ops when relate_geoms raises: the areal path is the slab sweep
    (plus the line × line overlay for an intersection with no area),
    with no DE-9IM step."""
    g = geo.parse_wkt
    C = g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    u = g("POLYGON ((0 0, 6 0, 6 6, 4 6, 4 2, 2 2, 2 6, 0 6, 0 0))")
    pairs = [
        (C, g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")),
        (C, g("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")),
        (g("POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))"), g("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")),
        (C, C),
        (g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"), g("POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))")),
        (
            g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"),
            g("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
        ),
        (g("POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))"), g("POLYGON ((0 5, 4 5, 4 9, 2 6, 0 9, 0 5))")),
        (u, g("POLYGON ((2.5 3, 3.5 3, 3.5 7, 2.5 7, 2.5 3))")),
        (u, g("POLYGON ((2.5 2, 3.5 2, 3.5 7, 2.5 7, 2.5 2))")),
    ]
    ops = (stf._overlay_intersection, stf._overlay_union, stf._overlay_difference, stf._overlay_symdifference)
    want = [[fn(a, b) for fn in ops] for a, b in pairs]
    assert all(w is not None for row in want for w in row)
    monkeypatch.setattr(geo, "relate_geoms", _raise_relate)
    assert [[fn(a, b) for fn in ops] for a, b in pairs] == want


def test_gc_overlap_check_does_not_swallow_kernel_errors(monkeypatch):
    """A kernel error in the GEOMETRYCOLLECTION member-overlap check
    propagates: it is neither a "members overlap" decision nor a null."""
    gc = geo.parse_wkt(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1)))"
    )
    b = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 1, 0 1, 0 0))")
    assert stf._overlay_intersection(gc, b) is not None
    monkeypatch.setattr(geo, "relate_geoms", _raise_relate)
    with pytest.raises(RuntimeError, match="relate_geoms called"):
        stf._overlay_intersection(gc, b)


def test_covers_slit_square():
    """A square with a zero-width inward slit (a doubled edge) covers the
    plain square: the duplicate scanline crossings of the slit bound a
    zero-width interval whose midpoint lies ON A's boundary, so it is no
    escape witness."""
    slit = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 2 4, 2 2, 2 4, 0 4, 0 0))")
    sq = geo.parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert not geo._escape_witness(slit[1], slit[2], sq[1], sq[2])
    assert geo.pred_covers(geo.relate_geoms(*slit, *sq))


def test_roundtrip_gate_allows_writer_rounding():
    """The overlay_udf holed_snapped difference pair: the slab sweep
    answers it with two triangles whose 1/7- and 1/55-coordinate vertices
    the %.10g writer rounds, moving the area by ~1.4e-9 relative — more
    than a flat 1e-9 tolerance, well inside the writer's own rounding
    bound. The shell/hole structure survives the round trip, so the
    gate emits the answer instead of a null."""
    a = geo.parse_wkt(
        "POLYGON ((-2 -2, -1 -3, 4 -1, 4 3, 0 5, -2 -2), (0.5 -0, 1.5 -0, 1.5 1, 0.5 1, 0.5 -0), "
        "(1 1.5, 2 1.5, 2 2, 1 2, 1 1.5))"
    )
    b = geo.parse_wkt("POLYGON ((-6 -2, -2 -5, -1 -5, 4 -3, 4 3, -3 6, -6 -2), (-2 0, -1 0, -1 1.5, -2 1.5, -2 0))")
    parts = stf.slab_boolean(a, b, "difference")
    net = sum(geo.polygon_area_deg2(mc, mo) for mc, mo in parts)
    w = stf._areal_overlay(a, b, "difference")
    assert w == (
        "MULTIPOLYGON (((-1.428571429 0, -1 0, -1 1.5, -1.428571429 0)), "
        "((-0.07272727273 4.745454545, 4 3, 0 5, -0.07272727273 4.745454545)))"
    )
    _k, c, o = geo.parse_wkt(w)
    assert 1e-9 * net < abs(stf._areal_area(c, o) - net) < 1e-8 * net


def test_roundtrip_gate_refuses_structure_change():
    """A member the parsed-back rings regroup differently is refused even
    when the area it claims matches: a square emitted as its own member
    inside another member's shell re-reads as that shell's hole."""
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=np.float64)
    inner = np.array([[2, 2], [8, 2], [8, 8], [2, 8], [2, 2]], dtype=np.float64)
    one = np.array([0, 5])
    assert stf._wkt_roundtrip_gate([(outer, one), (inner, one)], 64.0) is None
    holed = (np.vstack([outer, inner[::-1]]), np.array([0, 5, 10]))
    assert stf._wkt_roundtrip_gate([holed], 64.0) is not None
