"""Property tests for the geometry kernels (no Spark): slab-sweep
overlay area conservation on convex and star pairs, clip containment,
line-clip length conservation, and simplicity invariances — seeded
random geometry so runs are deterministic."""

from __future__ import annotations

import numpy as np
import pytest

from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions.slab_overlay import slab_boolean


def _random_convex_ring(rng: np.random.Generator, scale: float = 10.0) -> np.ndarray:
    """Convex hull of 8-16 random points, closed ring."""
    while True:
        pts = rng.uniform(0, scale, size=(rng.integers(8, 17), 2))
        ring = geo.convex_hull(pts[:, 0], pts[:, 1])
        if len(ring) >= 4 and abs(geo.ring_signed_area(ring)) > 1.0:
            return ring


def _poly(ring: np.ndarray) -> tuple:
    return ("POLYGON", ring, np.asarray([0, len(ring)]))


def test_slab_boolean_convex_area_conservation():
    """area(A∩B) + area(A\\B) == area(A) for random convex pairs — the
    slab sweep's intersection and difference must tile A exactly."""
    rng = np.random.default_rng(7)
    checked = 0
    for _ in range(60):
        a = _random_convex_ring(rng)
        b = _random_convex_ring(rng) + rng.uniform(-4, 4, size=2)
        inter = slab_boolean(_poly(a), _poly(b), "intersection")
        diff = slab_boolean(_poly(a), _poly(b), "difference")
        assert inter is not None and diff is not None
        ai = _area_of(inter)
        ad = _area_of(diff)
        aa = abs(geo.ring_signed_area(a))
        assert ai + ad == pytest.approx(aa, rel=1e-9, abs=1e-9)
        checked += 1
        for c, o in inter:
            # every intersection vertex lies in the closure of both inputs
            for ring, name in ((a, "a"), (b, "b")):
                cls = geo.classify_points_in_polygon(
                    c[:, 0], c[:, 1], ring, np.asarray([0, len(ring)])
                )
                # float crossings can land a vertex an ulp outside; verify
                # via distance to the ring instead of strict classification
                bad = cls == 0
                if bad.any():
                    d2, _cx, _cy = geo._point_to_segments(
                        c[:, 0][bad], c[:, 1][bad], *geo.line_edges(ring)
                    )
                    assert float(d2.min(axis=1).max()) < 1e-16, name
    assert checked == 60


def test_slab_boolean_convex_intersection_commutes():
    rng = np.random.default_rng(11)
    for _ in range(30):
        a = _random_convex_ring(rng)
        b = _random_convex_ring(rng) + rng.uniform(-3, 3, size=2)
        ab = slab_boolean(_poly(a), _poly(b), "intersection")
        ba = slab_boolean(_poly(b), _poly(a), "intersection")
        assert ab is not None and ba is not None
        assert _area_of(ab) == pytest.approx(_area_of(ba), rel=1e-9, abs=1e-12)


def test_line_clip_length_conservation():
    """len(L∩P) + len(L\\P) == len(L) for random polylines vs random
    convex polygons."""
    rng = np.random.default_rng(23)
    for _ in range(60):
        poly = _random_convex_ring(rng)
        offs = np.asarray([0, len(poly)])
        line = rng.uniform(-2, 12, size=(rng.integers(2, 8), 2))
        inside = geo.line_clip_polygon(line, poly, offs, True)
        outside = geo.line_clip_polygon(line, poly, offs, False)

        def plen(parts):
            return sum(
                float(np.sqrt((np.diff(p, axis=0) ** 2).sum(axis=1)).sum()) for p in parts
            )

        total = float(np.sqrt((np.diff(line, axis=0) ** 2).sum(axis=1)).sum())
        assert plen(inside) + plen(outside) == pytest.approx(total, rel=1e-9, abs=1e-9)
        # inside-piece midpoints really are inside the closure
        for p in inside:
            mx, my = (p[:-1] + p[1:]).reshape(-1, 2).T / 2.0
            assert (geo.classify_points_in_polygon(mx, my, poly, offs) > 0).all()
        for p in outside:
            mx, my = (p[:-1] + p[1:]).reshape(-1, 2).T / 2.0
            assert (geo.classify_points_in_polygon(mx, my, poly, offs) == 0).all()


def test_line_difference_line_length():
    """len(A\\B) == len(A) - len(collinear overlap) on constructed cases
    plus random collinear-heavy integer polylines (reversal-invariant)."""
    rng = np.random.default_rng(31)
    for _ in range(80):
        # integer grid coordinates make collinear overlaps common
        a = rng.integers(0, 5, size=(rng.integers(2, 6), 2)).astype(np.float64)
        b = rng.integers(0, 5, size=(rng.integers(2, 6), 2)).astype(np.float64)
        rem = geo.line_difference_line(a, b)
        rem_rev = geo.line_difference_line(a, b[::-1])

        def plen(parts):
            return sum(
                float(np.sqrt((np.diff(p, axis=0) ** 2).sum(axis=1)).sum()) for p in parts
            )

        assert plen(rem) == pytest.approx(plen(rem_rev), rel=1e-9, abs=1e-12)
        total = float(np.sqrt((np.diff(a, axis=0) ** 2).sum(axis=1)).sum())
        assert plen(rem) <= total + 1e-9


def test_is_simple_invariances():
    """is_simple is invariant under reversal, translation, and uniform
    scaling for random integer polylines (degenerate/collinear cases
    arise naturally on a 5x5 grid)."""
    rng = np.random.default_rng(43)
    n_simple = n_not = 0
    for _ in range(150):
        c = rng.integers(0, 5, size=(rng.integers(3, 8), 2)).astype(np.float64)
        s = geo.is_simple_line(c)
        assert geo.is_simple_line(c[::-1]) == s
        assert geo.is_simple_line(c + np.asarray([100.0, -50.0])) == s
        assert geo.is_simple_line(c * 16.0) == s  # power-of-two: exact floats
        n_simple += int(s)
        n_not += int(not s)
    # the grid actually exercises both outcomes
    assert n_simple > 10 and n_not > 10


def test_is_valid_agrees_with_area_sanity():
    """Random integer quadrilaterals: valid rings have |signed area| equal
    to the shoelace of their hull decomposition; bowties (invalid) are
    detected. Cross-check validity against an independent O(n^2) exact
    segment-intersection test on rational arithmetic."""
    from fractions import Fraction

    def brute_ring_simple(ring: np.ndarray) -> bool:
        # independent implementation: exact rational segment intersection
        pts = [(Fraction(float(x)), Fraction(float(y))) for x, y in ring[:-1]]
        n = len(pts)
        segs = [(pts[i], pts[(i + 1) % n]) for i in range(n)]

        def inter(s1, s2):
            (x1, y1), (x2, y2) = s1
            (x3, y3), (x4, y4) = s2
            d = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
            if d == 0:
                # collinear sharing more than a point?
                def on(p, s):
                    (a, b), (c, dd) = s
                    cross = (c - a) * (p[1] - b) - (dd - b) * (p[0] - a)
                    if cross != 0:
                        return False
                    return min(a, c) <= p[0] <= max(a, c) and min(b, dd) <= p[1] <= max(b, dd)
                shared = [p for p in s1 if on(p, s2)] + [p for p in s2 if on(p, s1)]
                return len(set(shared)) > 1
            t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / d
            u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / d
            if 0 <= t <= 1 and 0 <= u <= 1:
                p = (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
                ends = set(s1) | set(s2)
                return p not in ends
            return False

        for i in range(n):
            for j in range(i + 1, n):
                adjacent = j == i + 1 or (i == 0 and j == n - 1)
                if adjacent:
                    # only disallow collinear re-tracing
                    (x1, y1), (x2, y2) = segs[i]
                    (x3, y3), (x4, y4) = segs[j]
                    d = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
                    if d == 0 and inter(segs[i], segs[j]):
                        return False
                    continue
                if inter(segs[i], segs[j]):
                    return False
        return True

    rng = np.random.default_rng(57)
    agree = 0
    for _ in range(120):
        quad = rng.integers(0, 6, size=(4, 2)).astype(np.float64)
        if len(np.unique(quad, axis=0)) < 3:
            continue
        ring = np.vstack([quad, quad[:1]])
        got = geo.ring_is_valid(ring)
        want = brute_ring_simple(ring) and len(np.unique(quad, axis=0)) >= 3
        assert got == want, ring.tolist()
        agree += 1
    assert agree > 80


def _star(rng, n, cx, cy, rmin=1.0, rmax=5.0):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(rmin, rmax, n)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


def _area_of(parts):
    return sum(abs(geo.polygon_area_deg2(c, o)) for c, o in parts)


def test_slab_boolean_random_stars():
    """Concave×concave overlay on random star polygons: area conservation
    area(A∩B) + area(A\\B) == area(A) (both orders) and Monte-Carlo
    membership equivalence, with refused inputs honestly skipped (the
    kernel returns None for them)."""
    rng = np.random.default_rng(3)
    ok = skipped = 0
    for trial in range(150):
        a = _star(rng, rng.integers(5, 12), 0, 0)
        b = _star(rng, rng.integers(5, 12), rng.uniform(-3, 3), rng.uniform(-3, 3))
        inter = slab_boolean(_poly(a), _poly(b), "intersection")
        diff = slab_boolean(_poly(a), _poly(b), "difference")
        diff_ba = slab_boolean(_poly(b), _poly(a), "difference")
        if inter is None or diff is None or diff_ba is None:
            skipped += 1
            continue
        aa, ab = abs(geo.ring_signed_area(a)), abs(geo.ring_signed_area(b))
        ai = _area_of(inter)
        assert ai + _area_of(diff) == pytest.approx(aa, rel=1e-9, abs=1e-9)
        assert ai + _area_of(diff_ba) == pytest.approx(ab, rel=1e-9, abs=1e-9)
        probes = rng.uniform(-6, 6, size=(150, 2))
        in_a = geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], a, np.asarray([0, len(a)]))
        in_b = geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], b, np.asarray([0, len(b)]))
        got_i = np.zeros(len(probes), dtype=bool)
        for c, o in inter:
            got_i |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2

        def near_edge(ring):
            d2, _cx, _cy = geo._point_to_segments(probes[:, 0], probes[:, 1], *geo.line_edges(ring))
            return d2.min(axis=1) < 1e-12

        excl = near_edge(a) | near_edge(b)
        for c, o in inter:
            for rr in range(len(o) - 1):
                excl |= near_edge(c[o[rr]:o[rr + 1]])
        assert (got_i[~excl] == ((in_a == 2) & (in_b == 2))[~excl]).all(), trial
        ok += 1
    assert ok > 100 and skipped < 30


def test_slab_boolean_containment_and_holes():
    sq = lambda x0, y0, s: _poly(np.asarray(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], float
    ))
    inter = slab_boolean(sq(0, 0, 10), sq(2, 2, 2), "intersection")
    assert _area_of(inter) == 4.0
    diff = slab_boolean(sq(0, 0, 10), sq(2, 2, 2), "difference")
    assert len(diff) == 1 and len(diff[0][1]) == 3  # shell + hole
    assert abs(abs(geo.polygon_area_deg2(*diff[0])) - 96.0) < 1e-9
    assert slab_boolean(sq(0, 0, 1), sq(5, 5, 1), "intersection") == []
    assert _area_of(slab_boolean(sq(0, 0, 1), sq(5, 5, 1), "difference")) == 1.0
    # A inside B: difference empty, intersection is A
    assert slab_boolean(sq(2, 2, 2), sq(0, 0, 10), "difference") == []
    assert _area_of(slab_boolean(sq(2, 2, 2), sq(0, 0, 10), "intersection")) == 4.0


def test_slab_boolean_union_random_stars():
    """Union area identity area(A∪B) == area(A)+area(B)−area(A∩B) and
    Monte-Carlo membership on random concave pairs; interlocking shapes
    enclose a hole (parity area + void-probe checked)."""
    rng = np.random.default_rng(5)
    ok = skipped = 0
    for trial in range(120):
        a = _star(rng, rng.integers(5, 12), 0, 0)
        b = _star(rng, rng.integers(5, 12), rng.uniform(-3, 3), rng.uniform(-3, 3))
        inter = slab_boolean(_poly(a), _poly(b), "intersection")
        uni = slab_boolean(_poly(a), _poly(b), "union")
        if inter is None or uni is None:
            skipped += 1
            continue
        aa, ab = abs(geo.ring_signed_area(a)), abs(geo.ring_signed_area(b))
        au = _area_of(uni)
        assert au == pytest.approx(aa + ab - _area_of(inter), rel=1e-9, abs=1e-9)
        probes = rng.uniform(-6, 6, size=(120, 2))
        in_a = geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], a, np.asarray([0, len(a)]))
        in_b = geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], b, np.asarray([0, len(b)]))
        got = np.zeros(len(probes), dtype=bool)
        for c, o in uni:
            got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2

        def near_edge(ring):
            d2, _cx, _cy = geo._point_to_segments(probes[:, 0], probes[:, 1], *geo.line_edges(ring))
            return d2.min(axis=1) < 1e-12

        excl = near_edge(a) | near_edge(b)
        assert (got[~excl] == ((in_a == 2) | (in_b == 2))[~excl]).all(), trial
        ok += 1
    assert ok > 80 and skipped < 25
    # interlocking U and inverted-U in generic position: one polygon, one hole
    U1 = np.asarray([[0, 0], [10, 0], [10, 10], [7, 10], [7, 3], [3, 3], [3, 10], [0, 10], [0, 0]], float)
    U2 = np.asarray([[0.5, 12], [0.5, 2.5], [2, 2.5], [2, 9], [8, 9], [8, 2.5], [9.5, 2.5], [9.5, 12], [0.5, 12]], float)
    u = slab_boolean(_poly(U1), _poly(U2), "union")
    assert len(u) == 1 and len(u[0][1]) == 3  # shell + hole
    assert not any(
        geo.classify_points_in_polygon([5.0], [6.0], c, o)[0] == 2 for c, o in u
    )  # the enclosed void stays outside
