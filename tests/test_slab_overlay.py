"""Slab-sweep boolean (functions/slab_overlay.py): the whole areal
overlay path. Deterministic goldens for shared-edge cases that
crossing-based kernels must special-case, plus a randomized property sweep:
every non-None answer across all four ops must agree with Monte-Carlo
membership of the operands (the area-identity gate makes wrong answers
structurally impossible — these tests check it stays that way)."""

from __future__ import annotations

import numpy as np

from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions import st_functions as sf

OPS = ("intersection", "union", "difference", "symdifference")


def _member(g, px, py):
    return any(
        geo.classify_points_in_polygon([px], [py], c2, o2)[0] == 2
        for _k2, c2, o2 in geo.geom_parts(*g)
    )


def _want(op, a_in, b_in):
    return {
        "intersection": a_in and b_in,
        "union": a_in or b_in,
        "difference": a_in and not b_in,
        "symdifference": a_in != b_in,
    }[op]


def test_shared_edge_rect_goldens():
    """Overlapping rects sharing part of an edge — GH-degenerate, slab
    exact. The polygons below are the advisor-era sweep's failing pair."""
    A = geo.parse_wkt("POLYGON ((3 5, 8 5, 8 7, 3 7, 3 5))")
    B = geo.parse_wkt("POLYGON ((7 6, 8 6, 8 9, 7 9, 7 6))")
    assert sf._areal_overlay(A, B, "intersection") == (
        "POLYGON ((7 6, 8 6, 8 7, 7 7, 7 6))"
    )
    u = sf._areal_overlay(A, B, "union")
    k, c, o = geo.parse_wkt(u)
    assert k == "POLYGON"
    assert geo.polygon_area_deg2(c, o) == 10.0 + 3.0 - 1.0
    d = sf._areal_overlay(A, B, "difference")
    k, c, o = geo.parse_wkt(d)
    assert geo.polygon_area_deg2(c, o) == 10.0 - 1.0


def test_full_overlay_path_recovers_degenerate_contact():
    """End-to-end: the public overlay entrances resolve the formerly
    null shared-edge pairs (the slab sweep answers them directly)."""
    cases = [
        ("POLYGON ((0 6, 6 6, 6 9, 0 9, 0 6))", "POLYGON ((0 3, 2 3, 2 7, 0 7, 0 3))"),
        ("POLYGON ((2 4, 7 4, 7 5, 2 5, 2 4))", "POLYGON ((1 2, 5 2, 5 5, 1 5, 1 2))"),
        ("POLYGON ((4 5, 7 5, 7 9, 4 9, 4 5))", "POLYGON ((5 7, 9 7, 9 9, 5 9, 5 7))"),
    ]
    rng = np.random.default_rng(7)
    for a, b in cases:
        ga, gb = geo.parse_wkt(a), geo.parse_wkt(b)
        for op, fn in (
            ("intersection", sf._overlay_intersection),
            ("union", sf._overlay_union),
            ("difference", sf._overlay_difference),
        ):
            w = fn(ga, gb)
            assert w is not None, (op, a, b)
            g = geo.parse_wkt(w)
            for _ in range(50):
                px, py = rng.uniform(0, 10), rng.uniform(0, 10)
                want = _want(op, _member(ga, px, py), _member(gb, px, py))
                assert _member(g, px, py) == want, (op, a, b, px, py)


def test_holed_degenerate_pair():
    """Holed polygon sharing an edge with an overlapping rect: the
    even-odd parity handles the hole with no special casing."""
    A = geo.parse_wkt(
        "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))"
    )
    B = geo.parse_wkt("POLYGON ((6 2, 10 2, 10 6, 6 6, 6 2))")  # shares hole edge
    out = sf._areal_overlay(A, B, "union")
    assert out is not None
    k, c, o = geo.parse_wkt(out)
    # union area: (64-16) + 16 - overlap(B∩A = x∈[8,10]? no: B∩A ring part)
    # A covers x∈[0,8] minus hole [2,6]²; B = [6,10]×[2,6].
    # B ∩ A-solid = x∈[6,8],y∈[2,6] (right of the hole) → area 8
    assert geo.polygon_area_deg2(c, o) == 48.0 + 16.0 - 8.0
    inter = sf._areal_overlay(A, B, "intersection")
    ki, ci, oi = geo.parse_wkt(inter)
    assert geo.polygon_area_deg2(ci, oi) == 8.0


def test_random_snapped_property_sweep():
    """Randomized lattice pairs (maximal degeneracy): every non-None
    slab answer for every op matches operand membership at 40 probes."""
    rng = np.random.default_rng(123)

    def rect():
        x0, y0 = int(rng.integers(0, 9)), int(rng.integers(0, 9))
        w, h = int(rng.integers(1, 10 - x0)), int(rng.integers(1, 10 - y0))
        return (
            f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+h}, "
            f"{x0} {y0+h}, {x0} {y0}))"
        )

    answered = 0
    for _ in range(120):
        ga, gb = geo.parse_wkt(rect()), geo.parse_wkt(rect())
        for op in OPS:
            out = sf._areal_overlay(ga, gb, op)
            if out is None or out.endswith(" EMPTY"):
                continue
            g = geo.parse_wkt(out)
            if g[0] not in ("POLYGON", "MULTIPOLYGON"):
                continue
            answered += 1
            for _ in range(40):
                px, py = rng.uniform(-0.5, 10.5), rng.uniform(-0.5, 10.5)
                want = _want(op, _member(ga, px, py), _member(gb, px, py))
                assert _member(g, px, py) == want, (op, out)
    assert answered > 300  # the sweep answers the vast majority


def test_slab_output_has_no_cut_vertices():
    """Slab cuts at the other operand's vertex xs leave no vertices on
    straight edges: a boundary piece that continues along the same edge
    extends across the cut. On integer rect pairs every output vertex is
    then a real turn (exact cross products), and a pair whose result is
    one operand returns that operand's own ring."""
    g = geo.parse_wkt
    big = g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert sf._areal_overlay(big, g("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"), "union") == (
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    )
    u = g("POLYGON ((0 0, 6 0, 6 6, 4 6, 4 2, 2 2, 2 6, 0 6, 0 0))")
    bar = g("POLYGON ((2.5 3, 3.5 3, 3.5 7, 2.5 7, 2.5 3))")
    assert sf._areal_overlay(u, bar, "difference") == geo.wkt_any(*u)
    rng = np.random.default_rng(5)

    def rect():
        x0, y0 = int(rng.integers(0, 9)), int(rng.integers(0, 9))
        w, h = int(rng.integers(1, 10 - x0)), int(rng.integers(1, 10 - y0))
        return geo.parse_wkt(
            f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+h}, {x0} {y0+h}, {x0} {y0}))"
        )

    for _ in range(150):
        ga, gb = rect(), rect()
        for op in OPS:
            out = sf._areal_overlay(ga, gb, op)
            if out is None or out.endswith(" EMPTY"):
                continue
            gr = geo.parse_wkt(out)
            if gr[0] not in ("POLYGON", "MULTIPOLYGON"):
                continue  # shared boundary linework of touching rects
            for _k, c, o in geo.geom_parts(*gr):
                for r in range(len(o) - 1):
                    ring = c[o[r]:o[r + 1] - 1]
                    prv, nxt = np.roll(ring, 1, axis=0), np.roll(ring, -1, axis=0)
                    cross = (ring[:, 0] - prv[:, 0]) * (nxt[:, 1] - ring[:, 1]) - (
                        ring[:, 1] - prv[:, 1]
                    ) * (nxt[:, 0] - ring[:, 0])
                    assert (cross != 0).all(), (op, out)
