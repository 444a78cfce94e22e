"""Monte-Carlo WRONG-ANSWER audit for the overlay kernels over the
degenerate sweep classes (jobs/overlay_null_rate.py's generator).

It counts honest nulls per class and op, and hunts silent wrong
answers in the NON-null results: for every pair and operator it samples
probe points over the joint bounding box and checks the areal-membership
identity

    p ∈ interior(op(A, B))  ==  BOOL_op(p ∈ interior(A), p ∈ interior(B))

which holds almost surely for generic probes (lower-dimensional parts
have measure zero; probes within ``tol`` of any polygon edge of A, B or
the result are excluded, matching tests/test_overlay_holes.py's
estimator). A mismatch is a reproducible wrong answer, printed with the
operand WKTs and the probe. An exception from a kernel is an error,
not a null.

Pure numpy — no Spark. Writes BENCH/overlay_mc_audit.json and exits
with status 1 when any probe mismatches or any kernel raises.

    python jobs/overlay_mc_audit.py [N_PER_CLASS] [PROBES_PER_PAIR]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from geomesa_spark.functions import geometry as geo  # noqa: E402
from jobs.overlay_null_rate import OPS, _holed_polygon, _rect, gen_pair  # noqa: E402


def _nested_island_wkt(rng) -> str:
    """MULTIPOLYGON: big shell with a rect hole, plus an island member
    nested INSIDE the hole. Integer-snapped so degenerate contact is
    common."""
    x0, y0 = int(rng.integers(-2, 2)), int(rng.integers(-2, 2))
    hole = (
        f"({x0 - 3} {y0 - 3}, {x0 + 3} {y0 - 3}, {x0 + 3} {y0 + 3}, "
        f"{x0 - 3} {y0 + 3}, {x0 - 3} {y0 - 3})"
    )
    iw = int(rng.integers(1, 3))
    isl = (
        f"(({x0 - iw} {y0 - iw}, {x0 + iw} {y0 - iw}, {x0 + iw} {y0 + iw}, "
        f"{x0 - iw} {y0 + iw}, {x0 - iw} {y0 - iw}))"
    )
    shell = (
        f"(({x0 - 5} {y0 - 5}, {x0 + 5} {y0 - 5}, {x0 + 5} {y0 + 5}, "
        f"{x0 - 5} {y0 + 5}, {x0 - 5} {y0 - 5}), {hole})"
    )
    return f"MULTIPOLYGON ({shell}, {isl})"


def gen_pair_ext(rng, cls):
    """Audit-only structural classes beyond overlay_null_rate's."""
    if cls == "nested_islands":
        return _nested_island_wkt(rng), _rect(rng, lo=-6, hi=8)
    if cls == "multi_member":
        a1 = _holed_polygon(rng, rng.uniform(-4, -2), rng.uniform(-2, 2), rng.uniform(1.5, 2.5), snap=True)
        a2 = _holed_polygon(rng, rng.uniform(2, 4), rng.uniform(-2, 2), rng.uniform(1.5, 2.5), snap=True)
        if a1 is None or a2 is None:
            return None
        a = "MULTIPOLYGON (%s, %s)" % (
            a1[len("POLYGON "):], a2[len("POLYGON "):],
        )
        b = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(2.5, 4.5), snap=bool(rng.integers(2)))
        return (a, b) if b else None
    return gen_pair(rng, cls)

BOOLS = {
    "intersection": lambda a, b: a & b,
    "union": lambda a, b: a | b,
    "difference": lambda a, b: a & ~b,
    "symdifference": lambda a, b: a ^ b,
}


def _poly_parts(g):
    return [p for p in geo.geom_parts(*g) if p[0] == "POLYGON"]


def _member(probes, g) -> np.ndarray:
    got = np.zeros(len(probes), dtype=bool)
    for _k, c, o in _poly_parts(g):
        got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2
    return got


def _near_any_edge(probes, geoms, tol=1e-9) -> np.ndarray:
    excl = np.zeros(len(probes), dtype=bool)
    for g in geoms:
        for _k, c, o in _poly_parts(g):
            for r in range(len(o) - 1):
                ring = c[o[r] : o[r + 1]]
                d2, _cx, _cy = geo._point_to_segments(probes[:, 0], probes[:, 1], *geo.line_edges(ring))
                excl |= d2.min(axis=1) < tol
    return excl


def _bbox(g):
    xs, ys = [], []
    for _k, c, _o in geo.geom_parts(*g):
        xs += [c[:, 0].min(), c[:, 0].max()]
        ys += [c[:, 1].min(), c[:, 1].max()]
    return min(xs), min(ys), max(xs), max(ys)


def audit(n: int, n_probes: int, seed: int = 20260818) -> tuple[dict, list]:
    """Run the membership identity over ``n`` pairs of every class with
    ``n_probes`` probes each. Returns (per-class per-op counters of
    checked/null/error/probes/mismatch, up to 10 mismatch or error
    examples). An exception from a kernel is an error, not a null."""
    rng = np.random.default_rng(seed)
    report: dict = {}
    examples: list = []
    for cls in (
        "holed_generic", "holed_snapped", "rect_grid", "gc_overlap",
        "gc_mixed", "nested_islands", "multi_member",
    ):
        pairs = []
        while len(pairs) < n:
            p = gen_pair_ext(rng, cls)
            if p:
                pairs.append(p)
        row = {op: {"checked": 0, "null": 0, "error": 0, "probes": 0, "mismatch": 0} for op in OPS}
        for a, b in pairs:
            ga, gb = geo.parse_wkt(a), geo.parse_wkt(b)
            x0, y0, x1, y1 = _bbox(ga)
            bx0, by0, bx1, by1 = _bbox(gb)
            x0, y0 = min(x0, bx0) - 0.5, min(y0, by0) - 0.5
            x1, y1 = max(x1, bx1) + 0.5, max(y1, by1) + 0.5
            probes = np.column_stack(
                [rng.uniform(x0, x1, n_probes), rng.uniform(y0, y1, n_probes)]
            )
            in_a, in_b = _member(probes, ga), _member(probes, gb)
            for op, fn in OPS.items():
                try:
                    res = fn(ga, gb)
                except Exception as e:
                    row[op]["error"] += 1
                    if len(examples) < 10:
                        examples.append({"class": cls, "op": op, "a": a, "b": b, "error": repr(e)})
                    continue
                if res is None:
                    row[op]["null"] += 1
                    continue
                if "EMPTY" in res:
                    gr = None
                    in_r = np.zeros(n_probes, dtype=bool)
                else:
                    gr = geo.parse_wkt(res)
                    in_r = _member(probes, gr)
                excl = _near_any_edge(probes, [g for g in (ga, gb, gr) if g])
                ok = ~excl
                bad = (in_r != BOOLS[op](in_a, in_b)) & ok
                row[op]["checked"] += 1
                row[op]["probes"] += int(ok.sum())
                if bad.any():
                    row[op]["mismatch"] += int(bad.sum())
                    if len(examples) < 10:
                        i = int(np.flatnonzero(bad)[0])
                        examples.append(
                            {
                                "class": cls,
                                "op": op,
                                "a": a,
                                "b": b,
                                "result": res,
                                "probe": [float(probes[i, 0]), float(probes[i, 1])],
                            }
                        )
        report[cls] = row
    return report, examples


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    report, examples = audit(n, n_probes)
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "n_per_class": n,
        "probes_per_pair": n_probes,
        "classes": report,
        "mismatch_examples": examples,
    }
    with open(os.path.join(here, "..", "BENCH", "overlay_mc_audit.json"), "w") as f:
        json.dump(out, f, indent=1)
    total_probes = sum(r[op]["probes"] for r in report.values() for op in OPS)
    total_bad = sum(r[op]["mismatch"] for r in report.values() for op in OPS)
    errors = sum(r[op]["error"] for r in report.values() for op in OPS)
    print(f"probes checked: {total_probes}  mismatches: {total_bad}  errors: {errors}")
    for cls, row in report.items():
        print(cls, {op: (row[op]["mismatch"], row[op]["null"], row[op]["error"]) for op in OPS})
    if examples:
        print("FIRST EXAMPLES:")
        for e in examples[:3]:
            print(json.dumps(e))
    return total_bad + errors


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
