"""Monte-Carlo wrong-answer audit for the general planar st_buffer
kernel (_buffer_geom) over RANDOMIZED inputs, including the degenerate
families the fixed tests only spot-check: snapped-integer polylines with
duplicate and reversal (spike) vertices, holed polygons (generic and
snapped), multipoints, and mixed GEOMETRYCOLLECTIONs; negative radii on
polygons (erosion).

Check per input: probe ∈ buffer(G, r) ⟺ dist(probe, G) ≤ r, up to the
inscribed-arc sag band r·(1−cos(π/(2·S)))+tol (the JTS quadrant-segments
convention the kernel documents). Erosion: probe ∈ erode(P, r) ⟺
probe ∈ P and dist(probe, ∂P) > |r|, same band. A None result counts as
an honest null, never a mismatch.

Pure numpy — no Spark. Writes BENCH/buffer_mc_audit.json and exits with
status 1 when any probe mismatches.

    python jobs/buffer_mc_audit.py [N_PER_CLASS] [PROBES_PER_INPUT]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from geomesa_spark.functions import geometry as geo  # noqa: E402
from geomesa_spark.functions import st_functions as sf  # noqa: E402
from jobs.overlay_null_rate import _holed_polygon  # noqa: E402

S = 8
# the kernel's documented chord error bound: phase-jittered first/last
# arc chords span up to 1.4 steps (see _buffer_geom docstring), so the
# exclusion band must use 0.7π/S, not π/(2S) — the tighter band flags
# probes in the 0.019–0.037·r end-arc gap as false mismatches
SAG = 1.0 - np.cos(0.7 * np.pi / S)


def _dist_to_geom(probes, kind, coords, offs):
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


def _dist_to_boundary(probes, kind, coords, offs):
    d = np.full(len(probes), np.inf)
    for k2, c2, o2 in geo.geom_parts(kind, coords, offs):
        if k2 != "POLYGON":
            continue
        d2, _cx, _cy = geo._point_to_segments(
            probes[:, 0], probes[:, 1], *geo.polygon_edges(c2, o2)
        )
        d = np.minimum(d, np.sqrt(d2.min(axis=1)))
    return d


def _member(probes, kind, coords, offs):
    got = np.zeros(len(probes), dtype=bool)
    for _k, c, o in geo.geom_parts(kind, coords, offs):
        if _k == "POLYGON":
            got |= geo.classify_points_in_polygon(probes[:, 0], probes[:, 1], c, o) == 2
    return got


def _polyline_wkt(rng, snap: bool) -> str:
    n = int(rng.integers(3, 8))
    pts = rng.uniform(-4, 4, size=(n, 2))
    if snap:
        pts = np.round(pts)
    pts = list(map(tuple, pts))
    roll = rng.uniform()
    if roll < 0.3 and len(pts) >= 2:
        pts.insert(int(rng.integers(1, len(pts))), pts[int(rng.integers(0, len(pts)))])
    elif roll < 0.6:
        # spike: go out and retrace back through the same vertex
        i = int(rng.integers(1, len(pts)))
        pts.insert(i, pts[i - 1])
    # drop zero-length duplicate-at-start artifacts
    dedup = [pts[0]] + [p for a, p in zip(pts, pts[1:]) if p != a]
    if len(dedup) < 2:
        return "LINESTRING (0 0, 1 0)"
    return "LINESTRING (" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in dedup) + ")"


def gen_input(rng, cls) -> str | None:
    if cls == "polyline_float":
        return _polyline_wkt(rng, snap=False)
    if cls == "polyline_snapped":
        return _polyline_wkt(rng, snap=True)
    if cls in ("polygon_holed", "polygon_snapped", "polygon_eroded"):
        return _holed_polygon(
            rng, rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(2.5, 4),
            snap=(cls == "polygon_snapped"),
        )
    if cls == "multipoint":
        n = int(rng.integers(2, 6))
        pts = np.round(rng.uniform(-3, 3, size=(n, 2)), 1)
        return "MULTIPOINT (" + ", ".join(f"({x:.10g} {y:.10g})" for x, y in pts) + ")"
    if cls == "gc_mixed":
        a = _polyline_wkt(rng, snap=True)
        x, y = np.round(rng.uniform(-3, 3, 2), 1)
        return f"GEOMETRYCOLLECTION ({a}, POINT ({x:.10g} {y:.10g}))"
    raise ValueError(cls)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    rng = np.random.default_rng(20260818)
    report: dict = {}
    examples: list = []
    classes = (
        "polyline_float", "polyline_snapped", "polygon_holed",
        "polygon_snapped", "polygon_eroded", "multipoint", "gc_mixed",
    )
    for cls in classes:
        row = {"checked": 0, "null": 0, "probes": 0, "mismatch": 0}
        made = 0
        while made < n:
            wkt_in = gen_input(rng, cls)
            if wkt_in is None:
                continue
            try:
                g = geo.parse_wkt(wkt_in)
            except Exception:
                continue
            made += 1
            r = float(rng.uniform(0.25, 0.9))
            erode = cls == "polygon_eroded"
            rad = -r if erode else r
            try:
                w = sf._buffer_geom(g, rad)
            except Exception:
                w = None
            if w is None:
                row["null"] += 1
                continue
            if "EMPTY" in w:
                gr = None
            else:
                gr = geo.parse_wkt(w)
            span = 6.0
            probes = rng.uniform(-span, span, size=(n_probes, 2))
            got = (
                np.zeros(n_probes, dtype=bool) if gr is None else _member(probes, *gr)
            )
            if erode:
                dist_b = _dist_to_boundary(probes, *g)
                inside = _member(probes, *g)
                want = inside & (dist_b > r)
                band = np.abs(dist_b - r) <= r * (SAG + 1e-3)
            else:
                dist = _dist_to_geom(probes, *g)
                want = dist <= r
                band = np.abs(dist - r) <= r * (SAG + 1e-3)
            bad = (got != want) & ~band
            row["checked"] += 1
            row["probes"] += int((~band).sum())
            if bad.any():
                row["mismatch"] += int(bad.sum())
                if len(examples) < 10:
                    i = int(np.flatnonzero(bad)[0])
                    examples.append(
                        {
                            "class": cls,
                            "input": wkt_in,
                            "radius": rad,
                            "result": w,
                            "probe": [float(probes[i, 0]), float(probes[i, 1])],
                        }
                    )
        report[cls] = row
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "n_per_class": n,
        "probes_per_input": n_probes,
        "classes": report,
        "mismatch_examples": examples,
    }
    with open(os.path.join(here, "..", "BENCH", "buffer_mc_audit.json"), "w") as f:
        json.dump(out, f, indent=1)
    total = sum(r["probes"] for r in report.values())
    bad = sum(r["mismatch"] for r in report.values())
    print(f"probes checked: {total}  mismatches: {bad}")
    for cls, rrow in report.items():
        print(cls, rrow)
    for e in examples[:3]:
        print(json.dumps(e))
    return bad


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
