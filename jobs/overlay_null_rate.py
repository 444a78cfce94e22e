"""Randomized overlay operand pairs per structural class (``gen_pair``)
and the four overlay kernels under test (``OPS``). jobs/overlay_mc_audit.py
(which counts nulls, errors and wrong answers per class and op),
jobs/relate_mc_audit.py and perfbench.inputs draw their pairs from
``gen_pair``; jobs/buffer_mc_audit.py reuses ``_holed_polygon``.

Classes:
  holed_generic      float-coordinate convex-ish shells with rect holes
                     (generic position)
  holed_snapped      the same shapes snapped to an integer grid
                     (shared edges and vertices: degenerate contact)
  rect_grid          axis-aligned integer rectangles (maximal edge
                     sharing — worst case for degenerate contact)
  gc_overlap         GEOMETRYCOLLECTION with OVERLAPPING members vs a
                     polygon (pre-union normalization)
  gc_mixed           mixed-dimension GC (poly + line + point, members
                     may overlap) vs polygon

Pure numpy — no Spark; a library module, not a job to run.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from geomesa_spark.functions import geometry as geo  # noqa: E402
from geomesa_spark.functions import st_functions as sf  # noqa: E402

OPS = {
    "intersection": sf._overlay_intersection,
    "union": sf._overlay_union,
    "difference": sf._overlay_difference,
    "symdifference": sf._overlay_symdifference,
}


def _convex_shell(rng, cx, cy, r):
    n = rng.integers(5, 9)
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    pts = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    return np.vstack([pts, pts[:1]])


def _ring_wkt(ring):
    return "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in ring) + ")"


def _holed_polygon(rng, cx, cy, r, snap=False):
    shell = _convex_shell(rng, cx, cy, r)
    if snap:
        shell = np.round(shell)
        if len(np.unique(shell[:-1], axis=0)) < 3:
            return None
        shell = np.vstack([np.unique(shell[:-1], axis=0), np.unique(shell[:-1], axis=0)[:1]])
        # unique() reorders: re-sort by angle to keep a simple ring
        c = shell[:-1].mean(axis=0)
        order = np.argsort(np.arctan2(shell[:-1, 1] - c[1], shell[:-1, 0] - c[0]))
        shell = np.vstack([shell[:-1][order], shell[:-1][order][:1]])
    rings = [shell]
    for _ in range(int(rng.integers(1, 3))):
        hx, hy = cx + rng.uniform(-r / 4, r / 4), cy + rng.uniform(-r / 4, r / 4)
        hw = rng.uniform(r / 12, r / 5)
        hole = np.asarray(
            [(hx - hw, hy - hw), (hx + hw, hy - hw), (hx + hw, hy + hw), (hx - hw, hy + hw), (hx - hw, hy - hw)]
        )
        if snap:
            hole = np.round(hole * 2) / 2
            if hole[0, 0] == hole[1, 0] or hole[0, 1] == hole[2, 1]:
                continue
        # keep only holes strictly inside the shell and disjoint from others
        inside = all(
            geo.classify_points_in_polygon([x], [y], shell, np.asarray([0, len(shell)]))[0] == 2
            for x, y in hole[:-1]
        )
        if inside and all(
            not (
                hole[:, 0].min() <= rr[:, 0].max() and rr[:, 0].min() <= hole[:, 0].max()
                and hole[:, 1].min() <= rr[:, 1].max() and rr[:, 1].min() <= hole[:, 1].max()
            )
            for rr in rings[1:]
        ):
            rings.append(hole)
    return "POLYGON (" + ", ".join(_ring_wkt(r2) for r2 in rings) + ")"


def _rect(rng, lo=0, hi=10):
    x0, y0 = int(rng.integers(lo, hi - 1)), int(rng.integers(lo, hi - 1))
    w, h = int(rng.integers(1, hi - x0)), int(rng.integers(1, hi - y0))
    x1, y1 = x0 + w, y0 + h
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def gen_pair(rng, cls):
    if cls == "holed_generic" or cls == "holed_snapped":
        snap = cls == "holed_snapped"
        a = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        b = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        return (a, b) if a and b else None
    if cls == "rect_grid":
        return _rect(rng), _rect(rng)
    if cls == "gc_overlap":
        m1, m2 = _rect(rng), _rect(rng)
        a = f"GEOMETRYCOLLECTION ({m1}, {m2})"
        return a, _rect(rng)
    if cls == "gc_mixed":
        m1 = _rect(rng)
        x0, y0, x1, y1 = (int(rng.integers(0, 10)) for _ in range(4))
        a = (
            f"GEOMETRYCOLLECTION ({m1}, LINESTRING ({x0} {y0}, {x1} {y1}), "
            f"POINT ({int(rng.integers(0, 10))} {int(rng.integers(0, 10))}))"
        )
        return a, _rect(rng)
    raise ValueError(cls)
