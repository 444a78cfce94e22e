"""Monte-Carlo wrong-answer audit for relate_geoms / de9im over the
degenerate sweep classes (jobs/overlay_null_rate.py's generator).

relate drives the driver's relation queries, so a wrong matrix silently
corrupts results downstream (round-5 MC audit bug #3 lived exactly
here). For each pair this job samples probe points and checks the
ONE-DIRECTIONAL witnesses a finite sample can prove. Area probes,
uniform over the joint bounding box:

  - probe strictly inside A and B        ⇒ II cell == '2'
  - probe strictly inside A, outside B   ⇒ IE cell == '2'
  - probe strictly inside B, outside A   ⇒ EI cell == '2'
  - pred_covers (A ⊇ B)                  ⇒ no probe inside B outside A
  - pred_covered_by (A ⊆ B)              ⇒ no probe inside A outside B

Boundary probes, uniform along the rings of each operand whose relate
form (st_functions._relate) is one (MULTI)POLYGON:

  - probe on ∂A strictly inside B        ⇒ BI cell == '1'
  - probe on ∂A strictly outside B       ⇒ BE cell == '1'
  - probe on ∂B strictly inside A        ⇒ IB cell == '1'
  - probe on ∂B strictly outside A       ⇒ EB cell == '1'

Area probes within ``tol`` of any polygon edge abstain (classification
there is legitimately boundary); a boundary probe abstains within
``tol`` of any part of the other operand. A refused relate (None) is
counted as a null; an exception is an error. Mismatches are
reproducible wrong answers, reported with operand WKTs.

Pure numpy — no Spark. Writes BENCH/relate_mc_audit.json and exits with
status 1 when any pair mismatches, refuses or raises.

    python jobs/relate_mc_audit.py [N_PER_CLASS] [PROBES_PER_PAIR]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from geomesa_spark.functions import geometry as geo  # noqa: E402
from geomesa_spark.functions.st_functions import _gc_normalized, _relate  # noqa: E402
from jobs.overlay_mc_audit import _bbox, _member, _near_any_edge, gen_pair_ext  # noqa: E402

CLASSES = (
    "holed_generic", "holed_snapped", "rect_grid", "gc_overlap",
    "gc_mixed", "nested_islands", "multi_member",
)


def _areal_form(g):
    """The one (MULTI)POLYGON ``_relate`` reads ``g`` as, else None."""
    strata = _gc_normalized(g)
    if strata is None or len(strata) != 1 or strata[0][0] not in ("POLYGON", "MULTIPOLYGON"):
        return None
    return strata[0]


def _boundary_probes(rng, g, n: int) -> np.ndarray:
    """``n`` points uniform (by length) along the ring edges of the
    areal geometry ``g``."""
    x1, y1, x2, y2 = geo.polygon_edges(g[1], g[2])
    length = np.hypot(x2 - x1, y2 - y1)
    k = rng.choice(len(length), size=n, p=length / length.sum())
    t = rng.uniform(0.0, 1.0, n)
    return np.column_stack([x1[k] + t * (x2[k] - x1[k]), y1[k] + t * (y2[k] - y1[k])])


def _near_geom(probes, g, tol=1e-9) -> np.ndarray:
    """Probes within ``tol`` (squared distance) of any part of ``g``."""
    near = np.zeros(len(probes), dtype=bool)
    for k, c, o in geo.geom_parts(*g):
        if k in ("POINT", "MULTIPOINT"):
            d2 = (probes[:, 0, None] - c[None, :, 0]) ** 2 + (probes[:, 1, None] - c[None, :, 1]) ** 2
        else:
            d2, _cx, _cy = geo._point_to_segments(probes[:, 0], probes[:, 1], *geo.polygon_edges(c, o))
        near |= d2.min(axis=1) < tol
    return near


def _boundary_issues(rng, g_own, g_other, n_probes: int, mat: str, cells: tuple) -> list:
    """Boundary-probe witnesses of the own operand's boundary against
    the other operand: ``cells`` = (index of B∩I, index of B∩E) in
    ``mat`` as seen from the own operand."""
    own = _areal_form(g_own)
    if own is None:
        return []
    probes = _boundary_probes(rng, own, n_probes)
    ok = ~_near_geom(probes, g_other)
    inside = _member(probes, g_other) & ok
    out = []
    i_in, i_out = cells
    if inside.any() and mat[i_in] != "1":
        out.append(f"cell {i_in}={mat[i_in]} with a boundary probe inside the other")
    if (ok & ~inside).any() and mat[i_out] != "1":
        out.append(f"cell {i_out}={mat[i_out]} with a boundary probe outside the other")
    return out


def audit(n: int, n_probes: int, seed: int = 20260818) -> tuple[dict, list]:
    """Check ``n`` pairs of every class with ``n_probes`` area probes
    and ``n_probes`` boundary probes per operand. Returns (per-class
    counters of checked/null/errors/cell_mismatch/boundary_mismatch/
    covers_mismatch, up to 10 examples). An exception from the kernel
    is an error; a refusal is a null."""
    rng = np.random.default_rng(seed)
    report: dict = {}
    examples: list = []
    for cls in CLASSES:
        pairs = []
        while len(pairs) < n:
            p = gen_pair_ext(rng, cls)
            if p:
                pairs.append(p)
        row = {"checked": 0, "null": 0, "errors": 0, "cell_mismatch": 0,
               "boundary_mismatch": 0, "covers_mismatch": 0}
        for a, b in pairs:
            ga, gb = geo.parse_wkt(a), geo.parse_wkt(b)
            try:
                r = _relate(ga, gb)
                if r is None:
                    row["null"] += 1
                    if len(examples) < 10:
                        examples.append({"class": cls, "a": a, "b": b, "issues": ["refused"]})
                    continue
                mat = geo.de9im(r)
                covers = geo.pred_covers(r)
                covered = geo.pred_covered_by(r)
            except Exception as e:
                row["errors"] += 1
                if len(examples) < 10:
                    examples.append({"class": cls, "a": a, "b": b, "issues": [repr(e)]})
                continue
            x0, y0, x1, y1 = _bbox(ga)
            bx0, by0, bx1, by1 = _bbox(gb)
            x0, y0 = min(x0, bx0) - 0.5, min(y0, by0) - 0.5
            x1, y1 = max(x1, bx1) + 0.5, max(y1, by1) + 0.5
            probes = np.column_stack(
                [rng.uniform(x0, x1, n_probes), rng.uniform(y0, y1, n_probes)]
            )
            ok = ~_near_any_edge(probes, [ga, gb])
            in_a, in_b = _member(probes, ga) & ok, _member(probes, gb) & ok
            row["checked"] += 1
            bad = []
            if (in_a & in_b).any() and mat[0] != "2":
                bad.append(f"II={mat[0]} with joint-interior witness")
            if (in_a & ~in_b & ok).any() and mat[2] != "2":
                bad.append(f"IE={mat[2]} with A-only witness")
            if (in_b & ~in_a & ok).any() and mat[6] != "2":
                bad.append(f"EI={mat[6]} with B-only witness")
            if bad:
                row["cell_mismatch"] += 1
            # ∂A against B: BI (3), BE (5); ∂B against A: IB (1), EB (7)
            bbad = _boundary_issues(rng, ga, gb, n_probes, mat, (3, 5))
            bbad += _boundary_issues(rng, gb, ga, n_probes, mat, (1, 7))
            if bbad:
                row["boundary_mismatch"] += 1
            cbad = []
            if covers and (in_b & ~in_a & ok).any():
                cbad.append("pred_covers but B escapes A")
            if covered and (in_a & ~in_b & ok).any():
                cbad.append("pred_covered_by but A escapes B")
            if cbad:
                row["covers_mismatch"] += 1
            if (bad or bbad or cbad) and len(examples) < 10:
                examples.append(
                    {"class": cls, "a": a, "b": b, "matrix": mat, "issues": bad + bbad + cbad}
                )
        report[cls] = row
    return report, examples


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    report, examples = audit(n, n_probes)
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "n_per_class": n,
        "probes_per_pair": n_probes,
        "classes": report,
        "mismatch_examples": examples,
    }
    with open(os.path.join(here, "..", "BENCH", "relate_mc_audit.json"), "w") as f:
        json.dump(out, f, indent=1)
    total_bad = sum(
        r["cell_mismatch"] + r["boundary_mismatch"] + r["covers_mismatch"] for r in report.values()
    )
    total_err = sum(r["errors"] for r in report.values())
    total_null = sum(r["null"] for r in report.values())
    print(f"pairs checked: {sum(r['checked'] for r in report.values())}  "
          f"mismatches: {total_bad}  errors: {total_err}  nulls: {total_null}")
    for cls, rrow in report.items():
        print(cls, rrow)
    for e in examples[:3]:
        print(json.dumps(e))
    return total_bad + total_err + total_null


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
