"""Monte-Carlo wrong-answer audit for relate_geoms / de9im over the
degenerate sweep classes (jobs/overlay_null_rate.py's generator).

relate drives the overlay fast paths (equal/covered/touches answers) and
the driver's relation queries, so a wrong matrix silently corrupts
results downstream (round-5 MC audit bug #3 lived exactly here). For
each pair this job samples probe points and checks the ONE-DIRECTIONAL
witnesses a finite sample can prove:

  - probe strictly inside A and B        ⇒ II cell == '2'
  - probe strictly inside A, outside B   ⇒ IE cell == '2'
  - probe strictly inside B, outside A   ⇒ EI cell == '2'
  - pred_covers (A ⊇ B)                  ⇒ no probe inside B outside A
  - pred_covered_by (A ⊆ B)              ⇒ no probe inside A outside B

Probes within ``tol`` of any polygon edge abstain (classification there
is legitimately boundary). Mismatches are reproducible wrong answers,
reported with operand WKTs.

Pure numpy — no Spark. Writes BENCH/relate_mc_audit.json and exits with
status 1 when any pair mismatches.

    python jobs/relate_mc_audit.py [N_PER_CLASS] [PROBES_PER_PAIR]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from geomesa_spark.functions import geometry as geo  # noqa: E402
from geomesa_spark.functions.st_functions import _relate  # noqa: E402
from jobs.overlay_mc_audit import _bbox, _member, _near_any_edge, gen_pair_ext  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    rng = np.random.default_rng(20260818)
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
        row = {"checked": 0, "errors": 0, "cell_mismatch": 0, "covers_mismatch": 0}
        for a, b in pairs:
            ga, gb = geo.parse_wkt(a), geo.parse_wkt(b)
            try:
                r = _relate(ga, gb)
                mat = geo.de9im(r)
                covers = geo.pred_covers(r)
                covered = geo.pred_covered_by(r)
            except Exception:
                row["errors"] += 1
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
            cbad = []
            if covers and (in_b & ~in_a & ok).any():
                cbad.append("pred_covers but B escapes A")
            if covered and (in_a & ~in_b & ok).any():
                cbad.append("pred_covered_by but A escapes B")
            if cbad:
                row["covers_mismatch"] += 1
            if (bad or cbad) and len(examples) < 10:
                examples.append(
                    {"class": cls, "a": a, "b": b, "matrix": mat, "issues": bad + cbad}
                )
        report[cls] = row
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "n_per_class": n,
        "probes_per_pair": n_probes,
        "classes": report,
        "mismatch_examples": examples,
    }
    with open(os.path.join(here, "..", "BENCH", "relate_mc_audit.json"), "w") as f:
        json.dump(out, f, indent=1)
    total_bad = sum(r["cell_mismatch"] + r["covers_mismatch"] for r in report.values())
    total_err = sum(r["errors"] for r in report.values())
    print(f"pairs checked: {sum(r['checked'] for r in report.values())}  "
          f"mismatches: {total_bad}  errors: {total_err}")
    for cls, rrow in report.items():
        print(cls, rrow)
    for e in examples[:3]:
        print(json.dumps(e))
    return total_bad


if __name__ == "__main__":
    sys.exit(1 if main() else 0)
