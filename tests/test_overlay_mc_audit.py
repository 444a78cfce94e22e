"""Smoke run of the overlay Monte-Carlo audit (jobs/overlay_mc_audit.py):
every class, every op, a small sample — zero wrong answers, zero nulls
and zero errors. The full audit (N ≥ 1000 per class) is the job itself."""

from __future__ import annotations

from jobs import overlay_mc_audit as oma


def test_overlay_mc_audit_smoke():
    report, examples = oma.audit(25, 64)
    assert len(report) == 7
    for cls, row in report.items():
        for op, cnt in row.items():
            assert cnt["checked"] == 25, (cls, op, cnt)
            assert cnt["null"] == 0, (cls, op, cnt)
            assert cnt["error"] == 0, (cls, op, cnt)
            assert cnt["mismatch"] == 0, (cls, op, cnt)
    assert examples == []
