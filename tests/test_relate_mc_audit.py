"""Smoke run of the relate Monte-Carlo audit (jobs/relate_mc_audit.py):
every class, a small sample — zero wrong cells (area and boundary
probes), zero refusals and zero kernel exceptions. The full audit
(N ≥ 1000 per class) is the job itself."""

from __future__ import annotations

from jobs import relate_mc_audit as rma


def test_relate_mc_audit_smoke():
    report, examples = rma.audit(25, 64)
    assert len(report) == 7
    for cls, row in report.items():
        assert row["checked"] == 25, (cls, row)
        assert row["null"] == 0, (cls, row)
        assert row["errors"] == 0, (cls, row)
        assert row["cell_mismatch"] == 0, (cls, row)
        assert row["boundary_mismatch"] == 0, (cls, row)
        assert row["covers_mismatch"] == 0, (cls, row)
    assert examples == []
