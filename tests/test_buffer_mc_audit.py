"""Smoke run of the buffer Monte-Carlo audit (jobs/buffer_mc_audit.py):
every class, a small sample — zero wrong answers, zero nulls and zero
kernel exceptions. The full audit (N ≥ 1000 per class) is the job
itself."""

from __future__ import annotations

from jobs import buffer_mc_audit as bma


def test_buffer_mc_audit_smoke():
    report, examples = bma.audit(25, 64)
    assert len(report) == 8
    for cls, row in report.items():
        assert row["checked"] == 25, (cls, row)
        assert row["null"] == 0, (cls, row)
        assert row["error"] == 0, (cls, row)
        assert row["mismatch"] == 0, (cls, row)
    assert examples == []
