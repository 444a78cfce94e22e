"""Tests of the benchmark's metric math, failure counting and output
checks (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, stats  # noqa: E402
from perfbench.run import measure  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50), (21, 52), (40, 75), (100, 90), (200, 95), (1000, 99), (5000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        import math

        assert n - math.ceil(n * p / 100) >= 10
        if p < 99:
            assert n - math.ceil(n * (p + 1) / 100) < 10


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile([3.0], 99) == 3.0


def test_quartiles_match_the_acceptance_estimator():
    vals = [1.2, 0.9, 1.1, 1.0, 1.3, 1.05, 0.95, 1.15, 1.25, 1.02]
    q1, med, q3 = stats.quartiles(vals)
    assert [q1, med, q3] == statistics.quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / med)
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_summarize_reports_tail_only_with_enough_samples():
    s = stats.summarize(range(1, 11))
    assert s["n"] == 10 and s["median"] == 5.5 and s["min"] == 1 and s["max"] == 10
    assert s["tail_p"] is None and s["tail_value"] is None
    s = stats.summarize(range(1, 101))
    assert s["tail_p"] == 90 and s["tail_value"] == 90


def test_error_rate_and_counter():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)
    c = stats.OpCounter()
    c.record(True)
    c.record(False, "wrong rows")
    c.record(True)
    assert (c.attempted, c.failed, c.reasons) == (3, 1, ["wrong rows"])
    assert c.rate == pytest.approx(1 / 3)


class _FakeWorkload:
    """Three operations per round: the second returns a wrong answer and
    the third raises, every round."""

    name = "fake"
    round = 3

    def prepare(self, i):
        pass

    def op(self, i):
        if i % 3 == 1:
            return 5, False, "wrong"
        if i % 3 == 2:
            raise RuntimeError("boom")
        return 5, True, ""


class _NoRss:
    def sample(self):
        pass


def test_measure_counts_wrong_and_raising_operations_as_failed():
    res = measure(_FakeWorkload(), 0.0, Tracer(False), _NoRss())
    c = res["counter"]
    assert (c.attempted, c.failed) == (3, 2)
    assert "RuntimeError: boom" in c.reasons
    assert len(res["durations"]) == 3 and len(res["round_rates"]) == 1
    assert res["throughput"] > 0  # only the correct operation's items count


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "kernel", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "kernel", "parent": 1, "start": 3.0, "end": 6.0},  # overlaps: counted once
        {"id": 4, "name": "check", "parent": 1, "start": 8.0, "end": 9.0},
    ]
    st = self_times(spans)
    assert st["op"]["self_s"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["kernel"]["total_s"] == pytest.approx(6.0) and st["kernel"]["calls"] == 2


def test_tracer_records_nesting_only_when_enabled():
    tr = Tracer(True)
    tr.new_trace()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == outer["trace"] == 1
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_digest_is_order_insensitive_and_exact():
    a = [{"polygon_id": 1, "n": 3}, {"polygon_id": 2, "n": 5}]
    assert checks.digest(a) == checks.digest(list(reversed(a)))
    assert checks.digest(a) == checks.digest([{"n": 3.0, "polygon_id": np.int64(1)}, {"n": 5, "polygon_id": 2}])
    corrupted = [{"polygon_id": 1, "n": 3}, {"polygon_id": 2, "n": 6}]
    assert checks.digest(a) != checks.digest(corrupted)
    assert checks.digest(a) != checks.digest(a[:1])
    assert checks.digest([{"d": 0.1}]) != checks.digest([{"d": 0.1 + 1e-16}])


RECT_A = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
RECT_B = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"


def test_overlay_check_passes_true_results_and_fails_corrupted_ones():
    from geomesa_spark.functions import geometry as geo
    from geomesa_spark.functions import st_functions as sf

    rng = np.random.default_rng(0)
    ga, gb = geo.parse_wkt(RECT_A), geo.parse_wkt(RECT_B)
    inter = sf._overlay_intersection(ga, gb)
    union = sf._overlay_union(ga, gb)
    assert checks.overlay_ok("intersection", RECT_A, RECT_B, 0.5, inter, rng)
    assert checks.overlay_ok("union", RECT_A, RECT_B, 0.5, union, rng)
    assert checks.overlay_ok("intersection", RECT_A, RECT_B, 0.5, None, rng)  # honest null
    assert not checks.overlay_ok("intersection", RECT_A, RECT_B, 0.5, union, rng)
    assert not checks.overlay_ok("difference", RECT_A, RECT_B, 0.5, RECT_A, rng)
    assert not checks.overlay_ok("union", RECT_A, RECT_B, 0.5, "not wkt", rng)
    buf = sf._buffer_geom(gb, 0.5)
    assert checks.overlay_ok("buffer", RECT_A, RECT_B, 0.5, buf, rng)
    assert not checks.overlay_ok("buffer", RECT_A, RECT_B, 0.5, RECT_B, rng)


def test_dedup_reference_check_recomputes_the_jaccard():
    from perfbench.workloads import DedupIngest

    w = DedupIngest.__new__(DedupIngest)  # the check needs no Spark session
    w.round = 2
    w.texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        1_000_001: "seven wizards brew quartz elixirs",
        1_000_002: "seven wizards brew quartz elixirs",
    }
    ga, gb = checks.char_trigrams(w.texts[1]), checks.char_trigrams(w.texts[2])
    good = [
        {"da": 1, "db": 2, "jac": len(ga & gb) / len(ga | gb)},
        {"da": 1_000_001, "db": 1_000_002, "jac": 1.0},
    ]
    w._check_reference(good)
    with pytest.raises(RuntimeError):
        w._check_reference([{**good[0], "jac": 0.95}, good[1]])  # corrupted Jaccard
    with pytest.raises(RuntimeError):
        w._check_reference(good[:1])  # a batch without pairs
