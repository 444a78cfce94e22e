"""Output checks. Pure functions over collected results, so the tests can
feed them deliberately corrupted outputs."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer, decimal.Decimal)) and not isinstance(v, bool):
        f = float(v)
        return int(v) if f.is_integer() else repr(f)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (datetime.datetime, datetime.date, np.datetime64)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def digest(records: list[dict]) -> str:
    """Order-insensitive, exact digest of a result: columns by name, each
    value normalized (integral numbers as ints, other floats by exact
    repr), rows sorted."""
    rows = sorted(
        repr(tuple((k, _canon_value(r[k])) for k in sorted(r))) for r in records
    )
    h = hashlib.md5()
    h.update(str(len(rows)).encode())
    for row in rows:
        h.update(row.encode())
    return h.hexdigest()


def char_trigrams(text: str) -> set[str]:
    """The distinct character 3-grams of ``text``, as ``operators.dedup``
    shingles it."""
    return {text[i : i + 3] for i in range(len(text) - 2)}


def spark_records(rows) -> list[dict]:
    return [r.asDict() for r in rows]


def pandas_records(pdf) -> list[dict]:
    return pdf.to_dict("records")


# ---------------------------------------------------------------------------
# overlay: the areal-membership identity of jobs/overlay_mc_audit.py, and
# the distance identity of jobs/buffer_mc_audit.py for st_buffer
# ---------------------------------------------------------------------------

OVERLAY_OPS = ("intersection", "union", "difference", "symdifference")


def overlay_ok(op: str, a: str, b: str, r: float, result: str | None, rng, n_probes: int = 64) -> bool:
    """True when a non-null ``result`` of ``op`` passes ``n_probes``
    seeded probes: p in interior(op(A, B)) == BOOL_op(p in A, p in B) for
    the boolean ops, p in buffer(B, r) == dist(p, B) <= r for "buffer";
    probes within the edge tolerance (or the buffer's arc-sag band) are
    excluded. A null result is an honest null and passes."""
    from geomesa_spark.functions import geometry as geo
    from jobs import buffer_mc_audit as bma
    from jobs import overlay_mc_audit as oma

    if result is None:
        return True
    try:
        gr = None if "EMPTY" in result else geo.parse_wkt(result)
    except Exception:
        return False
    gb = geo.parse_wkt(b)
    if op == "buffer":
        x0, y0, x1, y1 = oma._bbox(gb)
        pad = r + 0.5
        probes = np.column_stack(
            [rng.uniform(x0 - pad, x1 + pad, n_probes), rng.uniform(y0 - pad, y1 + pad, n_probes)]
        )
        got = np.zeros(n_probes, dtype=bool) if gr is None else bma._member(probes, *gr)
        dist = bma._dist_to_geom(probes, *gb)
        band = np.abs(dist - r) <= r * (bma.SAG + 1e-3)
        return not ((got != (dist <= r)) & ~band).any()
    ga = geo.parse_wkt(a)
    ax0, ay0, ax1, ay1 = oma._bbox(ga)
    bx0, by0, bx1, by1 = oma._bbox(gb)
    x0, y0 = min(ax0, bx0) - 0.5, min(ay0, by0) - 0.5
    x1, y1 = max(ax1, bx1) + 0.5, max(ay1, by1) + 0.5
    probes = np.column_stack([rng.uniform(x0, x1, n_probes), rng.uniform(y0, y1, n_probes)])
    in_a, in_b = oma._member(probes, ga), oma._member(probes, gb)
    in_r = np.zeros(n_probes, dtype=bool) if gr is None else oma._member(probes, gr)
    excl = oma._near_any_edge(probes, [g for g in (ga, gb, gr) if g])
    return not ((in_r != oma.BOOLS[op](in_a, in_b)) & ~excl).any()
