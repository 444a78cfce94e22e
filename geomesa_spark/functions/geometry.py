"""Vectorized numpy geometry — the engine's replacement for JTS.

Covers the math behind GeoMesa's ``st_*`` SQL surface
(``geomesa-spark-sql/.../SQLSpatialRelationFunctions.scala`` et al.,
SURVEY.md §2.3): point-in-polygon, haversine / spheroid distance,
WKT parse/write, envelopes, centroids, convex hull, antimeridian
handling. shapely/JTS are unavailable here (SURVEY.md §0), so all of it
is from-scratch numpy, designed to be called from Arrow-batched pandas
UDFs on (points x candidate-polygon) batches — never per-row Python.

Point-in-polygon uses the classic ray-crossing parity test with EXACTLY
the edge condition used by the DuckDB SQL oracle (FIXTURES.md §5):

    crosses(edge, p) = ((y1 > p.lat) != (y2 > p.lat))
                       and p.lon < (x2-x1)*(p.lat-y1)/(y2-y1) + x1

so engine and oracle agree bit-for-bit on boundary cases.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8  # mean Earth radius (IUGG)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorized)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


WGS84_A = 6_378_137.0  # semi-major axis (m)
WGS84_F = 1.0 / 298.257223563  # flattening
WGS84_B = WGS84_A * (1.0 - WGS84_F)


def vincenty_m(lon1, lat1, lon2, lat2, max_iter: int = 200, tol: float = 1e-12) -> np.ndarray:
    """Ellipsoidal (WGS84) geodesic distance in meters — Vincenty's inverse
    formula (published 1975 survey-review algorithm), vectorized numpy.
    The reference's st_distanceSpheroid semantics; accurate to ~0.5 mm on
    convergent pairs. Nearly-antipodal pairs that fail to converge return
    the last iterate (documented Vincenty limitation, error < 0.2%)."""
    lon1, lat1, lon2, lat2 = (np.atleast_1d(np.asarray(v, dtype=np.float64)) for v in (lon1, lat1, lon2, lat2))
    lon1, lat1, lon2, lat2 = np.broadcast_arrays(lon1, lat1, lon2, lat2)
    a, f, b = WGS84_A, WGS84_F, WGS84_B
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    lam = L.copy()
    sin_sig = np.zeros_like(lam)
    cos_sig = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cos2_alpha = np.ones_like(lam)
    cos_2sigm = np.ones_like(lam)
    active = np.ones(lam.shape, dtype=bool)
    for _ in range(max_iter):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        t1 = cosU2 * sin_lam
        t2 = cosU1 * sinU2 - sinU1 * cosU2 * cos_lam
        sin_sig_n = np.sqrt(t1 * t1 + t2 * t2)
        cos_sig_n = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma_n = np.arctan2(sin_sig_n, cos_sig_n)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(sin_sig_n != 0, cosU1 * cosU2 * sin_lam / np.where(sin_sig_n == 0, 1.0, sin_sig_n), 0.0)
        cos2_alpha_n = 1.0 - sin_alpha * sin_alpha
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_2sigm_n = np.where(
                cos2_alpha_n != 0,
                cos_sig_n - 2.0 * sinU1 * sinU2 / np.where(cos2_alpha_n == 0, 1.0, cos2_alpha_n),
                0.0,  # equatorial geodesic
            )
        C = f / 16.0 * cos2_alpha_n * (4.0 + f * (4.0 - 3.0 * cos2_alpha_n))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sigma_n + C * sin_sig_n * (cos_2sigm_n + C * cos_sig_n * (-1.0 + 2.0 * cos_2sigm_n * cos_2sigm_n))
        )
        upd = active
        sin_sig = np.where(upd, sin_sig_n, sin_sig)
        cos_sig = np.where(upd, cos_sig_n, cos_sig)
        sigma = np.where(upd, sigma_n, sigma)
        cos2_alpha = np.where(upd, cos2_alpha_n, cos2_alpha)
        cos_2sigm = np.where(upd, cos_2sigm_n, cos_2sigm)
        converged = np.abs(lam_new - lam) < tol
        lam = np.where(upd, lam_new, lam)
        active = active & ~converged
        if not active.any():
            break
    u2 = cos2_alpha * (a * a - b * b) / (b * b)
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * sin_sig * (
        cos_2sigm
        + B / 4.0 * (
            cos_sig * (-1.0 + 2.0 * cos_2sigm * cos_2sigm)
            - B / 6.0 * cos_2sigm * (-3.0 + 4.0 * sin_sig * sin_sig) * (-3.0 + 4.0 * cos_2sigm * cos_2sigm)
        )
    )
    s = b * A * (sigma - dsig)
    # coincident points: zero exactly
    same = (lon1 == lon2) & (lat1 == lat2)
    return np.where(same, 0.0, s)


def planar_dist2(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Squared equirectangular-degree distance — exact float64 arithmetic,
    bit-identical when recomputed in SQL (used for oracle-checked kNN)."""
    dx = np.asarray(lon2, dtype=np.float64) - np.asarray(lon1, dtype=np.float64)
    dy = np.asarray(lat2, dtype=np.float64) - np.asarray(lat1, dtype=np.float64)
    return dx * dx + dy * dy


# ---------------------------------------------------------------------------
# polygon representation
#
# A polygon is (coords, ring_offsets):
#   coords:       float64 (n, 2) array of (lon, lat), rings closed
#                 (first point == last point)
#   ring_offsets: int array of ring start indices, ending with n
# Ring 0 is the exterior; further rings are holes (parity handles both).
# ---------------------------------------------------------------------------


def polygon_edges(coords: np.ndarray, ring_offsets: np.ndarray):
    """(x1, y1, x2, y2) arrays over all ring edges (closing edges included
    because rings are stored closed; the duplicate last point emits a
    degenerate self-edge which never crosses, so it is harmless)."""
    x1s, y1s, x2s, y2s = [], [], [], []
    for r in range(len(ring_offsets) - 1):
        s, e = ring_offsets[r], ring_offsets[r + 1]
        ring = coords[s:e]
        x1s.append(ring[:-1, 0])
        y1s.append(ring[:-1, 1])
        x2s.append(ring[1:, 0])
        y2s.append(ring[1:, 1])
    return (
        np.concatenate(x1s),
        np.concatenate(y1s),
        np.concatenate(x2s),
        np.concatenate(y2s),
    )


def points_in_polygon(lon, lat, coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """Ray-crossing parity PIP for many points vs one polygon.

    Vectorized (n_points x n_edges); holes handled by parity. Uses the
    oracle-identical edge condition (module docstring).
    """
    lon = np.asarray(lon, dtype=np.float64)[:, None]
    lat = np.asarray(lat, dtype=np.float64)[:, None]
    x1, y1, x2, y2 = polygon_edges(np.asarray(coords, dtype=np.float64), np.asarray(ring_offsets))
    straddle = (y1[None, :] > lat) != (y2[None, :] > lat)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (lat - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossing = straddle & (lon < xint)
    return (crossing.sum(axis=1) % 2).astype(bool)


def polygon_bbox(coords: np.ndarray) -> tuple[float, float, float, float]:
    c = np.asarray(coords, dtype=np.float64)
    return float(c[:, 0].min()), float(c[:, 1].min()), float(c[:, 0].max()), float(c[:, 1].max())


def polygon_area_deg2(coords: np.ndarray, ring_offsets: np.ndarray) -> float:
    """Signed shoelace area in degree^2 (exterior CCW positive, holes negative)."""
    total = 0.0
    for r in range(len(ring_offsets) - 1):
        s, e = ring_offsets[r], ring_offsets[r + 1]
        x, y = coords[s:e, 0], coords[s:e, 1]
        total += 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
    return total


def line_centroid(coords: np.ndarray, ring_offsets: np.ndarray) -> tuple[float, float]:
    """Length-weighted centroid of a (multi)linestring (JTS semantics:
    each segment's midpoint weighted by its length)."""
    wx = wy = wtot = 0.0
    for r in range(len(ring_offsets) - 1):
        run = coords[ring_offsets[r]:ring_offsets[r + 1]]
        seg = run[1:] - run[:-1]
        ln = np.hypot(seg[:, 0], seg[:, 1])
        mid = (run[1:] + run[:-1]) / 2.0
        wx += float((mid[:, 0] * ln).sum())
        wy += float((mid[:, 1] * ln).sum())
        wtot += float(ln.sum())
    if wtot == 0.0:
        return float(coords[:, 0].mean()), float(coords[:, 1].mean())
    return wx / wtot, wy / wtot


def polygon_centroid(coords: np.ndarray, ring_offsets: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid (shoelace), holes subtract via signed area."""
    a_total, cx, cy = 0.0, 0.0, 0.0
    for r in range(len(ring_offsets) - 1):
        s, e = ring_offsets[r], ring_offsets[r + 1]
        x, y = coords[s:e, 0], coords[s:e, 1]
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        a = 0.5 * float(np.sum(cross))
        if a == 0.0:
            continue
        cx += float(np.sum((x[:-1] + x[1:]) * cross)) / 6.0
        cy += float(np.sum((y[:-1] + y[1:]) * cross)) / 6.0
        a_total += a
    if a_total == 0.0:
        return float(coords[:, 0].mean()), float(coords[:, 1].mean())
    return cx / a_total, cy / a_total


# ---------------------------------------------------------------------------
# segment / box intersection (used by cover_polygon exactness)
# ---------------------------------------------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect_box(x1, y1, x2, y2, bx0, by0, bx1, by1) -> np.ndarray:
    """True per segment if it intersects the axis-aligned box (vectorized,
    conservative-exact via slab clipping / Liang-Barsky)."""
    x1, y1, x2, y2 = (np.asarray(a, dtype=np.float64) for a in (x1, y1, x2, y2))
    dx = x2 - x1
    dy = y2 - y1
    t0 = np.zeros_like(x1)
    t1 = np.ones_like(x1)
    ok = np.ones(x1.shape, dtype=bool)
    for p, q in (
        (-dx, x1 - bx0),
        (dx, bx1 - x1),
        (-dy, y1 - by0),
        (dy, by1 - y1),
    ):
        parallel = p == 0
        ok &= ~(parallel & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(parallel, 0.0, q / np.where(p == 0, 1.0, p))
        t0 = np.where(~parallel & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~parallel & (p > 0), np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def box_intersects_polygon(bx0, by0, bx1, by1, coords, ring_offsets) -> bool:
    """Exact box-vs-polygon intersection test: any vertex in box, any box
    corner in polygon, or any edge crossing the box."""
    c = np.asarray(coords, dtype=np.float64)
    inside_box = (c[:, 0] >= bx0) & (c[:, 0] <= bx1) & (c[:, 1] >= by0) & (c[:, 1] <= by1)
    if inside_box.any():
        return True
    corners_lon = np.array([bx0, bx1, bx1, bx0])
    corners_lat = np.array([by0, by0, by1, by1])
    if points_in_polygon(corners_lon, corners_lat, c, ring_offsets).any():
        return True
    x1, y1, x2, y2 = polygon_edges(c, np.asarray(ring_offsets))
    return bool(segments_intersect_box(x1, y1, x2, y2, bx0, by0, bx1, by1).any())


def split_antimeridian(min_lon, min_lat, max_lon, max_lat):
    """A bbox given with min_lon > max_lon crosses the antimeridian; split
    into one or two standard boxes (GeoMesa's st_idlSafeGeom analog)."""
    if min_lon <= max_lon:
        return [(min_lon, min_lat, max_lon, max_lat)]
    return [(min_lon, min_lat, 180.0, max_lat), (-180.0, min_lat, max_lon, max_lat)]


# ---------------------------------------------------------------------------
# convex hull (Andrew's monotone chain) & point buffer
# ---------------------------------------------------------------------------


def convex_hull(lon, lat) -> np.ndarray:
    """(k, 2) closed CCW hull ring of the input points."""
    pts = np.stack([np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)], axis=1)
    pts = np.unique(pts, axis=0)  # sorts lexicographically
    if len(pts) <= 2:
        return np.vstack([pts, pts[:1]])
    def half(points):
        chain = []
        for p in points:
            while len(chain) >= 2 and _orient(*chain[-2], *chain[-1], *p) <= 0:
                chain.pop()
            chain.append(tuple(p))
        return chain
    lower = half(pts)
    upper = half(pts[::-1])
    ring = lower[:-1] + upper[:-1]
    ring.append(ring[0])
    return np.asarray(ring)


def buffer_points(lon, lat, radius_m, segments: int = 32) -> np.ndarray:
    """Closed rings approximating geodesic circles (st_bufferPoint analog),
    one per (lon, lat, radius_m) row, as an (n, segments + 1, 2) array.
    Small-circle approximation: radius in degrees scaled by cos(lat) in lon."""
    ang = np.linspace(0.0, 2.0 * np.pi, segments + 1)
    lon, lat, r = (np.asarray(v, dtype=np.float64).reshape(-1, 1) for v in (lon, lat, radius_m))
    dlat = np.degrees(r / EARTH_RADIUS_M)
    dlon = dlat / np.maximum(np.cos(np.radians(lat)), 1e-9)
    return np.stack([lon + dlon * np.cos(ang), lat + dlat * np.sin(ang)], axis=2)


def buffer_point(lon: float, lat: float, radius_m: float, segments: int = 32) -> np.ndarray:
    """One ring of ``buffer_points``."""
    return buffer_points(lon, lat, radius_m, segments)[0]


# ---------------------------------------------------------------------------
# WKT (numpy-backed parser/writer for all seven OGC simple-feature kinds).
#
# Internal form: (kind, coords, ring_offsets).
#   POINT/LINESTRING        coords = the vertex run, offsets [0, n]
#   MULTIPOINT              one "part" per point: offsets arange(n+1)
#   MULTILINESTRING         offsets delimit member linestrings
#   POLYGON/MULTIPOLYGON    offsets delimit rings (ring 0 + holes / union)
#   GEOMETRYCOLLECTION      coords is a LIST of member (kind, coords,
#                           offsets) tuples; ring_offsets is None. The
#                           heterogeneous kind can't share the flat layout;
#                           callers detect it via kind == "GEOMETRYCOLLECTION"
#                           (or isinstance(coords, list)).
# ---------------------------------------------------------------------------


def wkt_point(lon: float, lat: float) -> str:
    return f"POINT ({lon:.10g} {lat:.10g})"


def wkt_polygon(coords: np.ndarray, ring_offsets: np.ndarray) -> str:
    rings = []
    for r in range(len(ring_offsets) - 1):
        s, e = ring_offsets[r], ring_offsets[r + 1]
        pts = ", ".join(f"{x:.10g} {y:.10g}" for x, y in coords[s:e])
        rings.append(f"({pts})")
    return f"POLYGON ({', '.join(rings)})"


def _split_top_level(inner: str) -> list[str]:
    """Split a WKT body's top-level comma-separated items (depth-aware)."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(inner[start:i])
            start = i + 1
    items.append(inner[start:])
    return [s.strip() for s in items if s.strip()]


def parse_wkt(wkt: str):
    """Parse WKT → (kind, coords, ring_offsets) for all seven OGC kinds
    (GEOMETRYCOLLECTION: coords is a list of member tuples)."""
    s = wkt.strip()
    kind = s.split("(", 1)[0].strip().upper()
    if kind.endswith(" EMPTY") or s.upper().endswith("EMPTY"):
        raise ValueError(f"empty geometry unsupported: {wkt!r}")
    # dimensioned WKT (POINT Z / M / ZM ...): parse the 2-D projection —
    # extra ordinates drop per coordinate (parse_ring keeps the first two)
    for suffix in (" ZM", " Z", " M"):
        if kind.endswith(suffix):
            kind = kind[: -len(suffix)].strip()
            break
    body = s[s.index("(") :]

    def parse_ring(txt: str) -> np.ndarray:
        pts = [p.strip().split() for p in txt.split(",")]
        return np.asarray([[float(a), float(b)] for a, b, *_ in pts], dtype=np.float64)

    if kind == "POINT":
        c = parse_ring(body.strip("() "))
        return kind, c, np.asarray([0, len(c)])
    if kind == "LINESTRING":
        c = parse_ring(body.strip("() "))
        return kind, c, np.asarray([0, len(c)])
    if kind == "MULTIPOINT":
        # both forms: MULTIPOINT (1 2, 3 4) and MULTIPOINT ((1 2), (3 4))
        inner = body.strip()[1:-1]
        pts = [parse_ring(item.strip().strip("()"))[0] for item in _split_top_level(inner)]
        c = np.asarray(pts, dtype=np.float64)
        return kind, c, np.arange(len(c) + 1)
    if kind == "MULTILINESTRING":
        inner = body.strip()[1:-1]
        parts = [parse_ring(item.strip().strip("()")) for item in _split_top_level(inner)]
        offsets = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
        return kind, np.concatenate(parts), offsets
    if kind == "POLYGON":
        inner = body.strip()[1:-1]
        rings, offsets, pos = [], [0], 0
        depth = 0
        start = None
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    ring = parse_ring(inner[start:i])
                    rings.append(ring)
                    pos += len(ring)
                    offsets.append(pos)
        return kind, np.concatenate(rings), np.asarray(offsets)
    if kind == "MULTIPOLYGON":
        import re

        rings, offsets, pos = [], [0], 0
        for ring_txt in re.findall(r"\(([^()]+)\)", body):
            ring = parse_ring(ring_txt)
            rings.append(ring)
            pos += len(ring)
            offsets.append(pos)
        # represented as one multi-ring geometry: ray-crossing parity over
        # the union of rings is exact for disjoint member polygons
        return kind, np.concatenate(rings), np.asarray(offsets)
    if kind == "GEOMETRYCOLLECTION":
        inner = body.strip()[1:-1]
        members = [parse_wkt(item) for item in _split_top_level(inner)]
        return kind, members, None
    raise ValueError(f"unsupported WKT kind: {kind}")


def geom_parts(kind, coords, ring_offsets) -> list[tuple]:
    """Decompose any geometry into homogeneous simple parts
    [(kind, coords, offsets), ...] — POINTs, LINESTRINGs, POLYGONs.
    Collections flatten recursively; a POLYGON with holes stays one part."""
    if kind == "GEOMETRYCOLLECTION":
        out = []
        for m in coords:
            out.extend(geom_parts(*m))
        return out
    if kind == "MULTIPOINT":
        return [("POINT", coords[i : i + 1], np.asarray([0, 1])) for i in range(len(coords))]
    if kind == "MULTILINESTRING":
        return [
            (
                "LINESTRING",
                coords[ring_offsets[i] : ring_offsets[i + 1]],
                np.asarray([0, ring_offsets[i + 1] - ring_offsets[i]]),
            )
            for i in range(len(ring_offsets) - 1)
        ]
    if kind == "MULTIPOLYGON":
        out = []
        for shell, holes in multipolygon_parts(coords, ring_offsets):
            idxs = [shell] + holes
            parts = [coords[ring_offsets[r] : ring_offsets[r + 1]] for r in idxs]
            offs = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
            out.append(("POLYGON", np.concatenate(parts), offs))
        return out
    return [(kind, coords, ring_offsets)]


def make_bbox_ring(min_lon, min_lat, max_lon, max_lat) -> np.ndarray:
    """Closed CCW bbox ring (st_makeBBOX analog)."""
    return np.asarray(
        [
            [min_lon, min_lat],
            [max_lon, min_lat],
            [max_lon, max_lat],
            [min_lon, max_lat],
            [min_lon, min_lat],
        ],
        dtype=np.float64,
    )


# ---------------------------------------------------------------------------
# exact pairwise relations (the st_intersects/touches/overlaps/... kernel)
#
# All arithmetic is +,-,* float64 (orientation signs and parity tests), no
# epsilon: predicates are exact for representable inputs, matching what an
# ANSI-SQL oracle computes with the same expressions.
# ---------------------------------------------------------------------------


def classify_points_in_polygon(lon, lat, coords, ring_offsets) -> np.ndarray:
    """Per point: 0 = outside, 1 = on boundary, 2 = strictly inside.

    Boundary = collinear with some edge and inside its bbox (exact).
    Interior = ray-crossing parity (boundary points excluded first, so the
    parity ambiguity at edges never applies)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x1, y1, x2, y2 = polygon_edges(np.asarray(coords, dtype=np.float64), np.asarray(ring_offsets))
    # on-boundary test: orient == 0 and within edge bbox
    o = (x2 - x1)[None, :] * (lat[:, None] - y1[None, :]) - (y2 - y1)[None, :] * (lon[:, None] - x1[None, :])
    inx = (lon[:, None] >= np.minimum(x1, x2)[None, :]) & (lon[:, None] <= np.maximum(x1, x2)[None, :])
    iny = (lat[:, None] >= np.minimum(y1, y2)[None, :]) & (lat[:, None] <= np.maximum(y1, y2)[None, :])
    on_edge = (o == 0.0) & inx & iny
    boundary = on_edge.any(axis=1)
    out = np.zeros(len(lon), dtype=np.int8)
    out[boundary] = 1
    interior_mask = ~boundary
    if interior_mask.any():
        inside = points_in_polygon(lon[interior_mask], lat[interior_mask], coords, ring_offsets)
        idx = np.nonzero(interior_mask)[0]
        out[idx[inside]] = 2
    return out


def points_on_segments(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Per point: True if it lies on any of the segments (inclusive)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1, y1, x2, y2 = (np.asarray(a, dtype=np.float64)[None, :] for a in (x1, y1, x2, y2))
    o = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    inx = (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
    iny = (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
    return ((o == 0.0) & inx & iny).any(axis=1)


def segment_contact_matrices(a_edges, b_edges) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-pair (proper_cross, touch, collinear_overlap) boolean matrices
    (n_a x n_b) between two edge sets (each a 4-tuple of arrays).

    proper cross     — interiors cross transversally (strict sign test)
    touch            — contact that includes an endpoint / collinear point
    collinear overlap— collinear segments sharing a positive-length piece
    """
    ax1, ay1, ax2, ay2 = (np.asarray(v, dtype=np.float64)[:, None] for v in a_edges)
    bx1, by1, bx2, by2 = (np.asarray(v, dtype=np.float64)[None, :] for v in b_edges)
    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)  # a1 vs b
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)  # a2 vs b
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)  # b1 vs a
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)  # b2 vs a
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on_seg(px, py, sx1, sy1, sx2, sy2):
        return (
            (px >= np.minimum(sx1, sx2)) & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2)) & (py <= np.maximum(sy1, sy2))
        )

    t1 = (d1 == 0) & on_seg(ax1, ay1, bx1, by1, bx2, by2)
    t2 = (d2 == 0) & on_seg(ax2, ay2, bx1, by1, bx2, by2)
    t3 = (d3 == 0) & on_seg(bx1, by1, ax1, ay1, ax2, ay2)
    t4 = (d4 == 0) & on_seg(bx2, by2, ax1, ay1, ax2, ay2)
    touch = t1 | t2 | t3 | t4

    collinear = (d1 == 0) & (d2 == 0) & (d3 == 0) & (d4 == 0)
    if collinear.any():
        # project onto the dominant axis; overlap length > 0 ⇒ 1-dim overlap
        usex = np.abs(ax2 - ax1) >= np.abs(ay2 - ay1)
        alo = np.where(usex, np.minimum(ax1, ax2), np.minimum(ay1, ay2))
        ahi = np.where(usex, np.maximum(ax1, ax2), np.maximum(ay1, ay2))
        blo = np.where(usex, np.minimum(bx1, bx2), np.minimum(by1, by2))
        bhi = np.where(usex, np.maximum(bx1, bx2), np.maximum(by1, by2))
        overlap = collinear & (np.minimum(ahi, bhi) > np.maximum(alo, blo))
    else:
        overlap = np.zeros_like(collinear)
    return proper, touch, overlap


def segment_sets_relate(a_edges, b_edges) -> tuple[bool, bool, bool]:
    """(any_proper_cross, any_touch, any_collinear_overlap) between two
    edge sets — the scalar reduction of segment_contact_matrices."""
    proper, touch, overlap = segment_contact_matrices(a_edges, b_edges)
    return bool(proper.any()), bool(touch.any()), bool(overlap.any())


def _edge_midpoints(coords, ring_offsets):
    x1, y1, x2, y2 = polygon_edges(np.asarray(coords, dtype=np.float64), np.asarray(ring_offsets))
    return (x1 + x2) / 2.0, (y1 + y2) / 2.0


def _contact_interval_samples(coords, ring_offsets, other_pts):
    """Midpoints of every interval between consecutive contact
    parameters along each edge of (coords, ring_offsets), where a
    contact parameter is an ``other_pts`` vertex lying ON the edge.
    Along an edge, classification against the other polygon can change
    only at such points (with proper crossings excluded), so these
    samples make vertex+midpoint boundary sampling exact under
    degenerate contact — e.g. when every plain sample lands ON the
    other's boundary and misses an interior escape between two of its
    vertices. Every returned point lies on this geometry's boundary by
    construction, so extra samples are always sound."""
    pts = np.asarray(other_pts, dtype=np.float64)
    ex: list = []
    ey: list = []
    for r in range(len(ring_offsets) - 1):
        ring = np.asarray(coords[ring_offsets[r]:ring_offsets[r + 1]], dtype=np.float64)
        for e in range(len(ring) - 1):
            p, q = ring[e], ring[e + 1]
            d = q - p
            l2 = float(d @ d)
            if l2 == 0.0:
                continue
            vx = pts[:, 0] - p[0]
            vy = pts[:, 1] - p[1]
            crs = d[0] * vy - d[1] * vx
            t = (vx * d[0] + vy * d[1]) / l2
            on = (np.abs(crs) < 1e-12 * np.sqrt(l2)) & (t > 1e-12) & (t < 1 - 1e-12)
            if not on.any():
                continue
            ts = sorted({0.0, 1.0, *np.round(t[on], 15).tolist()})
            for a0, a1 in zip(ts[:-1], ts[1:]):
                tm = (a0 + a1) / 2.0
                ex.append(p[0] + tm * d[0])
                ey.append(p[1] + tm * d[1])
    return np.asarray(ex), np.asarray(ey)


def _normalize_ring(ring: np.ndarray) -> tuple:
    """Canonical form of a closed ring: drop the duplicate endpoint,
    orient CCW (shoelace), rotate to start at the lexicographic min."""
    r = ring[:-1]
    area2 = float(np.sum(r[:, 0] * np.roll(r[:, 1], -1) - np.roll(r[:, 0], -1) * r[:, 1]))
    if area2 < 0:
        r = r[::-1]
    start = np.lexsort((r[:, 1], r[:, 0]))[0]
    r = np.roll(r, -start, axis=0)
    return tuple(map(tuple, r))


def _canon_geom(kind, coords, ring_offsets) -> tuple:
    """Dimension-tagged canonical form: point sets as sorted tuples, line
    runs as direction-normalized sorted tuples, polygons as sorted
    canonical rings; collections recurse. Two geometries are structurally
    equal iff their canonical forms match (so POINT == single-member
    MULTIPOINT, POLYGON == single-member MULTIPOLYGON, etc.)."""
    if kind == "GEOMETRYCOLLECTION":
        return ("GC", tuple(sorted(map(str, (_canon_geom(*m) for m in coords)))))
    if kind in ("POINT", "MULTIPOINT"):
        return ("P", tuple(sorted(map(tuple, np.asarray(coords)))))
    if kind in ("LINESTRING", "MULTILINESTRING"):
        runs = []
        for r in range(len(ring_offsets) - 1):
            run = tuple(map(tuple, coords[ring_offsets[r]:ring_offsets[r + 1]]))
            runs.append(min(run, run[::-1]))
        return ("L", tuple(sorted(runs)))
    rings = sorted(_normalize_ring(coords[ring_offsets[i]:ring_offsets[i + 1]]) for i in range(len(ring_offsets) - 1))
    return ("A", tuple(rings))


def geoms_equal(ka, ca, oa, kb, cb, ob) -> bool:
    """Geometric equality via canonical forms: same dimension family and
    identical canonical point sets / line runs / ring cycles."""
    return _canon_geom(ka, ca, oa) == _canon_geom(kb, cb, ob)


class Relate:
    """Pairwise topological classification (the st_* predicate backend).

    Fields:
      ii   — interiors intersect
      bb   — boundaries intersect (any contact on both boundaries)
      bb_dim1 — boundaries share a positive-length (collinear) piece
      a_covers_b / b_covers_a — closure containment
      equal — geometric equality
      proper_cross — transversal edge crossing exists
      any_contact — closures intersect at all
      dim_a / dim_b — topological dimension (0/1/2)
    """

    __slots__ = ("ii", "bb", "bb_dim1", "a_covers_b", "b_covers_a", "equal",
                 "proper_cross", "any_contact", "dim_a", "dim_b",
                 "a_sample_in_b", "b_sample_in_a", "matrix")

    def __init__(self, **kw):
        for s in self.__slots__:
            setattr(self, s, kw.get(s, False))
        if "matrix" not in kw:
            self.matrix = None  # exact DE-9IM when a branch computed one


_DIM = {
    "POINT": 0,
    "MULTIPOINT": 0,
    "LINESTRING": 1,
    "MULTILINESTRING": 1,
    "POLYGON": 2,
    "MULTIPOLYGON": 2,
}


def geom_dim(kind: str, coords) -> int:
    if kind == "GEOMETRYCOLLECTION":
        return max(geom_dim(m[0], m[1]) for m in coords)
    return _DIM[kind]


def line_boundary_points(coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """Mod-2 boundary of a (multi)linestring: member endpoints occurring an
    odd number of times (a closed ring therefore has an empty boundary)."""
    from collections import Counter

    cnt: Counter = Counter()
    for r in range(len(ring_offsets) - 1):
        run = coords[ring_offsets[r]:ring_offsets[r + 1]]
        cnt[(float(run[0, 0]), float(run[0, 1]))] += 1
        cnt[(float(run[-1, 0]), float(run[-1, 1]))] += 1
    pts = [p for p, n in cnt.items() if n % 2 == 1]
    return np.asarray(pts, dtype=np.float64).reshape(-1, 2)


def _escape_witness(ca, oa, cb, ob) -> bool:
    """EXACT disproof of "B ⊆ closure(A)" for regions B's boundary never
    enters: True iff some point OUTSIDE closure(A) lies strictly inside
    B. Boundary sampling cannot see such an escape (B's interior
    swallows a whole complement component of A — a hole region, an
    island-in-hole annulus, or the gap between two A members), so this
    sweeps horizontal slices at the midpoint between every pair of
    consecutive distinct vertex y's of A: within a slice no A edge
    starts/ends, so the crossing parity between consecutive crossing
    x's is constant, and every bounded complement component spans at
    least one slice (segment extrema are vertices). Each even-parity
    (outside-A) interval midpoint is tested for strict containment in
    B. O(V_A² + V_A·V_B) like the relate itself."""
    ca = np.asarray(ca, dtype=np.float64)
    x1, y1, x2, y2 = polygon_edges(ca, np.asarray(oa))
    ys = np.unique(ca[:, 1])
    for ym in (ys[:-1] + ys[1:]) / 2.0:
        lo = np.minimum(y1, y2)
        hi = np.maximum(y1, y2)
        crossing = (lo < ym) & (ym < hi)
        if not crossing.any():
            continue
        t = (ym - y1[crossing]) / (y2[crossing] - y1[crossing])
        xs = np.sort(x1[crossing] + t * (x2[crossing] - x1[crossing]))
        if len(xs) < 2:
            continue
        mids = (xs[:-1] + xs[1:]) / 2.0
        # interval k (between xs[k], xs[k+1]) has k+1 crossings to its
        # left: odd ⇒ inside A, even ⇒ outside — take the even ones.
        # A zero-width interval (duplicate xs from a doubled or
        # self-touching edge) has its midpoint ON A's boundary, so it
        # witnesses nothing
        outside = mids[((np.arange(len(mids)) + 1) % 2 == 0) & (np.diff(xs) > 0)]
        if len(outside) == 0:
            continue
        cls = classify_points_in_polygon(outside, np.full(len(outside), ym), cb, np.asarray(ob))
        if (cls == 2).any():
            return True
    return False


def _transpose_matrix(m: str | None) -> str | None:
    if m is None:
        return None
    return m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]


def _relate_pointset(ka, ca, oa, kb, cb, ob) -> Relate:
    """(MULTI)POINT vs anything. Point sets have empty boundary (JTS mod-2
    rule), so the B(a) row of the matrix is all F when a is point-like."""
    r = Relate(dim_a=_DIM[ka], dim_b=geom_dim(kb, cb), equal=geoms_equal(ka, ca, oa, kb, cb, ob))
    flip = kb in ("POINT", "MULTIPOINT") and ka not in ("POINT", "MULTIPOINT")
    if flip:
        rr = _relate_pointset(kb, cb, ob, ka, ca, oa)
        out = Relate(
            dim_a=rr.dim_b, dim_b=rr.dim_a, equal=rr.equal, ii=rr.ii, bb=rr.bb,
            bb_dim1=rr.bb_dim1, a_covers_b=rr.b_covers_a, b_covers_a=rr.a_covers_b,
            proper_cross=rr.proper_cross, any_contact=rr.any_contact,
        )
        out.matrix = _transpose_matrix(rr.matrix)
        return out

    pts = np.asarray(ca, dtype=np.float64)
    px, py = pts[:, 0], pts[:, 1]
    if kb in ("POINT", "MULTIPOINT"):
        sa = set(map(tuple, ca))
        sb = set(map(tuple, cb))
        shared = bool(sa & sb)
        r.ii = shared
        r.any_contact = shared
        r.a_covers_b = sb <= sa
        r.b_covers_a = sa <= sb
        ii = "0" if shared else "F"
        ie = "0" if (sa - sb) else "F"
        ei = "0" if (sb - sa) else "F"
        r.matrix = ii + "F" + ie + "FFF" + ei + "F2"
        return r
    if kb in ("POLYGON", "MULTIPOLYGON"):
        cls = classify_points_in_polygon(px, py, cb, ob)
        any_in, any_bnd, any_out = bool((cls == 2).any()), bool((cls == 1).any()), bool((cls == 0).any())
        r.ii = any_in
        r.any_contact = any_in or any_bnd
        r.b_covers_a = not any_out
        r.a_covers_b = False
        r.matrix = (
            ("0" if any_in else "F") + ("0" if any_bnd else "F") + ("0" if any_out else "F")
            + "FFF" + "21" + "2"
        )
        return r
    if kb == "GEOMETRYCOLLECTION":
        return _relate_collection(ka, ca, oa, kb, cb, ob)
    # (MULTI)LINESTRING target
    eb = polygon_edges(cb, ob)
    on = points_on_segments(px, py, *eb)
    bnd = line_boundary_points(cb, ob)
    bnd_set = set(map(tuple, bnd))
    is_bnd = np.asarray([tuple(p) in bnd_set for p in pts], dtype=bool)
    any_int = bool((on & ~is_bnd).any())
    any_bnd = bool((on & is_bnd).any())
    any_out = bool((~on).any())
    r.ii = any_int
    r.any_contact = bool(on.any())
    r.b_covers_a = bool(on.all())
    r.a_covers_b = False
    # E(a) ∩ B(b): a boundary endpoint of b not present in the point set
    eb_dim = "F" if (len(bnd_set) > 0 and bnd_set <= set(map(tuple, pts))) else ("0" if bnd_set else "F")
    r.matrix = (
        ("0" if any_int else "F") + ("0" if any_bnd else "F") + ("0" if any_out else "F")
        + "FFF" + "1" + eb_dim + "2"
    )
    return r


def _relate_collection(ka, ca, oa, kb, cb, ob) -> Relate:
    """GEOMETRYCOLLECTION on either side: decompose into homogeneous parts
    and combine pairwise relates. Contact/crossing flags are exact (union
    semantics); covers is the conservative per-part form — B is covered if
    every part of B is covered by SOME single part of A (a part spanning
    two touching A-parts is reported uncovered). The DE-9IM matrix is
    combined exactly from the pairwise part matrices WHEN every part
    has a connected boundary (hole-free) and same-side parts have
    separated closures: interiors and boundaries are unions of the
    parts' → cell-wise MAX; the exterior is the INTERSECTION of the
    parts' exteriors → per-opposite-part MIN, then MAX across that
    side's own parts (a connected part inside the intersection of
    separated open exteriors lies inside one of them, which makes the
    min exact — holed or touching parts break that argument, so those
    collections keep the dim-based approximate fallback)."""
    parts_a = geom_parts(ka, ca, oa)
    parts_b = geom_parts(kb, cb, ob)
    r = Relate(dim_a=geom_dim(ka, ca), dim_b=geom_dim(kb, cb), equal=geoms_equal(ka, ca, oa, kb, cb, ob))
    covered_b = [False] * len(parts_b)
    covered_a = [False] * len(parts_a)
    na, nb = len(parts_a), len(parts_b)
    mats: list[list[str]] = [[""] * nb for _ in range(na)]
    for i, pa in enumerate(parts_a):
        for j, pb in enumerate(parts_b):
            rr = relate_geoms(*pa, *pb)
            r.ii = r.ii or rr.ii
            r.bb = r.bb or rr.bb
            r.bb_dim1 = r.bb_dim1 or rr.bb_dim1
            r.proper_cross = r.proper_cross or rr.proper_cross
            r.any_contact = r.any_contact or rr.any_contact
            covered_b[j] = covered_b[j] or rr.a_covers_b
            covered_a[i] = covered_a[i] or rr.b_covers_a
            mats[i][j] = de9im(rr)
    r.a_covers_b = all(covered_b)
    r.b_covers_a = all(covered_a)
    # The exact combination is sound only when (a) every part has a
    # CONNECTED boundary (a holed polygon's rings can split across
    # different opposite-part exteriors, breaking the per-opposite-part
    # MIN for the E row/column) and (b) same-side parts have separated
    # closures (a connected opposite part covered by two TOUCHING parts
    # jointly but neither alone breaks the same MIN). Otherwise leave
    # the matrix to the dim-based fallback — approximate, documented.
    def _sep(parts):
        for x in range(len(parts)):
            kx, cx, _ox = parts[x]
            for y in range(x + 1, len(parts)):
                ky, cy, _oy = parts[y]
                if kx != "POINT" and ky != "POINT":
                    if (
                        cx[:, 0].max() < cy[:, 0].min() or cy[:, 0].max() < cx[:, 0].min()
                        or cx[:, 1].max() < cy[:, 1].min() or cy[:, 1].max() < cx[:, 1].min()
                    ):
                        continue
                if relate_geoms(*parts[x], *parts[y]).any_contact:
                    return False
        return True

    exact_ok = all(
        k2 != "POLYGON" or len(o2) == 2 for k2, _c2, o2 in parts_a + parts_b
    ) and _sep(parts_a) and _sep(parts_b)
    if not exact_ok:
        return r
    rank = {"F": -1, "0": 0, "1": 1, "2": 2}
    sym = "F012"

    def _open_line(p):
        k2, c2, _o2 = p
        return k2 == "LINESTRING" and bool(
            c2[0, 0] != c2[-1, 0] or c2[0, 1] != c2[-1, 1]
        )

    def _bnd_min(part, opp_parts):
        # An OPEN linestring's boundary is two DISCONNECTED points, so
        # the per-opposite-part MIN is unsound for the whole part (the
        # endpoints can sit in different opposite-part exteriors). Each
        # endpoint IS a connected component, so apply the MIN per
        # endpoint exactly (IE cell of the point relate: 'F' iff the
        # endpoint is in that part's closure), then MAX across the two.
        c2 = part[1]
        best = -1
        for pt in (c2[0], c2[-1]):
            pg = ("POINT", np.asarray([pt]), np.asarray([0, 1]))
            best = max(
                best,
                min(rank[de9im(relate_geoms(*pg, *op))[2]] for op in opp_parts),
            )
        return best

    cells = []
    for row in range(3):
        for col in range(3):
            idx = row * 3 + col
            vals = [[rank[mats[i][j][idx]] for j in range(nb)] for i in range(na)]
            if row == 2 and col == 2:
                v = 2
            elif row < 2 and col < 2:
                v = max(max(vr) for vr in vals)
            elif col == 2:  # X(A) ∩ E(B): union over A parts, ∩ of B exteriors
                if row == 1 and nb > 1:
                    v = max(
                        _bnd_min(parts_a[i], parts_b)
                        if _open_line(parts_a[i]) else min(vals[i])
                        for i in range(na)
                    )
                else:
                    v = max(min(vr) for vr in vals)
            else:  # E(A) ∩ X(B): ∩ of A exteriors, union over B parts
                if col == 1 and na > 1:
                    v = max(
                        _bnd_min(parts_b[j], parts_a)
                        if _open_line(parts_b[j])
                        else min(vals[i][j] for i in range(na))
                        for j in range(nb)
                    )
                else:
                    v = max(min(vals[i][j] for i in range(na)) for j in range(nb))
            cells.append(sym[v + 1])
    r.matrix = "".join(cells)
    return r


def relate_geoms(ka, ca, oa, kb, cb, ob) -> Relate:
    """Exact relate for all seven OGC kinds (MULTIPOLYGON as multi-ring
    parity; GEOMETRYCOLLECTION by part decomposition). Containment uses:
    no transversal crossing + every vertex AND edge-midpoint of the
    contained geometry inside or on the boundary of the container (exact
    when crossings are detected, which the edge tests guarantee for
    non-degenerate inputs)."""
    if ka == "GEOMETRYCOLLECTION" or kb == "GEOMETRYCOLLECTION":
        return _relate_collection(ka, ca, oa, kb, cb, ob)
    if ka in ("POINT", "MULTIPOINT") or kb in ("POINT", "MULTIPOINT"):
        return _relate_pointset(ka, ca, oa, kb, cb, ob)

    r = Relate(dim_a=_DIM[ka], dim_b=_DIM[kb], equal=geoms_equal(ka, ca, oa, kb, cb, ob))

    def poly_like(k):
        return k in ("POLYGON", "MULTIPOLYGON")

    # both are 1/2-dimensional: edge machinery
    ea = polygon_edges(ca, oa)
    eb = polygon_edges(cb, ob)
    proper, touch, col_overlap = segment_sets_relate(ea, eb)
    r.proper_cross = proper
    r.bb_dim1 = col_overlap

    # sample points of each geometry: vertices + edge midpoints
    mx_a, my_a = _edge_midpoints(ca, oa)
    mbx, mby = _edge_midpoints(cb, ob)
    sax = np.concatenate([ca[:, 0], mx_a]); say = np.concatenate([ca[:, 1], my_a])
    sbx = np.concatenate([cb[:, 0], mbx]); sby = np.concatenate([cb[:, 1], mby])

    if poly_like(ka) and poly_like(kb):
        if touch or col_overlap:
            # degenerate contact: plain samples can ALL land on the
            # other's boundary while an interior escape hides between
            # two of its vertices — add contact-interval midpoints
            ax2, ay2 = _contact_interval_samples(ca, oa, cb)
            if len(ax2):
                sax = np.concatenate([sax, ax2])
                say = np.concatenate([say, ay2])
            bx2, by2 = _contact_interval_samples(cb, ob, ca)
            if len(bx2):
                sbx = np.concatenate([sbx, bx2])
                sby = np.concatenate([sby, by2])
        cls_b_in_a = classify_points_in_polygon(sbx, sby, ca, oa)
        cls_a_in_b = classify_points_in_polygon(sax, say, cb, ob)
        a_sample_in = (cls_a_in_b == 2).any()
        b_sample_in = (cls_b_in_a == 2).any()
        # proper crossings are boundary∩boundary points too
        boundary_contact = proper or touch or (cls_a_in_b == 1).any() or (cls_b_in_a == 1).any()
        r.ii = bool(proper or a_sample_in or b_sample_in or r.equal)
        r.a_sample_in_b = bool(a_sample_in)
        r.b_sample_in_a = bool(b_sample_in)
        r.bb = bool(boundary_contact or r.equal)
        # `or r.equal`: identical geometries trivially cover each other —
        # decided from canonical coordinates, immune to the midpoint
        # rounding that can misclassify boundary samples on thin shapes
        r.a_covers_b = bool((not proper and (cls_b_in_a > 0).all()) or r.equal)
        r.b_covers_a = bool((not proper and (cls_a_in_b > 0).all()) or r.equal)
        # complement correction: boundary samples can't witness "the
        # other polygon fills a complement component of mine" — a hole,
        # an island-in-hole annulus, or the gap between two members
        # (a single hole-centroid probe missed the annulus case: the
        # centroid landed inside the nested island). The exact scanline
        # witness sweeps every complement component instead.
        if r.a_covers_b and not r.equal and _escape_witness(ca, oa, cb, ob):
            r.a_covers_b = False
        if r.b_covers_a and not r.equal and _escape_witness(cb, ob, ca, oa):
            r.b_covers_a = False
        r.any_contact = bool(r.ii or r.bb)
        return r

    line_like = ("LINESTRING", "MULTILINESTRING")
    if ka in line_like and kb in line_like:
        ba_set = set(map(tuple, line_boundary_points(ca, oa)))
        bb_set = set(map(tuple, line_boundary_points(cb, ob)))
        # every point contact occurs at a vertex of at least one line (the
        # touch tests are endpoint-based) or at a proper crossing, whose
        # point is interior to both segments hence both line interiors
        ii_pt, ib_pt, bi_pt, bb_pt = bool(proper), False, False, False
        va_on_b = points_on_segments(ca[:, 0], ca[:, 1], *eb)
        vb_on_a = points_on_segments(cb[:, 0], cb[:, 1], *ea)
        for verts, on_other in ((ca, va_on_b), (cb, vb_on_a)):
            for p, on in zip(map(tuple, verts), on_other):
                if not on:
                    continue
                in_ba, in_bb = p in ba_set, p in bb_set
                if in_ba and in_bb:
                    bb_pt = True
                elif in_ba:
                    bi_pt = True  # boundary(a) ∩ interior(b)
                elif in_bb:
                    ib_pt = True  # interior(a) ∩ boundary(b)
                else:
                    ii_pt = True
        r.a_covers_b = bool(not proper and col_overlap and points_on_segments(sbx, sby, *ea).all()) or r.equal
        r.b_covers_a = bool(not proper and col_overlap and points_on_segments(sax, say, *eb).all()) or r.equal
        r.ii = bool(col_overlap or ii_pt or r.equal)
        r.bb = bb_pt
        r.any_contact = bool(proper or touch or col_overlap or r.equal)
        be_pt = any(not points_on_segments([p[0]], [p[1]], *eb)[0] for p in ba_set)
        eb_pt = any(not points_on_segments([p[0]], [p[1]], *ea)[0] for p in bb_set)
        r.matrix = (
            ("1" if col_overlap else ("0" if r.ii else "F"))
            + ("0" if ib_pt else "F")
            + ("F" if r.b_covers_a else "1")
            + ("0" if bi_pt else "F")
            + ("0" if bb_pt else "F")
            + ("0" if be_pt else "F")
            + ("F" if r.a_covers_b else "1")
            + ("0" if eb_pt else "F")
            + "2"
        )
        return r

    # line × polygon (either order): orient as (line L, polygon P)
    flip = poly_like(ka)
    lc, lo, le = (cb, ob, eb) if flip else (ca, oa, ea)
    pc, po, pe = (ca, oa, ea) if flip else (cb, ob, eb)
    lmx, lmy = _edge_midpoints(lc, lo)
    bnd_l = line_boundary_points(lc, lo)
    bnd_set = set(map(tuple, bnd_l))
    slx = np.concatenate([lc[:, 0], lmx])
    sly = np.concatenate([lc[:, 1], lmy])
    cls = classify_points_in_polygon(slx, sly, pc, po)
    is_bnd = np.asarray(
        [tuple(p) in bnd_set for p in lc] + [False] * len(lmx), dtype=bool
    )
    cls_int, cls_bnd = cls[~is_bnd], cls[is_bnd]
    any_in, any_out, any_bnd = (cls == 2).any(), (cls == 0).any(), (cls == 1).any()
    # polygon vertices sitting on the line (B(P) ∩ L contacts the samples
    # above can't see); split by whether they hit a line boundary endpoint
    pv_on_l = points_on_segments(pc[:, 0], pc[:, 1], *le)
    pv_pts = [tuple(p) for p, on in zip(pc, pv_on_l) if on]
    ib_pt = bool(proper or (cls_int == 1).any() or any(p not in bnd_set for p in pv_pts))
    bb_pt = bool((cls_bnd == 1).any() or any(p in bnd_set for p in pv_pts))
    covers = bool(not proper and (cls > 0).all())
    contact = bool(proper or touch or any_in or any_bnd)
    # polygon boundary ⊆ line? (E(L) ∩ B(P) empty only then)
    pbx = np.concatenate([pc[:, 0], _edge_midpoints(pc, po)[0]])
    pby = np.concatenate([pc[:, 1], _edge_midpoints(pc, po)[1]])
    pb_on_l = bool(points_on_segments(pbx, pby, *le).all()) and not proper
    m_lp = (
        ("1" if (proper or any_in) else "F")                       # I(L)∩I(P): a strict-inside point ⇒ a 1-dim piece inside
        + ("1" if col_overlap else ("0" if ib_pt else "F"))        # I(L)∩B(P)
        + ("F" if covers else "1")                                 # I(L)∩E(P)
        + ("0" if (cls_bnd == 2).any() else "F")                   # B(L)∩I(P)
        + ("0" if bb_pt else "F")                                  # B(L)∩B(P)
        + ("0" if (cls_bnd == 0).any() else "F")                   # B(L)∩E(P)
        + "2"                                                      # E(L)∩I(P): a line never covers an area
        + ("F" if pb_on_l else "1")                                # E(L)∩B(P)
        + "2"
    )
    ii = bool(proper or any_in)           # line interior meets polygon interior
    r.ii = ii
    r.bb = bool(touch or any_bnd)
    r.any_contact = contact
    r.matrix = _transpose_matrix(m_lp) if flip else m_lp
    if flip:  # a is polygon, b is line
        r.a_covers_b = covers
        r.b_covers_a = False
    else:
        r.b_covers_a = covers
        r.a_covers_b = False
    return r


# predicate layer (JTS semantics) --------------------------------------------


def pred_intersects(r: Relate) -> bool:
    return bool(r.any_contact)


def pred_disjoint(r: Relate) -> bool:
    return not r.any_contact


def pred_touches(r: Relate) -> bool:
    # contact, but interiors never meet (undefined/false for point-point)
    return bool(r.any_contact and not r.ii and not (r.dim_a == 0 and r.dim_b == 0))


def pred_contains(r: Relate) -> bool:
    return bool(r.a_covers_b and r.ii)


def pred_within(r: Relate) -> bool:
    return bool(r.b_covers_a and r.ii)


def pred_covers(r: Relate) -> bool:
    return bool(r.a_covers_b)


def pred_covered_by(r: Relate) -> bool:
    return bool(r.b_covers_a)


def pred_equals(r: Relate) -> bool:
    return bool(r.equal)


def pred_overlaps(r: Relate) -> bool:
    if r.dim_a != r.dim_b or not r.ii or r.a_covers_b or r.b_covers_a:
        return False
    if r.dim_a == 1:  # line/line overlap requires a shared 1-dim piece
        return bool(r.bb_dim1)
    return True


def pred_crosses(r: Relate) -> bool:
    if r.dim_a == r.dim_b == 1:  # line x line: 0-dim intersection of interiors
        if r.matrix is not None:  # exact: II cell is a point, not a shared piece
            return r.matrix[0] == "0"
        return bool(r.proper_cross and not r.bb_dim1)
    if r.dim_a == r.dim_b:
        return False  # polygon x polygon / point x point never cross
    # mixed dims (point-set vs line/polygon, line vs polygon): the
    # lower-dim geometry's interior must hit the other's interior AND its
    # exterior (JTS T*T****** / covered-by-closure complement). A single
    # POINT can never satisfy both; a MULTIPOINT with members inside and
    # outside does.
    return bool(r.ii and not r.a_covers_b and not r.b_covers_a)


def de9im(r: Relate) -> str:
    """DE-9IM matrix string. EXACT for polygon×polygon, point-set, and
    line-line / line-polygon pairs (the latter computed in relate_geoms
    from the crossing/overlap classification and stored on the Relate);
    dim-based fallback only for collection combinations."""
    if r.matrix is not None:
        return r.matrix
    if r.dim_a == 2 and r.dim_b == 2:
        ii = "2" if r.ii else "F"
        ib = "1" if (r.b_sample_in_a or (r.proper_cross and not r.a_covers_b)) else "F"
        ie = "F" if r.b_covers_a else "2"
        bi = "1" if (r.a_sample_in_b or (r.proper_cross and not r.b_covers_a)) else "F"
        bb = ("1" if r.bb_dim1 else "0") if r.bb else "F"
        be = "F" if r.b_covers_a else "1"
        ei = "F" if r.a_covers_b else "2"
        eb = "F" if r.a_covers_b else "1"
        return ii + ib + ie + bi + bb + be + ei + eb + "2"
    if r.dim_a == 0 and r.dim_b == 0:
        return "0FFFFFFF2" if r.ii else "FF0FFFFF2"
    # mixed / line combos: dims approximated from the classification
    def d(flag, dim):
        return str(dim) if flag else "F"

    ii = d(r.ii, min(r.dim_a, r.dim_b))
    ib = d(r.ii and not r.a_covers_b and r.dim_b > 0, max(r.dim_b - 1, 0))
    ie = "F" if r.b_covers_a else str(r.dim_a)
    bi = d(r.ii and not r.b_covers_a and r.dim_a > 0, max(r.dim_a - 1, 0))
    bb = d(r.bb, 1 if r.bb_dim1 else 0)
    be = "F" if r.b_covers_a else (str(max(r.dim_a - 1, 0)) if r.dim_a > 0 else "F")
    ei = "F" if r.a_covers_b else str(r.dim_b)
    eb = "F" if r.a_covers_b else (str(max(r.dim_b - 1, 0)) if r.dim_b > 0 else "F")
    return ii + ib + ie + bi + bb + be + ei + eb + "2"


# ---------------------------------------------------------------------------
# WKB (little-endian ISO WKB for POINT / LINESTRING / POLYGON /
# MULTIPOLYGON) and a generic WKT writer
# ---------------------------------------------------------------------------

import struct

_WKB_KIND = {
    "POINT": 1,
    "LINESTRING": 2,
    "POLYGON": 3,
    "MULTIPOINT": 4,
    "MULTILINESTRING": 5,
    "MULTIPOLYGON": 6,
    "GEOMETRYCOLLECTION": 7,
}
_WKB_NAME = {v: k for k, v in _WKB_KIND.items()}


def wkt_linestring(coords: np.ndarray) -> str:
    pts = ", ".join(f"{x:.10g} {y:.10g}" for x, y in coords)
    return f"LINESTRING ({pts})"


def wkt_any(kind: str, coords, ring_offsets) -> str:
    if kind == "POINT":
        return wkt_point(float(coords[0, 0]), float(coords[0, 1]))
    if kind == "LINESTRING":
        return wkt_linestring(coords)
    if kind == "POLYGON":
        return wkt_polygon(coords, ring_offsets)
    if kind == "MULTIPOINT":
        pts = ", ".join(f"({x:.10g} {y:.10g})" for x, y in coords)
        return f"MULTIPOINT ({pts})"
    if kind == "MULTILINESTRING":
        parts = []
        for r in range(len(ring_offsets) - 1):
            run = coords[ring_offsets[r]:ring_offsets[r + 1]]
            parts.append("(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in run) + ")")
        return f"MULTILINESTRING ({', '.join(parts)})"
    if kind == "GEOMETRYCOLLECTION":
        return f"GEOMETRYCOLLECTION ({', '.join(wkt_any(*m) for m in coords)})"
    # MULTIPOLYGON: reconstruct shell/hole grouping by containment depth
    def ring_txt(r):
        ring = coords[ring_offsets[r]:ring_offsets[r + 1]]
        return "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in ring) + ")"

    members = []
    for shell, holes in multipolygon_parts(coords, ring_offsets):
        members.append("(" + ", ".join(ring_txt(r) for r in [shell] + holes) + ")")
    return f"MULTIPOLYGON ({', '.join(members)})"


def wkb_write(kind: str, coords: np.ndarray, ring_offsets: np.ndarray) -> bytes:
    """Standard little-endian WKB bytes."""
    c = np.asarray(coords, dtype="<f8")

    def ring_bytes(ring):
        return struct.pack("<I", len(ring)) + ring.astype("<f8").tobytes()

    if kind == "POINT":
        return b"\x01" + struct.pack("<I", 1) + c[0].tobytes()
    if kind == "LINESTRING":
        return b"\x01" + struct.pack("<I", 2) + ring_bytes(c)
    if kind == "POLYGON":
        out = b"\x01" + struct.pack("<II", 3, len(ring_offsets) - 1)
        for r in range(len(ring_offsets) - 1):
            out += ring_bytes(c[ring_offsets[r]:ring_offsets[r + 1]])
        return out
    if kind == "MULTIPOINT":
        out = b"\x01" + struct.pack("<II", 4, len(c))
        for row in c:
            out += b"\x01" + struct.pack("<I", 1) + row.tobytes()
        return out
    if kind == "MULTILINESTRING":
        out = b"\x01" + struct.pack("<II", 5, len(ring_offsets) - 1)
        for r in range(len(ring_offsets) - 1):
            out += b"\x01" + struct.pack("<I", 2) + ring_bytes(c[ring_offsets[r]:ring_offsets[r + 1]])
        return out
    if kind == "MULTIPOLYGON":
        parts = multipolygon_parts(coords, ring_offsets)
        out = b"\x01" + struct.pack("<II", 6, len(parts))
        for shell, holes in parts:
            out += b"\x01" + struct.pack("<II", 3, 1 + len(holes))
            for r in [shell] + holes:
                out += ring_bytes(c[ring_offsets[r]:ring_offsets[r + 1]])
        return out
    raise ValueError(f"unsupported WKB kind: {kind}")


def wkb_write_any(kind: str, coords, ring_offsets) -> bytes:
    """wkb_write plus GEOMETRYCOLLECTION (type 7, nested members)."""
    if kind == "GEOMETRYCOLLECTION":
        out = b"\x01" + struct.pack("<II", 7, len(coords))
        for m in coords:
            out += wkb_write_any(*m)
        return out
    return wkb_write(kind, coords, ring_offsets)


def wkb_read(buf: bytes):
    """WKB bytes → (kind, coords, ring_offsets). Accepts both byte orders."""
    def u32(b, off, little):
        return struct.unpack_from("<I" if little else ">I", b, off)[0]

    def coords_at(b, off, n, little):
        arr = np.frombuffer(b, dtype="<f8" if little else ">f8", count=2 * n, offset=off)
        return arr.reshape(n, 2).astype(np.float64), off + 16 * n

    def parse_one(off):
        little = buf[off] == 1
        kind_code = u32(buf, off + 1, little) & 0xFF
        off += 5
        kind = _WKB_NAME[kind_code]
        if kind == "POINT":
            c, off = coords_at(buf, off, 1, little)
            return kind, c, np.asarray([0, 1]), off
        if kind == "LINESTRING":
            n = u32(buf, off, little)
            c, off = coords_at(buf, off + 4, n, little)
            return kind, c, np.asarray([0, n]), off
        if kind == "POLYGON":
            nrings = u32(buf, off, little)
            off += 4
            rings, offsets, pos = [], [0], 0
            for _ in range(nrings):
                n = u32(buf, off, little)
                c, off = coords_at(buf, off + 4, n, little)
                rings.append(c)
                pos += n
                offsets.append(pos)
            return kind, np.concatenate(rings), np.asarray(offsets), off
        if kind == "MULTIPOLYGON":
            npolys = u32(buf, off, little)
            off += 4
            rings, offsets, pos = [], [0], 0
            for _ in range(npolys):
                k2, c2, o2, off = parse_one(off)
                for r in range(len(o2) - 1):
                    ring = c2[o2[r]:o2[r + 1]]
                    rings.append(ring)
                    pos += len(ring)
                    offsets.append(pos)
            return kind, np.concatenate(rings), np.asarray(offsets), off
        if kind == "MULTIPOINT":
            npts = u32(buf, off, little)
            off += 4
            pts = []
            for _ in range(npts):
                _k2, c2, _o2, off = parse_one(off)
                pts.append(c2[0])
            c = np.asarray(pts, dtype=np.float64)
            return kind, c, np.arange(len(c) + 1), off
        if kind == "MULTILINESTRING":
            nlines = u32(buf, off, little)
            off += 4
            parts = []
            for _ in range(nlines):
                _k2, c2, _o2, off = parse_one(off)
                parts.append(c2)
            offsets = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
            return kind, np.concatenate(parts), offsets, off
        if kind == "GEOMETRYCOLLECTION":
            n = u32(buf, off, little)
            off += 4
            members = []
            for _ in range(n):
                k2, c2, o2, off = parse_one(off)
                members.append((k2, c2, o2))
            return kind, members, None, off
        raise ValueError(f"unsupported WKB kind code: {kind_code}")

    kind, c, o, _ = parse_one(0)
    return kind, c, o


# ---------------------------------------------------------------------------
# min distance / closest point (vertex↔edge candidates; exact for
# polyline/polygon pairs since the minimum occurs at a vertex-edge pair)
# ---------------------------------------------------------------------------


def _point_to_segments(px, py, x1, y1, x2, y2):
    """Per (point, segment): squared distance and the closest point."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1, y1, x2, y2 = (np.asarray(v, dtype=np.float64)[None, :] for v in (x1, y1, x2, y2))
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(L2 > 0, ((px - x1) * dx + (py - y1) * dy) / np.where(L2 == 0, 1.0, L2), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = x1 + t * dx, y1 + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return d2, cx, cy


def _covered_by_geom(px, py, kind, coords, ring_offsets) -> bool:
    """Is the point in the closure of the geometry?"""
    if kind in ("POINT", "MULTIPOINT"):
        return any(px == x and py == y for x, y in coords)
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return int(classify_points_in_polygon([px], [py], coords, ring_offsets)[0]) > 0
    return bool(points_on_segments([px], [py], *polygon_edges(coords, ring_offsets))[0])


def _crossing_witness(ea, eb):
    """The intersection point of the first properly-crossing segment pair
    (None if no transversal crossing exists)."""
    ax1, ay1, ax2, ay2 = (np.asarray(v, dtype=np.float64)[:, None] for v in ea)
    bx1, by1, bx2, by2 = (np.asarray(v, dtype=np.float64)[None, :] for v in eb)
    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if not proper.any():
        return None
    i, j = np.argwhere(proper)[0]
    t = d1[i, j] / (d1[i, j] - d2[i, j])
    return (
        float(ax1[i, 0] + t * (ax2[i, 0] - ax1[i, 0])),
        float(ay1[i, 0] + t * (ay2[i, 0] - ay1[i, 0])),
    )


def _is_pointlike(kind: str) -> bool:
    return kind in ("POINT", "MULTIPOINT")


def min_distance_and_closest(ka, ca, oa, kb, cb, ob):
    """(min planar-degree distance, closest point ON GEOMETRY A).
    When the geometries intersect, returns an actual intersection witness
    (contained vertex, or the solved crossing point of a properly-crossing
    edge pair) — matching JTS DistanceOp: the returned point lies in
    A ∩ B, never merely "somewhere on A"."""
    if ka == "GEOMETRYCOLLECTION" or kb == "GEOMETRYCOLLECTION":
        best = (np.inf, None)
        for pa in geom_parts(ka, ca, oa):
            for pb in geom_parts(kb, cb, ob):
                d, p = min_distance_and_closest(*pa, *pb)
                if d < best[0]:
                    best = (d, p)
        return best
    r = relate_geoms(ka, ca, oa, kb, cb, ob)
    if r.any_contact:
        if _is_pointlike(ka):
            for x, y in ca:
                if _covered_by_geom(float(x), float(y), kb, cb, ob):
                    return 0.0, (float(x), float(y))
        if _is_pointlike(kb):
            # the touching B point lies on A, so it is a valid witness on A
            for x, y in cb:
                if _covered_by_geom(float(x), float(y), ka, ca, oa):
                    return 0.0, (float(x), float(y))
        # contained-vertex witnesses (B vertex in A, then A vertex in B)
        for x, y in cb:
            if _covered_by_geom(float(x), float(y), ka, ca, oa):
                return 0.0, (float(x), float(y))
        for x, y in ca:
            if _covered_by_geom(float(x), float(y), kb, cb, ob):
                return 0.0, (float(x), float(y))
        # no vertex of either lies in the other: a transversal crossing
        # must exist — solve the segment-segment intersection
        w = _crossing_witness(polygon_edges(ca, oa), polygon_edges(cb, ob))
        if w is not None:
            return 0.0, w
        return 0.0, (float(ca[0, 0]), float(ca[0, 1]))
    best_d2 = np.inf
    best_pt = (float(ca[0, 0]), float(ca[0, 1]))
    if not _is_pointlike(ka):
        ea = polygon_edges(ca, oa)
        d2, cx, cy = _point_to_segments(cb[:, 0], cb[:, 1], *ea)
        i, j = np.unravel_index(np.argmin(d2), d2.shape)
        if d2[i, j] < best_d2:
            best_d2, best_pt = float(d2[i, j]), (float(cx[i, j]), float(cy[i, j]))
    if not _is_pointlike(kb):
        eb = polygon_edges(cb, ob)
        d2, _cx, _cy = _point_to_segments(ca[:, 0], ca[:, 1], *eb)
        i, j = np.unravel_index(np.argmin(d2), d2.shape)
        if d2[i, j] < best_d2:
            best_d2, best_pt = float(d2[i, j]), (float(ca[i, 0]), float(ca[i, 1]))
    if _is_pointlike(ka) and _is_pointlike(kb):
        d2 = planar_dist2(ca[:, 0][:, None], ca[:, 1][:, None], cb[:, 0][None, :], cb[:, 1][None, :])
        i, j = np.unravel_index(np.argmin(d2), d2.shape)
        best_d2 = float(d2[i, j])
        best_pt = (float(ca[i, 0]), float(ca[i, 1]))
    return float(np.sqrt(best_d2)), best_pt


def wkt_polygon_exact(coords: np.ndarray, ring_offsets: np.ndarray) -> str:
    """Full-precision polygon WKT (repr round-trips float64 exactly —
    required when a stored WKT column must reproduce the original
    coordinates bit-for-bit, e.g. the stored-polygon-table join whose
    oracle is generated from the source coordinate arrays)."""
    rings = []
    for r in range(len(ring_offsets) - 1):
        s, e = ring_offsets[r], ring_offsets[r + 1]
        pts = ", ".join(f"{x!r} {y!r}" for x, y in coords[s:e])
        rings.append(f"({pts})")
    return f"POLYGON ({', '.join(rings)})"


def multipolygon_parts(coords: np.ndarray, ring_offsets: np.ndarray) -> list[tuple[int, list[int]]]:
    """Group a flat ring list into member polygons [(shell_ring_idx,
    [hole_ring_idx, ...])] by containment depth: a ring at even nesting
    depth is a shell; an odd-depth ring is a hole of its deepest
    container. Reconstructs OGC structure for serialization (the internal
    parity representation is grouping-agnostic)."""
    nrings = len(ring_offsets) - 1
    rings = [coords[ring_offsets[r]:ring_offsets[r + 1]] for r in range(nrings)]
    lo = [r.min(axis=0) if len(r) else np.full(2, np.inf) for r in rings]
    hi = [r.max(axis=0) if len(r) else np.full(2, -np.inf) for r in rings]
    containers: list[list[int]] = [[] for _ in range(nrings)]
    for i in range(nrings):
        # majority vote over the ring's vertices AND edge midpoints
        # (strict-in vs strict-out; boundary votes abstain) — robust when
        # a hole touches its shell at vertices, where single-point parity
        # is arbitrary. Midpoints matter: a hole ALL of whose vertices
        # are pinch points on the shell (symdifference's union-with-
        # intersection-hole form) gets zero vertex votes, and without
        # midpoints it would orphan into its own filled shell.
        px = np.concatenate([rings[i][:-1, 0], (rings[i][:-1, 0] + rings[i][1:, 0]) / 2.0])
        py = np.concatenate([rings[i][:-1, 1], (rings[i][:-1, 1] + rings[i][1:, 1]) / 2.0])
        for j in range(nrings):
            # a winning vote needs a point strictly inside ring j, hence
            # inside its bbox: rings with no point there are outside
            if i == j or not (
                (px >= lo[j][0]) & (px <= hi[j][0]) & (py >= lo[j][1]) & (py <= hi[j][1])
            ).any():
                continue
            off_j = np.asarray([0, len(rings[j])])
            cls = classify_points_in_polygon(px, py, rings[j], off_j)
            if (cls == 2).sum() > (cls == 0).sum():
                containers[i].append(j)
    depth = [len(c) for c in containers]
    parts: list[tuple[int, list[int]]] = []
    shell_part = {}
    for i in range(nrings):
        if depth[i] % 2 == 0:
            shell_part[i] = len(parts)
            parts.append((i, []))
    for i in range(nrings):
        if depth[i] % 2 == 1:
            # deepest container at even depth = the owning shell
            shell = max(
                (j for j in containers[i] if depth[j] % 2 == 0),
                key=lambda j: depth[j],
                default=None,
            )
            if shell is not None:
                parts[shell_part[shell]][1].append(i)
    return parts


# ---------------------------------------------------------------------------
# Simplicity / validity / boundary / overlay kernels
# (st_isSimple, st_isValid, st_boundary, st_intersection, st_difference —
# SQLSpatialRelationFunctions / SQLGeometryProcessingFunctions analogs)
# ---------------------------------------------------------------------------


def line_edges(coords: np.ndarray):
    """(x1, y1, x2, y2) edge arrays of one open polyline."""
    c = np.asarray(coords, dtype=np.float64)
    return c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]


def is_simple_line(coords: np.ndarray) -> bool:
    """JTS isSimple for one LINESTRING: no self-intersection except the
    shared vertex of consecutive segments and (for a closed line) the
    start=end closure point. Straight segments meet in at most one point
    unless collinear, so 'touches beyond the shared endpoint' always
    surfaces as a proper cross or a collinear overlap — both checked."""
    c = np.asarray(coords, dtype=np.float64)
    # repeated consecutive points are redundant, not self-intersections
    # (JTS parity) — and their zero-length segments would false-positive
    # the non-adjacent endpoint-touch test
    if len(c) > 1:
        keep = np.concatenate([[True], (np.diff(c, axis=0) != 0).any(axis=1)])
        c = c[keep]
    if len(c) < 3:
        return True
    proper, touch, overlap = segment_contact_matrices(line_edges(c), line_edges(c))
    n = len(c) - 1  # segment count
    idx = np.arange(n)
    adjacent = np.abs(idx[:, None] - idx[None, :]) <= 1
    closed = bool((c[0] == c[-1]).all())
    closure = np.zeros((n, n), dtype=bool)
    if closed and n > 1:
        closure[0, n - 1] = closure[n - 1, 0] = True
    far = ~adjacent & ~closure
    if (proper | touch | overlap)[far].any():
        return False
    if overlap[adjacent & ~np.eye(n, dtype=bool)].any():  # spike / backtrack
        return False
    if closed and (proper | overlap)[closure].any():
        return False
    return True


def _line_endpoints(coords: np.ndarray) -> set[tuple[float, float]]:
    c = np.asarray(coords, dtype=np.float64)
    return {(float(c[0, 0]), float(c[0, 1])), (float(c[-1, 0]), float(c[-1, 1]))}


def is_simple(kind: str, coords, ring_offsets) -> bool:
    """SFS simplicity. Polygonal kinds are simple by definition;
    MULTIPOINT requires distinct members; (multi)linestrings require
    each part simple and inter-part contact only where BOTH parts have a
    line endpoint (the JTS boundary-contact rule; a contact point is
    always a vertex of one part on the other, since two straight
    segments cannot meet transversally without a proper cross)."""
    if kind in ("POINT", "POLYGON", "MULTIPOLYGON"):
        return True
    if kind == "MULTIPOINT":
        c = np.asarray(coords, dtype=np.float64)
        return len(np.unique(c, axis=0)) == len(c)
    if kind == "GEOMETRYCOLLECTION":
        return all(is_simple(*m) for m in coords)
    parts = [coords[ring_offsets[r]:ring_offsets[r + 1]] for r in range(len(ring_offsets) - 1)]
    if not all(is_simple_line(p) for p in parts):
        return False
    for i in range(len(parts)):
        for j in range(i + 1, len(parts)):
            a, b = parts[i], parts[j]
            proper, _touch, overlap = segment_contact_matrices(line_edges(a), line_edges(b))
            if proper.any() or overlap.any():
                return False
            ea, eb = _line_endpoints(a), _line_endpoints(b)
            for va, vb, other in ((a, b, eb), (b, a, ea)):
                on = points_on_segments(va[:, 0], va[:, 1], *line_edges(vb))
                for x, y in np.asarray(va, dtype=np.float64)[on]:
                    pt = (float(x), float(y))
                    if pt not in ea or pt not in eb:
                        return False
    return True


def ring_is_valid(ring: np.ndarray) -> bool:
    """Closed, >= 4 points, >= 3 distinct vertices, no self-intersection."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 4 or not (r[0] == r[-1]).all():
        return False
    if len(np.unique(r[:-1], axis=0)) < 3:
        return False
    return is_simple_line(r)


def is_valid(kind: str, coords, ring_offsets) -> bool:
    """OGC validity, exact for the dominant failure modes: ring closure /
    degeneracy / self-intersection, ring-ring proper crossing or
    collinear overlap, holes escaping their shell, a hole swallowing the
    shell, and holes nested inside other holes. Not checked: interior
    connectedness when rings touch at multiple points (rare, expensive),
    and MULTIPOLYGON member-nesting structure — the internal
    representation is a flat ring list interpreted by parity, which
    cannot distinguish JTS-invalid "nested shells" from the equivalent
    (and identically-evaluating) polygon-with-hole."""
    if kind == "POINT":
        return bool(np.isfinite(np.asarray(coords, dtype=np.float64)).all())
    if kind in ("MULTIPOINT",):
        return True
    if kind in ("LINESTRING", "MULTILINESTRING"):
        parts = [coords[ring_offsets[r]:ring_offsets[r + 1]] for r in range(len(ring_offsets) - 1)]
        return all(len(np.unique(np.asarray(p), axis=0)) >= 2 for p in parts)
    if kind == "GEOMETRYCOLLECTION":
        return all(is_valid(*m) for m in coords)
    # POLYGON / MULTIPOLYGON: flat ring list
    nrings = len(ring_offsets) - 1
    rings = [coords[ring_offsets[r]:ring_offsets[r + 1]] for r in range(nrings)]
    if not all(ring_is_valid(r) for r in rings):
        return False
    for i in range(nrings):
        for j in range(i + 1, nrings):
            proper, _t, overlap = segment_contact_matrices(line_edges(rings[i]), line_edges(rings[j]))
            if proper.any() or overlap.any():
                return False
    if kind == "POLYGON" and nrings > 1:
        shell, shell_offs = rings[0], np.asarray([0, len(rings[0])])
        for hole in rings[1:]:
            cls = classify_points_in_polygon(hole[:-1, 0], hole[:-1, 1], shell, shell_offs)
            if (cls == 0).any():  # hole vertex strictly outside the shell
                return False
            hole_offs = np.asarray([0, len(hole)])
            scls = classify_points_in_polygon(shell[:-1, 0], shell[:-1, 1], hole, hole_offs)
            if (scls == 2).any():  # shell swallowed by its own hole
                return False
        for i in range(1, nrings):
            for j in range(1, nrings):
                if i == j:
                    continue
                oj = np.asarray([0, len(rings[j])])
                hc = classify_points_in_polygon(
                    rings[i][:-1, 0], rings[i][:-1, 1], rings[j], oj
                )
                if (hc == 2).any():  # hole nested inside another hole
                    return False
    return True


def boundary_wkt(kind: str, coords, ring_offsets) -> str:
    """Combinatorial boundary (JTS getBoundary): points -> empty,
    (multi)linestrings -> mod-2 endpoint MULTIPOINT, polygons -> ring
    linework, collections -> member boundaries."""
    if kind in ("POINT", "MULTIPOINT"):
        return "GEOMETRYCOLLECTION EMPTY"
    if kind in ("LINESTRING", "MULTILINESTRING"):
        pts = line_boundary_points(np.asarray(coords, dtype=np.float64), np.asarray(ring_offsets))
        if len(pts) == 0:
            return "MULTIPOINT EMPTY"
        inner = ", ".join(f"({x:.10g} {y:.10g})" for x, y in pts)
        return f"MULTIPOINT ({inner})"
    if kind in ("POLYGON", "MULTIPOLYGON"):
        rings = [
            coords[ring_offsets[r]:ring_offsets[r + 1]] for r in range(len(ring_offsets) - 1)
        ]
        if kind == "POLYGON" and len(rings) == 1:
            return wkt_linestring(rings[0])
        offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
        return wkt_any("MULTILINESTRING", np.concatenate(rings), offs)
    if kind == "GEOMETRYCOLLECTION":
        members = [boundary_wkt(*m) for m in coords]
        members = [m for m in members if not m.endswith("EMPTY")]
        if not members:
            return "GEOMETRYCOLLECTION EMPTY"
        return f"GEOMETRYCOLLECTION ({', '.join(members)})"
    raise ValueError(kind)


# --- ring orientation --------------------------------------------------------


def ring_signed_area(ring: np.ndarray) -> float:
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _ccw_ring(ring: np.ndarray) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    return r if ring_signed_area(r) >= 0 else r[::-1]


# --- line overlay ----------------------------------------------------------


def _chain_pieces(pieces: list[np.ndarray]) -> list[np.ndarray]:
    """Merge consecutive 2-point pieces that share endpoints into maximal
    polylines (pieces arrive in traversal order)."""
    out: list[np.ndarray] = []
    for p in pieces:
        if out and (out[-1][-1] == p[0]).all():
            out[-1] = np.concatenate([out[-1], p[1:]])
        else:
            out.append(np.asarray(p, dtype=np.float64))
    return out


def line_clip_polygon(
    coords: np.ndarray, pcoords: np.ndarray, poffs: np.ndarray, keep_inside: bool
) -> list[np.ndarray]:
    """Split a polyline at every polygon-edge crossing and keep the
    sub-segments whose midpoints are inside (intersection; boundary
    pieces count as inside — the polygon is closed) or strictly outside
    (difference). Exact: crossing parameters are solved per segment."""
    c = np.asarray(coords, dtype=np.float64)
    ex1, ey1, ex2, ey2 = polygon_edges(np.asarray(pcoords, dtype=np.float64), np.asarray(poffs))
    kept: list[np.ndarray] = []
    for i in range(len(c) - 1):
        p, q = c[i], c[i + 1]
        dx, dy = q[0] - p[0], q[1] - p[1]
        # segment param t where p + t*(q-p) meets each polygon edge
        denom = dx * (ey2 - ey1) - dy * (ex2 - ex1)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((ex1 - p[0]) * (ey2 - ey1) - (ey1 - p[1]) * (ex2 - ex1)) / denom
            u = ((ex1 - p[0]) * dy - (ey1 - p[1]) * dx) / denom
        ok = (denom != 0) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
        ts = np.concatenate([[0.0, 1.0], t[ok]])
        ts = np.unique(ts[(ts >= 0) & (ts <= 1)])
        for a, b in zip(ts[:-1], ts[1:]):
            mx, my = p[0] + (a + b) / 2 * dx, p[1] + (a + b) / 2 * dy
            cls = int(classify_points_in_polygon([mx], [my], pcoords, poffs)[0])
            if (cls > 0) if keep_inside else (cls == 0):
                kept.append(
                    np.asarray([[p[0] + a * dx, p[1] + a * dy], [p[0] + b * dx, p[1] + b * dy]])
                )
    return _chain_pieces(kept)


def line_line_overlay(a_coords: np.ndarray, b_coords: np.ndarray):
    """A ∩ B for two polylines → (points, overlap_segments): transversal
    crossings and vertex touches contribute 0-dim points; collinear
    sub-segments contribute 1-dim pieces (their interiors are removed
    from the point set)."""
    a = np.asarray(a_coords, dtype=np.float64)
    b = np.asarray(b_coords, dtype=np.float64)
    ea, eb = line_edges(a), line_edges(b)
    ax1, ay1, ax2, ay2 = (v[:, None] for v in ea)
    bx1, by1, bx2, by2 = (v[None, :] for v in eb)
    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    points: list[tuple[float, float]] = []
    segs: list[np.ndarray] = []
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    for i, j in np.argwhere(proper):
        t = d1[i, j] / (d1[i, j] - d2[i, j])
        points.append((float(ax1[i, 0] + t * (ax2[i, 0] - ax1[i, 0])), float(ay1[i, 0] + t * (ay2[i, 0] - ay1[i, 0]))))
    # vertex-on-other touches (includes endpoints meeting mid-segment)
    for va, eo in ((a, eb), (b, ea)):
        on = points_on_segments(va[:, 0], va[:, 1], *eo)
        points.extend((float(x), float(y)) for x, y in va[on])
    # collinear overlaps
    collinear = (d1 == 0) & (d2 == 0) & (d3 == 0) & (d4 == 0)
    for i, j in np.argwhere(collinear):
        pa = np.asarray([[ax1[i, 0], ay1[i, 0]], [ax2[i, 0], ay2[i, 0]]])
        pb = np.asarray([[bx1[0, j], by1[0, j]], [bx2[0, j], by2[0, j]]])
        dx, dy = pa[1] - pa[0]
        usex = abs(dx) >= abs(dy)
        key = 0 if usex else 1
        lo = max(pa[:, key].min(), pb[:, key].min())
        hi = min(pa[:, key].max(), pb[:, key].max())
        if hi > lo:
            # recover both coordinates by parameterizing a's segment
            if usex:
                t0 = (lo - pa[0, 0]) / dx if dx != 0 else 0.0
                t1 = (hi - pa[0, 0]) / dx if dx != 0 else 0.0
            else:
                t0 = (lo - pa[0, 1]) / dy if dy != 0 else 0.0
                t1 = (hi - pa[0, 1]) / dy if dy != 0 else 0.0
            s0, s1 = sorted((t0, t1))
            segs.append(np.asarray([pa[0] + s0 * np.asarray([dx, dy]), pa[0] + s1 * np.asarray([dx, dy])]))
    if segs:
        # points on an overlap piece (endpoints included) are subsumed by it
        ex1, ey1 = np.asarray([s[0, 0] for s in segs]), np.asarray([s[0, 1] for s in segs])
        ex2, ey2 = np.asarray([s[1, 0] for s in segs]), np.asarray([s[1, 1] for s in segs])
        points = [
            (x, y)
            for x, y in dict.fromkeys(points)
            if not points_on_segments([x], [y], ex1, ey1, ex2, ey2)[0]
        ]
    return list(dict.fromkeys(points)), _chain_pieces(segs)


def line_difference_line(a_coords: np.ndarray, b_coords: np.ndarray) -> list[np.ndarray]:
    """A minus B for polylines: remove the collinear-overlap pieces of A
    (0-dim crossings subtract nothing from a 1-dim set)."""
    a = np.asarray(a_coords, dtype=np.float64)
    eb = line_edges(np.asarray(b_coords, dtype=np.float64))
    bx1, by1, bx2, by2 = (np.asarray(v) for v in eb)
    kept: list[np.ndarray] = []
    for i in range(len(a) - 1):
        p, q = a[i], a[i + 1]
        dx, dy = q[0] - p[0], q[1] - p[1]
        cuts = [(0.0, False)]
        # collinear b-segments projected onto a's parameter
        d1 = (bx2 - bx1) * (p[1] - by1) - (by2 - by1) * (p[0] - bx1)
        d2 = (bx2 - bx1) * (q[1] - by1) - (by2 - by1) * (q[0] - bx1)
        L2 = dx * dx + dy * dy
        removed: list[tuple[float, float]] = []
        if L2 > 0:
            for j in np.nonzero((d1 == 0) & (d2 == 0))[0]:
                t0 = ((bx1[j] - p[0]) * dx + (by1[j] - p[1]) * dy) / L2
                t1 = ((bx2[j] - p[0]) * dx + (by2[j] - p[1]) * dy) / L2
                lo, hi = max(min(t0, t1), 0.0), min(max(t0, t1), 1.0)
                if hi > lo:
                    removed.append((lo, hi))
        removed.sort()
        cur = 0.0
        for lo, hi in removed:
            if lo > cur:
                kept.append(np.asarray([p + cur * np.asarray([dx, dy]), p + lo * np.asarray([dx, dy])]))
            cur = max(cur, hi)
        if cur < 1.0:
            kept.append(np.asarray([p + cur * np.asarray([dx, dy]), p + 1.0 * np.asarray([dx, dy])]))
    return _chain_pieces(kept)


def endpoint_snapper(tol: float):
    """``snap(p) -> (x, y)``: the first point snapped so far that lies
    within ``tol`` of p in both coordinates, else p itself, which becomes
    a representative. Representatives live in a grid of tol-sized cells
    and a lookup searches the 3x3 neighbouring cells, NOT bare grid
    rounding: two endpoints 1e-12 apart can straddle a cell border and
    round to different cells (observed: 0.288228115 vs ...1160 → an
    unbalanced node and a refused graph)."""
    pool: dict = {}

    def snap(p):
        x, y = float(p[0]), float(p[1])
        gx, gy = round(x / tol), round(y / tol)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                q = pool.get((gx + dx, gy + dy))
                if q is not None and abs(q[0] - x) <= tol and abs(q[1] - y) <= tol:
                    return q
        q = (x, y)
        pool[(gx, gy)] = q
        return q

    return snap


def chain_closed_rings(pieces: list[np.ndarray], tol: float = 1e-9) -> list[np.ndarray] | None:
    """Assemble polyline pieces into closed rings by endpoint matching
    (endpoints snapped within ``tol`` — a cut point computed
    independently for two neighbouring pieces agrees only to float eps).
    Returns None unless every snapped endpoint has degree exactly 2 and
    every walk closes: the honest-failure contract of the slab sweep's
    ring assembly (an ambiguous junction or an open chain is never
    guessed at; on None, slab_overlay resolves higher even degrees with
    its planar face walk)."""
    rings: list[np.ndarray] = []
    open_segs: list[np.ndarray] = []
    for p in pieces:
        s = np.asarray(p, dtype=np.float64)
        if len(s) < 2:
            continue
        if abs(s[0, 0] - s[-1, 0]) <= tol and abs(s[0, 1] - s[-1, 1]) <= tol:
            if len(s) < 4:
                return None  # closed sliver: degenerate
            r = s.copy()
            r[-1] = r[0]
            rings.append(r)
        else:
            open_segs.append(s)
    if open_segs:
        snap = endpoint_snapper(tol)
        canon = [snap(e) for s in open_segs for e in (s[0], s[-1])]
        at: dict[tuple, list[tuple[int, bool]]] = {}
        for si in range(len(open_segs)):
            at.setdefault(canon[2 * si], []).append((si, True))
            at.setdefault(canon[2 * si + 1], []).append((si, False))
        if any(len(v) != 2 for v in at.values()):
            return None
        used = [False] * len(open_segs)
        for start in range(len(open_segs)):
            if used[start]:
                continue
            chain = [open_segs[start]]
            used[start] = True
            start_key = canon[2 * start]
            cur_key = canon[2 * start + 1]
            for _guard in range(len(open_segs)):
                if cur_key == start_key:
                    break
                nxt = [(si, at_start) for si, at_start in at[cur_key] if not used[si]]
                if len(nxt) != 1:
                    return None
                si, at_start = nxt[0]
                used[si] = True
                chain.append(open_segs[si] if at_start else open_segs[si][::-1])
                cur_key = canon[2 * si + 1] if at_start else canon[2 * si]
            else:
                return None  # open chain: junctions never closed a ring
            # the final piece already ends (within tol) at the start
            # point — snap it exactly closed rather than appending
            ring = np.concatenate([chain[0]] + [c[1:] for c in chain[1:]])
            ring[-1] = ring[0]
            if len(ring) < 4:
                return None
            rings.append(ring)
    return rings


# --- CRS transform (EPSG:4326 <-> EPSG:3857) --------------------------------

_R_MERC = 6378137.0


def transform_coords(coords: np.ndarray, src: str, dst: str) -> np.ndarray | None:
    """Web-Mercator reprojection (the one transform pair a tiling engine
    needs offline; other EPSG codes return None → SQL null)."""
    c = np.asarray(coords, dtype=np.float64)
    src, dst = src.upper(), dst.upper()
    if src == dst:
        return c
    if src == "EPSG:4326" and dst == "EPSG:3857":
        x = np.radians(c[:, 0]) * _R_MERC
        y = np.log(np.tan(np.pi / 4.0 + np.radians(np.clip(c[:, 1], -85.06, 85.06)) / 2.0)) * _R_MERC
        return np.column_stack([x, y])
    if src == "EPSG:3857" and dst == "EPSG:4326":
        lon = np.degrees(c[:, 0] / _R_MERC)
        lat = np.degrees(2.0 * np.arctan(np.exp(c[:, 1] / _R_MERC)) - np.pi / 2.0)
        return np.column_stack([lon, lat])
    return None
