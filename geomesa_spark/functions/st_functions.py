"""The ``st_*`` scalar-function surface (SURVEY.md §2.3).

From-scratch, Arrow-vectorized re-expression of GeoMesa's Spark SQL
function registry (upstream layout:
``geomesa-spark-sql/.../SQLGeometricConstructorFunctions.scala``,
``SQLSpatialAccessorFunctions.scala``, ``SQLSpatialRelationFunctions.scala``,
``SQLGeometryProcessingFunctions.scala``, ``SQLGeometricOutputFunctions.scala``,
wired by ``SQLTypes.scala#init`` — see SURVEY.md §0 citation policy).

Geometry interchange format is WKT strings (the reference accepts WKT at
the edges too); the engine's *hot path* stays on columnar lon/lat +
cell ids (operators/*), so these functions are the API-parity surface
for ad-hoc SQL, not the join path. Implementation notes:

- Point functions are fully vectorized (pandas C-string kernels / numpy).
- Polygon functions cache parsed geometries **per unique WKT within the
  Arrow batch** — the realistic workload has few distinct polygons
  repeated across many rows, so the per-row cost is one dict lookup, and
  the math is vectorized numpy per group (no per-row geometry math).
- ``register_all(spark)`` registers everything for SQL
  (~ ``SQLTypes.init``); the same callables work as DataFrame columns.
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as geo
from geomesa_spark.functions.slab_overlay import crossings, ring_edges, slab_boolean, slab_region

# matches 2-D POINTs and the 2-D projection of POINT Z / M / ZM
_POINT_NUM = r"POINT\s*(?:ZM|Z|M)?\s*\(\s*(-?[\d.eE+-]+)\s+(-?[\d.eE+-]+)(?:\s+-?[\d.eE+-]+){0,2}\s*\)"
# whole-string variant for dispatch decisions: an unanchored search would
# also hit the POINT inside "MULTIPOINT (…)" or a GEOMETRYCOLLECTION's
# first point member and silently fast-path a multi-part geometry as one
# point (wrong answer when other members fall outside the container)
_POINT_ONLY = r"^\s*" + _POINT_NUM + r"\s*$"


def _parse_cache(wkts: pd.Series) -> dict[str, tuple]:
    """Parse each unique WKT once per batch → {wkt: (kind, coords, offsets)};
    malformed, empty or unsupported text (``parse_wkt``'s ValueError) maps
    to None. Any other exception is a kernel bug and propagates."""
    out = {}
    for w in wkts.dropna().unique():
        try:
            out[w] = geo.parse_wkt(w)
        except ValueError:
            out[w] = None
    return out


# --- constructors -----------------------------------------------------------


@F.pandas_udf(StringType())
def st_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return "POINT (" + lon.map(repr) + " " + lat.map(repr) + ")"


@F.pandas_udf(StringType())
def st_makeBBOX(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
    a, b, c, d = (s.map(repr) for s in (minx, miny, maxx, maxy))
    return (
        "POLYGON ((" + a + " " + b + ", " + c + " " + b + ", " + c + " " + d
        + ", " + a + " " + d + ", " + a + " " + b + "))"
    )


@F.pandas_udf(StringType())
def st_geomFromWKT(wkt: pd.Series) -> pd.Series:
    cache = _parse_cache(wkt)
    return wkt.map(lambda w: w if (w is not None and cache.get(w) is not None) else None)


@F.pandas_udf(StringType())
def st_makeLine(points: pd.Series) -> pd.Series:
    """Array of POINT WKTs → LINESTRING (SQLGeometricConstructorFunctions
    st_makeLine analog)."""
    def mk(arr):
        if arr is None:
            return None
        pts = pd.Series(list(arr)).str.extract(_POINT_ONLY, expand=True).astype(np.float64)
        if pts.isna().any().any():
            return None
        return geo.wkt_linestring(pts.to_numpy())

    return points.map(mk)


@F.pandas_udf(StringType())
def st_makePolygon(line_wkt: pd.Series) -> pd.Series:
    """Closed LINESTRING → POLYGON (shell only)."""
    def mk(kind, coords, offs):
        if kind != "LINESTRING" or len(coords) < 4 or not (coords[0] == coords[-1]).all():
            return None
        return geo.wkt_polygon(coords, np.asarray([0, len(coords)]))

    return _per_unique(line_wkt, mk, object)


@F.pandas_udf(StringType())
def st_geomFromWKB(wkb: pd.Series) -> pd.Series:
    """WKB binary → geometry (WKT form)."""
    def rd(b):
        if b is None:
            return None
        try:
            return geo.wkt_any(*geo.wkb_read(bytes(b)))
        except Exception:
            return None

    return wkb.map(rd)


def _geohash_cells(gh: pd.Series):
    """(lon_center, lat_center, half_w, half_h) arrays per row, grouped by
    precision (geohash strings of mixed lengths decode per group)."""
    vals = gh.to_numpy(object)
    lon = np.full(len(vals), np.nan)
    lat = np.full(len(vals), np.nan)
    hw = np.full(len(vals), np.nan)
    hh = np.full(len(vals), np.nan)
    lens = np.array([len(v) if isinstance(v, str) else -1 for v in vals])
    for p in np.unique(lens):
        if p <= 0:
            continue
        m = lens == p
        arr = np.array([vals[i].encode() for i in np.nonzero(m)[0]], dtype=f"S{p}")
        lo, la = C.geohash_decode(arr)
        lon[m], lat[m] = lo, la
        nbits = 5 * int(p)
        hw[m] = 360.0 / (1 << ((nbits + 1) // 2)) / 2.0
        hh[m] = 180.0 / (1 << (nbits // 2)) / 2.0
    return lon, lat, hw, hh


@F.pandas_udf(StringType())
def st_pointFromGeoHash(gh: pd.Series) -> pd.Series:
    """GeoHash → POINT at the cell center."""
    lon, lat, _hw, _hh = _geohash_cells(gh)
    return pd.Series(
        [None if np.isnan(x) else geo.wkt_point(x, y) for x, y in zip(lon, lat)]
    )


@F.pandas_udf(StringType())
def st_geomFromGeoHash(gh: pd.Series) -> pd.Series:
    """GeoHash → its cell bbox POLYGON (st_box2DFromGeoHash alias)."""
    lon, lat, hw, hh = _geohash_cells(gh)
    out = []
    for x, y, w, h in zip(lon, lat, hw, hh):
        if np.isnan(x):
            out.append(None)
            continue
        ring = geo.make_bbox_ring(x - w, y - h, x + w, y + h)
        out.append(geo.wkt_polygon(ring, np.asarray([0, len(ring)])))
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_pointFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "POINT" else None, object)


@F.pandas_udf(StringType())
def st_lineFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "LINESTRING" else None, object)


@F.pandas_udf(StringType())
def st_polygonFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "POLYGON" else None, object)


@F.pandas_udf(StringType())
def st_mPointFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "MULTIPOINT" else None, object)


@F.pandas_udf(StringType())
def st_mLineFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "MULTILINESTRING" else None, object)


@F.pandas_udf(StringType())
def st_mPolyFromText(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o) if k == "MULTIPOLYGON" else None, object)


# --- accessors --------------------------------------------------------------


@F.pandas_udf(DoubleType())
def st_x(wkt: pd.Series) -> pd.Series:
    # anchored: st_x on a MULTIPOINT/collection is null (JTS Point-cast
    # parity), not the first member's x
    return wkt.str.extract(_POINT_ONLY, expand=True)[0].astype(np.float64)


@F.pandas_udf(DoubleType())
def st_y(wkt: pd.Series) -> pd.Series:
    return wkt.str.extract(_POINT_ONLY, expand=True)[1].astype(np.float64)


def _per_unique(wkt: pd.Series, fn, dtype):
    cache = _parse_cache(wkt)

    def safe(g):
        if g is None:
            return None
        try:
            return fn(*g)
        except Exception:
            return None  # kind not supported by this accessor → null, not a poisoned batch

    vals = {w: safe(g) for w, g in cache.items()}
    return wkt.map(vals).astype(dtype)


def _flat_coords(kind, coords):
    """All vertices of a geometry as one (n, 2) array (collections
    concatenate member vertices)."""
    if kind == "GEOMETRYCOLLECTION":
        return np.concatenate([_flat_coords(m[0], m[1]) for m in coords])
    return np.asarray(coords, dtype=np.float64)


@F.pandas_udf(StringType())
def st_envelope(wkt: pd.Series) -> pd.Series:
    def env(kind, coords, offs):
        x0, y0, x1, y1 = geo.polygon_bbox(_flat_coords(kind, coords))
        return (
            f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, "
            f"{x0!r} {y1!r}, {x0!r} {y0!r}))"
        )

    return _per_unique(wkt, env, object)


@F.pandas_udf(IntegerType())
def st_numPoints(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: len(_flat_coords(k, c)), "Int32")


@F.pandas_udf(DoubleType())
def st_area(wkt: pd.Series) -> pd.Series:
    def area(kind, coords, offs):
        if kind == "POLYGON":
            return abs(geo.polygon_area_deg2(coords, offs))
        if kind == "MULTIPOLYGON":
            return sum(abs(geo.polygon_area_deg2(c2, o2)) for _k2, c2, o2 in geo.geom_parts(kind, coords, offs))
        if kind == "GEOMETRYCOLLECTION":
            return sum(
                abs(geo.polygon_area_deg2(c2, o2))
                for k2, c2, o2 in geo.geom_parts(kind, coords, offs)
                if k2 == "POLYGON"
            )
        return 0.0

    return _per_unique(wkt, area, np.float64)


def _planar_len(coords: np.ndarray) -> float:
    d = np.diff(np.asarray(coords, dtype=np.float64), axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


@F.pandas_udf(DoubleType())
def st_length(wkt: pd.Series) -> pd.Series:
    """JTS getLength parity: 2-D path length of linear geometries and
    PERIMETER of areal geometries, in degree units (CRS units, like
    st_distance). The meters variants are st_lengthSphere /
    st_lengthSpheroid."""

    def ln(kind, coords, offs):
        if kind == "POINT":
            return 0.0
        if kind == "GEOMETRYCOLLECTION":
            return float(sum(ln(k2, c2, o2) for k2, c2, o2 in geo.geom_parts(kind, coords, offs)))
        if kind == "MULTIPOINT":
            return 0.0
        # linestrings and polygon rings alike: sum per stored part/ring
        return float(
            sum(_planar_len(coords[offs[r]:offs[r + 1]]) for r in range(len(offs) - 1))
        )

    return _per_unique(wkt, ln, np.float64)


@F.pandas_udf(DoubleType())
def st_lengthSphere(wkt: pd.Series) -> pd.Series:
    """Great-circle (mean-radius haversine) path length of a LINESTRING in
    meters (the reference's st_lengthSphere; st_lengthSpheroid is the
    exact-ellipsoid variant). MULTILINESTRING/collections sum member
    linestrings; other kinds are 0."""

    def ln(kind, coords, offs):
        if kind == "LINESTRING":
            return float(
                geo.haversine_m(coords[:-1, 0], coords[:-1, 1], coords[1:, 0], coords[1:, 1]).sum()
            )
        if kind in ("MULTILINESTRING", "GEOMETRYCOLLECTION"):
            return float(
                sum(
                    geo.haversine_m(c2[:-1, 0], c2[:-1, 1], c2[1:, 0], c2[1:, 1]).sum()
                    for k2, c2, _o2 in geo.geom_parts(kind, coords, offs)
                    if k2 == "LINESTRING"
                )
            )
        return 0.0

    return _per_unique(wkt, ln, np.float64)


@F.pandas_udf(DoubleType())
def st_lengthSpheroid(wkt: pd.Series) -> pd.Series:
    """WGS84 ellipsoidal path length of a LINESTRING in meters (the
    reference's st_lengthSpheroid): Vincenty geodesic summed over
    consecutive vertices — a two-vertex line equals
    st_distanceSpheroid of its endpoints. MULTILINESTRING/collections
    sum member linestrings; other kinds are 0 (JTS getLength parity)."""

    def ln(kind, coords, offs):
        if kind == "LINESTRING":
            return float(
                geo.vincenty_m(coords[:-1, 0], coords[:-1, 1], coords[1:, 0], coords[1:, 1]).sum()
            )
        if kind in ("MULTILINESTRING", "GEOMETRYCOLLECTION"):
            return float(
                sum(
                    geo.vincenty_m(c2[:-1, 0], c2[:-1, 1], c2[1:, 0], c2[1:, 1]).sum()
                    for k2, c2, _o2 in geo.geom_parts(kind, coords, offs)
                    if k2 == "LINESTRING"
                )
            )
        return 0.0

    return _per_unique(wkt, ln, np.float64)


@F.pandas_udf(StringType())
def st_centroid(wkt: pd.Series) -> pd.Series:
    def cen(kind, coords, offs):
        if kind == "POLYGON":
            x, y = geo.polygon_centroid(coords, offs)
        elif kind == "MULTIPOLYGON":
            # |area|-weighted mean of member centroids (JTS semantics;
            # member rings may carry arbitrary orientations, so signed
            # shoelace terms across independent shells must not cancel)
            wx = wy = wtot = 0.0
            for _k2, c2, o2 in geo.geom_parts(kind, coords, offs):
                a = abs(geo.polygon_area_deg2(c2, o2))
                cx, cy = geo.polygon_centroid(c2, o2)
                wx, wy, wtot = wx + cx * a, wy + cy * a, wtot + a
            if wtot > 0:
                x, y = wx / wtot, wy / wtot
            else:
                c = _flat_coords(kind, coords)
                x, y = float(c[:, 0].mean()), float(c[:, 1].mean())
        elif kind in ("LINESTRING", "MULTILINESTRING"):
            x, y = geo.line_centroid(coords, offs)
        else:
            c = _flat_coords(kind, coords)
            x, y = float(c[:, 0].mean()), float(c[:, 1].mean())
        return f"POINT ({x!r} {y!r})"

    return _per_unique(wkt, cen, object)


@F.pandas_udf(StringType())
def st_exteriorRing(wkt: pd.Series) -> pd.Series:
    """Polygon shell as a LINESTRING (SQLSpatialAccessorFunctions analog).
    POLYGON only — the reference casts to Polygon via JTS, so a
    MULTIPOLYGON answers null rather than silently dropping shells."""
    def ring(kind, coords, offs):
        if kind != "POLYGON":
            return None
        return geo.wkt_linestring(coords[offs[0]:offs[1]])

    return _per_unique(wkt, ring, object)


def _null_idx(i) -> bool:
    """True for a null index value: a SQL NULL in an int column reaches
    pandas as float NaN, which is not None and raises on int()."""
    return i is None or (isinstance(i, float) and np.isnan(i))


@F.pandas_udf(StringType())
def st_interiorRingN(wkt: pd.Series, n: pd.Series) -> pd.Series:
    """n-th interior ring (1-based) of a POLYGON as a LINESTRING."""
    cache = _parse_cache(wkt)
    out = []
    for w, i in zip(wkt.to_numpy(object), n.to_numpy()):
        g = cache.get(w)
        if g is None or g[0] != "POLYGON" or _null_idx(i) or not (1 <= int(i) <= len(g[2]) - 2):
            out.append(None)
            continue
        k = int(i)
        out.append(geo.wkt_linestring(g[1][g[2][k]:g[2][k + 1]]))
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_pointN(wkt: pd.Series, n: pd.Series) -> pd.Series:
    """n-th vertex (1-based; negative counts from the end) of a LINESTRING."""
    cache = _parse_cache(wkt)
    out = []
    for w, i in zip(wkt.to_numpy(object), n.to_numpy()):
        g = cache.get(w)
        if g is None or g[0] != "LINESTRING" or _null_idx(i) or i == 0 or abs(int(i)) > len(g[1]):
            out.append(None)
            continue
        k = int(i) - 1 if int(i) > 0 else len(g[1]) + int(i)
        out.append(geo.wkt_point(float(g[1][k, 0]), float(g[1][k, 1])))
    return pd.Series(out)


@F.pandas_udf(IntegerType())
def st_coordDim(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: 2, "Int32")


@F.pandas_udf(IntegerType())
def st_dimension(wkt: pd.Series) -> pd.Series:
    """Topological dimension: (MULTI)POINT 0, (MULTI)LINESTRING 1,
    (MULTI)POLYGON 2, GEOMETRYCOLLECTION = max member dimension."""
    return _per_unique(wkt, lambda k, c, o: geo.geom_dim(k, c), "Int32")


_TYPE_NAME = {
    "POINT": "Point",
    "LINESTRING": "LineString",
    "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint",
    "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
}


@F.pandas_udf(StringType())
def st_geometryType(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, lambda k, c, o: _TYPE_NAME[k], object)


def _num_geometries(kind, coords, offs) -> int:
    if kind == "GEOMETRYCOLLECTION":
        return len(coords)
    if kind == "MULTIPOINT":
        return len(coords)
    if kind == "MULTILINESTRING":
        return len(offs) - 1
    if kind == "MULTIPOLYGON":
        return len(geo.multipolygon_parts(coords, offs))
    return 1


@F.pandas_udf(IntegerType())
def st_numGeometries(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, _num_geometries, "Int32")


@F.pandas_udf(StringType())
def st_geometryN(wkt: pd.Series, n: pd.Series) -> pd.Series:
    """n-th member geometry (1-based) of a multi-geometry or collection;
    the geometry itself for n=1 on simple kinds."""
    cache = _parse_cache(wkt)
    out = []
    for w, i in zip(wkt.to_numpy(object), n.to_numpy()):
        g = cache.get(w)
        if g is None or _null_idx(i) or int(i) < 1:
            out.append(None)
            continue
        try:
            if g[0] == "GEOMETRYCOLLECTION":
                members = g[1]
                out.append(geo.wkt_any(*members[int(i) - 1]) if int(i) <= len(members) else None)
            else:
                parts = geo.geom_parts(*g)
                out.append(geo.wkt_any(*parts[int(i) - 1]) if int(i) <= len(parts) else None)
        except Exception:
            out.append(None)
    return pd.Series(out)


# --- relations --------------------------------------------------------------


def _pip_against(poly_wkt: pd.Series, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    cache = _parse_cache(poly_wkt)
    out = np.zeros(len(lon), dtype=bool)
    codes, uniques = pd.factorize(poly_wkt)
    for i, w in enumerate(uniques):
        g = cache.get(w)
        if g is None:
            continue
        m = codes == i
        out[m] = geo.points_in_polygon(lon[m], lat[m], g[1], g[2])
    return out


def _pip_interior_against(poly_wkt: pd.Series, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Strict-interior PIP (classify == 2): the st_contains/st_within fast
    path — boundary points answer False, matching the exact relate kernel
    and JTS (raw ray-crossing parity is side-dependent on the boundary)."""
    cache = _parse_cache(poly_wkt)
    out = np.zeros(len(lon), dtype=bool)
    codes, uniques = pd.factorize(poly_wkt)
    for i, w in enumerate(uniques):
        g = cache.get(w)
        if g is None:
            continue
        m = codes == i
        out[m] = geo.classify_points_in_polygon(lon[m], lat[m], g[1], g[2]) == 2
    return out


def _containment_series(container: pd.Series, contained: pd.Series, pred) -> pd.Series:
    """Vectorized PIP fast path for POLYGON-contains-POINT rows; exact
    relate kernel for every other kind pairing (the fast path must not
    fire for LINESTRING/POINT containers — parity against a polyline is
    meaningless)."""
    pts = contained.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    poly_container = container.str.match(r"\s*(?:POLYGON|MULTIPOLYGON)\b", na=False)
    fast = ~pts.isna().any(axis=1) & poly_container
    out = np.empty(len(container), dtype=object)
    if fast.any():
        m = fast.to_numpy()
        out[m] = _pip_interior_against(container[fast], pts[0].to_numpy()[m], pts[1].to_numpy()[m])
    if (~fast).any():
        a, b = (container[~fast], contained[~fast])
        gen = _per_unique_pair(a, b, lambda ga, gb: pred(geo.relate_geoms(*ga, *gb)))
        out[(~fast).to_numpy()] = gen
    return pd.Series(out)


@F.pandas_udf(BooleanType())
def st_contains(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Exact containment (interior-intersecting closure containment) for
    any POINT/LINESTRING/POLYGON pair; vectorized PIP fast path when the
    contained side is a POINT."""
    return _containment_series(a_wkt, b_wkt, geo.pred_contains)


@F.pandas_udf(BooleanType())
def st_containsPoint(poly_wkt: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(
        _pip_against(poly_wkt, lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    )


@F.pandas_udf(BooleanType())
def st_within(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """a within b == b contains a (same kernel, operands swapped)."""
    return _containment_series(b_wkt, a_wkt, geo.pred_contains)


def _per_unique_pair(a_wkt: pd.Series, b_wkt: pd.Series, fn):
    """Evaluate ``fn(geom_a, geom_b)`` once per unique (a, b) WKT pair in
    the batch (realistic workloads repeat few geometries across many rows),
    returning a per-row object array. Unparseable inputs map to None."""
    ca, cb = _parse_cache(a_wkt), _parse_cache(b_wkt)
    av, bv = a_wkt.to_numpy(object), b_wkt.to_numpy(object)
    codes, uniq = pd.factorize(pd.Series(list(zip(av, bv))))
    vals = []
    for a, b in uniq:
        ga, gb = ca.get(a), cb.get(b)
        vals.append(None if ga is None or gb is None else fn(ga, gb))
    out = np.empty(len(av), dtype=object)
    for i, v in enumerate(vals):
        out[codes == i] = v
    return out


def _relation_series(a_wkt: pd.Series, b_wkt: pd.Series, pred) -> pd.Series:
    return pd.Series(
        _per_unique_pair(a_wkt, b_wkt, lambda ga, gb: pred(geo.relate_geoms(*ga, *gb)))
    )


@F.pandas_udf(BooleanType())
def st_intersects(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Exact topological intersects for POINT/LINESTRING/POLYGON/
    MULTIPOLYGON pairs (edge-crossing + boundary + parity kernel —
    geometry.relate_geoms). Concave disjoint polygons with overlapping
    bboxes classify correctly."""
    return _relation_series(a_wkt, b_wkt, geo.pred_intersects)


@F.pandas_udf(BooleanType())
def st_disjoint(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_disjoint)


@F.pandas_udf(BooleanType())
def st_touches(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_touches)


@F.pandas_udf(BooleanType())
def st_crosses(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_crosses)


@F.pandas_udf(BooleanType())
def st_overlaps(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_overlaps)


@F.pandas_udf(BooleanType())
def st_equals(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_equals)


@F.pandas_udf(BooleanType())
def st_covers(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_covers)


@F.pandas_udf(BooleanType())
def st_coveredBy(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    return _relation_series(a_wkt, b_wkt, geo.pred_covered_by)


@F.pandas_udf(StringType())
def st_relate(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """DE-9IM matrix string — exact dims for point/line/polygon pairings
    (verified against canonical JTS matrices in tests); see geometry.de9im."""
    return pd.Series(
        _per_unique_pair(a_wkt, b_wkt, lambda ga, gb: geo.de9im(geo.relate_geoms(*ga, *gb)))
    )


@F.pandas_udf(BooleanType())
def st_relateBool(a_wkt: pd.Series, b_wkt: pd.Series, pattern: pd.Series) -> pd.Series:
    """DE-9IM pattern match: 'T' = non-F, '*' = any, else exact char."""
    mats = _per_unique_pair(a_wkt, b_wkt, lambda ga, gb: geo.de9im(geo.relate_geoms(*ga, *gb)))
    pats = pattern.to_numpy(object)
    out = np.empty(len(mats), dtype=object)
    for i, (m, p) in enumerate(zip(mats, pats)):
        if m is None or p is None or len(p) != 9:
            out[i] = None
            continue
        out[i] = all(pc == "*" or (pc == "T" and mc != "F") or pc == mc for mc, pc in zip(m, p))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def st_distance(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Planar degree distance (JTS st_distance semantics): vectorized fast
    path for POINT×POINT rows; vertex↔edge minimum (0 on contact) for
    line/polygon operands, computed once per unique pair."""
    pa = a_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    pb = b_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    fast = ~(pa.isna().any(axis=1) | pb.isna().any(axis=1))
    out = np.full(len(a_wkt), np.nan)
    if fast.any():
        m = fast.to_numpy()
        out[m] = np.sqrt(
            geo.planar_dist2(pa[0].to_numpy()[m], pa[1].to_numpy()[m], pb[0].to_numpy()[m], pb[1].to_numpy()[m])
        )
    if (~fast).any():
        gen = _per_unique_pair(
            a_wkt[~fast], b_wkt[~fast], lambda ga, gb: geo.min_distance_and_closest(*ga, *gb)[0]
        )
        out[(~fast).to_numpy()] = [np.nan if v is None else v for v in gen]
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_closestPoint(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """The point ON geometry A closest to geometry B (POINT WKT)."""
    def cp(ga, gb):
        _d, (x, y) = geo.min_distance_and_closest(*ga, *gb)
        return geo.wkt_point(x, y)

    return pd.Series(_per_unique_pair(a_wkt, b_wkt, cp))


@F.pandas_udf(DoubleType())
def st_distanceSphere(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Great-circle meters (mean-radius sphere — fast approximation;
    st_distanceSpheroid is the exact-ellipsoid variant)."""
    pa = a_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    pb = b_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    return pd.Series(
        geo.haversine_m(pa[0].to_numpy(), pa[1].to_numpy(), pb[0].to_numpy(), pb[1].to_numpy())
    )


@F.pandas_udf(DoubleType())
def st_distanceSpheroid(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """WGS84 ellipsoidal geodesic meters between two POINTs — Vincenty's
    inverse formula (the reference's st_distanceSpheroid / JTS
    geodeticDistance semantics), fully vectorized."""
    pa = a_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    pb = b_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    return pd.Series(
        geo.vincenty_m(pa[0].to_numpy(), pa[1].to_numpy(), pb[0].to_numpy(), pb[1].to_numpy())
    )


# --- processing -------------------------------------------------------------


def _buffer_point_wkt(lon: np.ndarray, lat: np.ndarray, radius_m: np.ndarray) -> list[str]:
    """POLYGON WKT of every ``geo.buffer_points`` ring, formatted exactly
    as ``geo.wkt_polygon`` formats one (%.10g per coordinate)."""
    rings = geo.buffer_points(lon, lat, radius_m)
    fmt = "POLYGON ((" + ", ".join(["%.10g %.10g"] * rings.shape[1]) + "))"
    return [fmt % tuple(row) for row in rings.reshape(len(rings), 2 * rings.shape[1]).tolist()]


@F.pandas_udf(StringType())
def st_bufferPoint(lon: pd.Series, lat: pd.Series, radius_m: pd.Series) -> pd.Series:
    return pd.Series(_buffer_point_wkt(*(s.to_numpy(np.float64) for s in (lon, lat, radius_m))))


_SEGMENTS = 8  # arc steps per half circle of a buffer disc or capsule end


def _disc(center, r: float, idx: int) -> np.ndarray:
    """CCW 2s-gon (s = _SEGMENTS) inscribed in the radius-r circle; the
    start phase varies per ring (idx), so co-centred arcs of different
    parts never share sampled vertices — an exact tie the slab sweep's
    face walk would refuse as an ambiguous junction."""
    s = _SEGMENTS
    phase = (0.1 + 0.8 * ((idx * 37) % 89) / 89.0) * (np.pi / s)
    th = phase + np.arange(2 * s) * (np.pi / s)
    ring = np.column_stack([center[0] + r * np.cos(th), center[1] + r * np.sin(th)])
    return np.vstack([ring, ring[:1]])


def _capsule(p, q, r: float, idx: int) -> np.ndarray:
    """CCW stadium around the segment p→q (p != q), extended by a
    per-capsule jittered ε ≈ 0.005r along the axis. Without the
    extension a corner p + r·n̂ lies EXACTLY on the adjacent
    perpendicular edge of an axis-aligned ring; with it, the contacts
    become proper crossings. The overshoot error is ≤ ε²/2r ≈
    3e-5·r, far inside the inscribed-arc sag _buffer_geom grants.
    Interior arc samples get a per-capsule phase jitter for the same
    reason: adjacent capsules share arc centres, and identical samples
    would touch vertex to vertex. Either contact gives the slab sweep's
    face walk exact angular ties, which it refuses (honest null)."""
    s = _SEGMENTS
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    d = q - p
    u = d / float(np.hypot(*d))
    eps = r * 0.004 * (1.0 + ((idx * 53) % 97) / 97.0)
    p = p - eps * u
    q = q + eps * u
    n = np.asarray([-u[1], u[0]])
    aq = float(np.arctan2(n[1], n[0]))
    jit = (((idx * 37) % 89) / 89.0) * 0.8 - 0.4  # ∈ (−0.4, 0.4) steps
    step = np.pi / s
    pts = [p + r * n, q + r * n]
    for j in range(1, s):
        th = aq - (j + jit) * step
        pts.append(q + r * np.asarray([np.cos(th), np.sin(th)]))
    pts.append(q - r * n)
    pts.append(p - r * n)
    for j in range(1, s):
        th = (aq - np.pi) - (j + jit) * step
        pts.append(p + r * np.asarray([np.cos(th), np.sin(th)]))
    pts.append(p + r * n)
    return np.asarray(pts[::-1], dtype=np.float64)  # built clockwise


def _valid_ring(ring: np.ndarray) -> bool:
    """A closed ring with at least 3 distinct vertices and no zero-width
    spike (an edge doubling back along its predecessor)."""
    if len(ring) < 4 or (ring[0] != ring[-1]).any():
        return False
    body = ring[:-1]
    body = body[(body != np.roll(body, 1, axis=0)).any(axis=1)]
    if len(np.unique(body, axis=0)) < 3:
        return False
    d = np.roll(body, -1, axis=0) - body
    dp = np.roll(d, 1, axis=0)
    spike = (dp[:, 0] * d[:, 1] == dp[:, 1] * d[:, 0]) & ((dp * d).sum(axis=1) < 0)
    return not spike.any()


def _buffer_geom(ga, radius: float) -> str | None:
    """PLANAR buffer (degrees — the unit convention of the st_* planar
    relate/overlay surface; st_bufferPoint remains the geodesic-meters
    point form). The geometry's rings (shells CCW, holes CW), one CCW
    capsule per edge and one disc per point go through ONE slab sweep
    (slab_overlay.slab_region) that counts winding numbers. A positive
    radius dilates: {x : dist(x, geom) ≤ r} is where the winding over
    all rings is positive, so holes, islands inside holes and
    overlapping collection members need no special case. A negative
    radius erodes areal subjects: the points inside the polygon (fill
    winding > 0) that no boundary capsule covers — the capsule union IS
    the ≤|r| boundary band, so its inscribed arcs leave the result
    overshooting by the same sag bound, at reflex corners only;
    lower-dimensional subjects erode to POLYGON EMPTY (JTS semantics).
    Arcs are inscribed
    (error ≤ r·(1−cos(0.7π/s)) — the phase-jittered first/last chords
    span up to 1.4 steps; the JTS quadrant-segments convention).
    Non-finite coordinates, invalid polygon rings (unclosed, fewer than
    3 distinct vertices, a zero-width spike, rings crossing each other)
    and a sweep refusal return None — honest null, never an
    approximation."""
    kind = ga[0]
    parts = geo.geom_parts(*ga)
    if not np.isfinite(radius) or radius == 0:
        return None
    if not all(np.isfinite(c2).all() for _k, c2, _o in parts):
        return None
    if radius < 0 and kind not in _AREAL:
        return "POLYGON EMPTY" if kind in _POINTY + _LINEY else None
    r = abs(radius)
    fills: list = []  # polygon rings: shells CCW, holes CW
    caps: list = []   # CCW capsules and discs
    for k2, c2, o2 in parts:
        if k2 == "POLYGON":
            rings = [c2[o2[i]:o2[i + 1]] for i in range(len(o2) - 1)]
            if not all(_valid_ring(ring) for ring in rings) or len(crossings(ring_edges(c2, o2))[0]):
                return None  # invalid polygon
            paths = []
            for i, ring in enumerate(rings):
                ring = geo._ccw_ring(ring)
                fills.append(ring if i == 0 else ring[::-1])
                paths.append(ring)
        elif k2 in ("POINT", "LINESTRING"):
            paths = [c2]
        else:
            return None
        for path in paths:
            pts = path[np.r_[True, (path[1:] != path[:-1]).any(axis=1)]]
            if len(pts) == 1:
                caps.append(_disc(pts[0], r, len(caps)))
            for p, q in zip(pts[:-1], pts[1:]):
                caps.append(_capsule(p, q, r, len(caps)))
    def edges(rings):
        return ring_edges(np.concatenate(rings), np.cumsum([0] + [len(r) for r in rings]))

    if radius > 0:
        members = slab_region(edges(fills + caps), np.empty((0, 4)), lambda w, _w: w > 0)
    else:
        members = slab_region(edges(fills), edges(caps), lambda wf, wc: wf > 0 and wc == 0)
    return _polys_to_wkt(members)


@F.pandas_udf(StringType())
def st_buffer(wkt: pd.Series, radius: pd.Series) -> pd.Series:
    """Planar buffer for any geometry kind (degrees; negative radius
    erodes areal subjects) by one winding-count slab sweep — see
    _buffer_geom; null where it refuses. The GeoMesa surface only ships
    the geodesic point form (st_bufferPoint); this is the general
    PostGIS-style op."""
    cache = _parse_cache(wkt)
    r_v = radius.to_numpy(np.float64)
    out = []
    memo: dict = {}
    for w, r in zip(wkt, r_v):
        g = cache.get(w)
        key = (w, float(r))
        if key not in memo:
            memo[key] = None if g is None else _buffer_geom(g, float(r))
        out.append(memo[key])
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_translate(wkt: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    """Shift a geometry by (dx, dy) degrees (SQLGeometryProcessingFunctions
    st_translate analog)."""
    cache = _parse_cache(wkt)
    out = []
    for w, a, b in zip(wkt.to_numpy(object), dx.to_numpy(np.float64), dy.to_numpy(np.float64)):
        g = cache.get(w)
        if g is None:
            out.append(None)
            continue
        k, c, o = g
        out.append(geo.wkt_any(k, c + np.array([a, b]), o))
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_convexHull(wkt: pd.Series) -> pd.Series:
    def hull(kind, coords, offs):
        ring = geo.convex_hull(coords[:, 0], coords[:, 1])
        return geo.wkt_polygon(ring, np.asarray([0, len(ring)]))

    return _per_unique(wkt, hull, object)


@F.pandas_udf(StringType())
def st_idlSafeGeom(wkt: pd.Series) -> pd.Series:
    """Antimeridian-split bboxes (st_idlSafeGeom analog): a POLYGON whose
    bbox spans more than 180° of longitude is read as crossing ±180 and
    becomes a MULTIPOLYGON of the two halves ([x1,180] ∪ [-180,x0])."""
    def split(kind, coords, offs):
        x0, y0, x1, y1 = geo.polygon_bbox(coords)
        w = geo.wkt_polygon(coords, offs)
        if kind != "POLYGON" or (x1 - x0) <= 180.0:
            return w
        parts = geo.split_antimeridian(x1, y0, x0, y1)
        rings = [geo.make_bbox_ring(*p) for p in parts]
        inner = ", ".join(
            "((" + ", ".join(f"{x!r} {y!r}" for x, y in r) + "))" for r in rings
        )
        return f"MULTIPOLYGON ({inner})"

    return _per_unique(wkt, split, object)


# --- predicates / boundary / overlay ----------------------------------------


_EMPTY_WKT_RE = re.compile(
    r"^\s*(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|"
    r"GEOMETRYCOLLECTION)(\s+(?:ZM|Z|M))?\s+EMPTY\s*$",
    re.IGNORECASE,
)


def _is_empty_wkt(w: str) -> bool:
    # a known kind followed by EMPTY — 'FOO EMPTY' is garbage, not empty
    return _EMPTY_WKT_RE.match(w) is not None


@F.pandas_udf(BooleanType())
def st_isEmpty(wkt: pd.Series) -> pd.Series:
    """True for '<KIND> EMPTY' WKT, False for any parseable geometry,
    null otherwise."""
    cache = _parse_cache(wkt)

    def chk(w):
        if w is None:
            return None
        if _is_empty_wkt(w):
            return True
        return False if cache.get(w) is not None else None

    return wkt.map(chk)


@F.pandas_udf(BooleanType())
def st_isCollection(wkt: pd.Series) -> pd.Series:
    return _per_unique(
        wkt,
        lambda k, c, o: k in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"),
        object,
    )


@F.pandas_udf(BooleanType())
def st_isClosed(wkt: pd.Series) -> pd.Series:
    """LINESTRING / MULTILINESTRING: start and end points coincide (every
    member, for multis). Other kinds: True (reference parity)."""

    def closed(kind, coords, offs):
        if kind not in ("LINESTRING", "MULTILINESTRING"):
            return True
        return all(
            bool((coords[offs[r]] == coords[offs[r + 1] - 1]).all()) for r in range(len(offs) - 1)
        )

    return _per_unique(wkt, closed, object)


@F.pandas_udf(BooleanType())
def st_isRing(wkt: pd.Series) -> pd.Series:
    """True iff the geometry is a closed AND simple LINESTRING."""

    def ring(kind, coords, offs):
        if kind != "LINESTRING":
            return False
        return bool((coords[0] == coords[-1]).all()) and geo.is_simple_line(coords)

    return _per_unique(wkt, ring, object)


@F.pandas_udf(BooleanType())
def st_isSimple(wkt: pd.Series) -> pd.Series:
    """SFS simplicity (see geometry.is_simple: exact self-intersection
    kernel for linework; polygonal kinds simple by definition)."""
    return _per_unique(wkt, geo.is_simple, object)


@F.pandas_udf(BooleanType())
def st_isValid(wkt: pd.Series) -> pd.Series:
    """OGC validity (see geometry.is_valid for the exact checks and the
    one documented omission)."""
    return _per_unique(wkt, geo.is_valid, object)


@F.pandas_udf(StringType())
def st_boundary(wkt: pd.Series) -> pd.Series:
    """Combinatorial boundary (JTS getBoundary): POINT → empty, lines →
    mod-2 endpoint MULTIPOINT, polygons → ring linework."""
    return _per_unique(wkt, geo.boundary_wkt, object)


def _linear_parts(kind, coords, offs):
    return [
        (c2, o2) for k2, c2, o2 in geo.geom_parts(kind, coords, offs) if k2 == "LINESTRING"
    ]


def _pieces_to_wkt(points: list, lines: list, empty: str) -> str:
    """Assemble overlay output pieces into canonical WKT."""
    pts = list(dict.fromkeys((float(x), float(y)) for x, y in points))
    if not pts and not lines:
        return empty
    if pts and not lines:
        if len(pts) == 1:
            return geo.wkt_point(*pts[0])
        inner = ", ".join(f"({x:.10g} {y:.10g})" for x, y in pts)
        return f"MULTIPOINT ({inner})"
    if lines and not pts:
        if len(lines) == 1:
            return geo.wkt_linestring(lines[0])
        offs = np.concatenate([[0], np.cumsum([len(p) for p in lines])])
        return geo.wkt_any("MULTILINESTRING", np.concatenate(lines), offs)
    members = [geo.wkt_point(*p) for p in pts] + [geo.wkt_linestring(l) for l in lines]
    return f"GEOMETRYCOLLECTION ({', '.join(members)})"


_POINTY = ("POINT", "MULTIPOINT")
_LINEY = ("LINESTRING", "MULTILINESTRING")
_AREAL = ("POLYGON", "MULTIPOLYGON")


def _overlay_intersection(ga, gb) -> str | None:
    """A ∩ B WKT. Exact for every pairing involving points or linework
    (any polygon shape, holes included), for GEOMETRYCOLLECTION operands
    (disjoint parts intersect independently and concatenate), and for
    (MULTI)POLYGON pairs, holes included, via _areal_overlay: the slab
    sweep answers the areal part, and operands whose interiors do not
    meet return their shared boundary linework (or POLYGON EMPTY).
    Unsupported pairings and slab refusals return None: SQL null,
    honest unsupported, never an approximation."""
    ka, ca, oa = ga
    kb, cb, ob = gb
    if ka == "GEOMETRYCOLLECTION":
        # per-part intersections concatenate only when the parts share
        # no interior (overlapping members would double-count a region);
        # overlapping members first re-union into the canonical
        # interior-disjoint form (point-set identity), honest null only
        # when that union is itself unsupported
        parts = geo.geom_parts(ka, ca, oa)
        if not _gc_parts_interior_disjoint(parts):
            norm = _gc_normalized(ga)
            if norm is None:
                return None
            return _overlay_intersection(norm, gb)
        members = []
        for p in parts:
            w = _overlay_intersection(p, gb)
            if w is None:
                return None
            if not w.endswith(" EMPTY"):
                members.append(w)
        return _gc_combine(members)
    if kb == "GEOMETRYCOLLECTION":
        return _overlay_intersection(gb, ga)
    if kb in _POINTY and ka not in _POINTY:
        return _overlay_intersection(gb, ga)
    if ka in _POINTY:
        if kb in _POINTY:
            aset = {(float(x), float(y)) for x, y in ca}
            keep = [p for p in ((float(x), float(y)) for x, y in cb) if p in aset]
        else:
            keep = [
                (float(x), float(y))
                for x, y in ca
                if geo._covered_by_geom(float(x), float(y), kb, cb, ob)
            ]
        return _pieces_to_wkt(keep, [], "GEOMETRYCOLLECTION EMPTY")
    if ka in _LINEY and kb in _LINEY:
        pts: list = []
        lines: list = []
        for a2, _oa in _linear_parts(ka, ca, oa):
            for b2, _ob in _linear_parts(kb, cb, ob):
                p2, s2 = geo.line_line_overlay(a2, b2)
                pts.extend(p2)
                lines.extend(s2)
        if lines:  # cross-part dedupe: points on any overlap piece are subsumed
            ex1 = np.asarray([s[0, 0] for s in lines])
            ey1 = np.asarray([s[0, 1] for s in lines])
            ex2 = np.asarray([s[1, 0] for s in lines])
            ey2 = np.asarray([s[1, 1] for s in lines])
            pts = [p for p in pts if not geo.points_on_segments([p[0]], [p[1]], ex1, ey1, ex2, ey2)[0]]
        return _pieces_to_wkt(pts, lines, "GEOMETRYCOLLECTION EMPTY")
    if (ka in _LINEY and kb in _AREAL) or (ka in _AREAL and kb in _LINEY):
        (lk, lc, lo), (pk, pc, po) = (ga, gb) if ka in _LINEY else (gb, ga)
        lines = []
        for c2, _o2 in _linear_parts(lk, lc, lo):
            lines.extend(geo.line_clip_polygon(c2, pc, po, True))
        return _pieces_to_wkt([], lines, "GEOMETRYCOLLECTION EMPTY")
    if ka in _AREAL and kb in _AREAL:
        return _areal_overlay(ga, gb, "intersection")
    return None


def _gc_combine(members: list, empty: str = "GEOMETRYCOLLECTION EMPTY") -> str:
    """Combine disjoint per-part overlay results into one WKT (nested
    collections are legal WKT and the parser flattens them)."""
    if not members:
        return empty
    if len(members) == 1:
        return members[0]
    return "GEOMETRYCOLLECTION (" + ", ".join(members) + ")"


def _gc_parts_interior_disjoint(parts: list) -> bool:
    """True when no two collection parts share interior points — the
    precondition for concatenating per-part overlay results (overlapping
    members would double-count a region; the per-part decomposition must
    return honest null instead)."""
    for i in range(len(parts)):
        ki, ci, oi = parts[i]
        for j in range(i + 1, len(parts)):
            kj, cj, oj = parts[j]
            if ki != "POINT" and kj != "POINT":
                # cheap bbox reject before the O(n·m) relate
                if (
                    ci[:, 0].max() < cj[:, 0].min() or cj[:, 0].max() < ci[:, 0].min()
                    or ci[:, 1].max() < cj[:, 1].min() or cj[:, 1].max() < ci[:, 1].min()
                ):
                    continue
            if geo.relate_geoms(ki, ci, oi, kj, cj, oj).ii:
                return False
    return True


def _areal_area(coords, offs, parts=None) -> float:
    """Area of a (MULTI)POLYGON ring set: Σ|shell| − Σ|holes| grouped by
    containment depth (orientation-agnostic, unlike raw signed sums);
    ``parts`` is a precomputed ``geo.multipolygon_parts`` grouping."""
    c = np.asarray(coords, dtype=np.float64)
    o = np.asarray(offs)
    ring = lambda i: c[o[i]:o[i + 1]]
    total = 0.0
    for s, hs in geo.multipolygon_parts(c, o) if parts is None else parts:
        total += abs(geo.ring_signed_area(ring(s))) - sum(
            abs(geo.ring_signed_area(ring(h))) for h in hs
        )
    return total


def _wkt_roundtrip_gate(parts, expected_area: float) -> str | None:
    """Emit WKT only if the artifact a consumer PARSES BACK keeps the
    emitted shell/hole structure. The %.10g writer rounds coordinates
    ~1e-10-relative — normally invisible, but a sliver ring sitting
    exactly on another ring's boundary can flip its containment depth
    under that rounding (observed: a 0.02-area island inside a hole
    re-reading as a hole of the outer shell, silently subtracting twice).
    So the parsed-back rings are regrouped by containment depth and must
    give exactly the emitted members; then the area may move only by the
    writer's own rounding bound: each coordinate moves at most
    5e-10·max|coord|, which moves a ring's area by at most its perimeter
    times that (times √2 for the two axes). A result that is not
    structure-stable through the writer is refused — None, never a wrong
    polygon."""
    w = _polys_to_wkt(parts)
    if w is None or w.endswith(" EMPTY"):
        return w
    _k2, c2, o2 = geo.parse_wkt(w)
    emitted, base = [], 0
    for _mc, mo in parts:
        emitted.append((base, list(range(base + 1, base + len(mo) - 1))))
        base += len(mo) - 1
    got = geo.multipolygon_parts(c2, o2)
    if sorted((s, sorted(hs)) for s, hs in got) != emitted:
        return None
    perimeter = sum(np.hypot(*np.diff(c2[o2[i]:o2[i + 1]], axis=0).T).sum() for i in range(len(o2) - 1))
    tol = 1e-9 * max(1.0, abs(expected_area)) + perimeter * np.sqrt(2.0) * 5e-10 * np.abs(c2).max()
    if not abs(_areal_area(c2, o2, got) - expected_area) <= tol:
        return None
    return w


def _areal_overlay(ga, gb, op: str) -> str | None:
    """The (MULTI)POLYGON × (MULTI)POLYGON boolean ``op``, holes
    included: the trapezoidal even-odd sweep of
    functions/slab_overlay.py (no degeneracy special cases, area-identity
    gated), then the WKT round-trip gate. The sweep's output is areal by
    construction, so an intersection with no area is the operands'
    shared boundary linework (the LINESTRING × LINESTRING overlay of
    their rings), POLYGON EMPTY when they do not touch. A refusal by
    either gate is None — never an approximation."""
    out = slab_boolean(ga, gb, op)
    if out is None:
        return None
    if not out:
        if op != "intersection":
            return "POLYGON EMPTY"
        w = _overlay_intersection(("MULTILINESTRING", ga[1], ga[2]), ("MULTILINESTRING", gb[1], gb[2]))
        return "POLYGON EMPTY" if w.endswith(" EMPTY") else w
    net = sum(geo.polygon_area_deg2(mc, mo) for mc, mo in out)
    return _wkt_roundtrip_gate(out, net)


def _polys_to_wkt(parts) -> str | None:
    """Slab-sweep members [(coords, ring_offsets), ...] → WKT (None stays
    None: a refused sweep is unsupported, not approximated)."""
    if parts is None:
        return None
    if not parts:
        return "POLYGON EMPTY"
    if len(parts) == 1:
        return geo.wkt_polygon(*parts[0])
    inner = ", ".join(
        "("
        + ", ".join(
            "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in c[o[r]:o[r + 1]]) + ")"
            for r in range(len(o) - 1)
        )
        + ")"
        for c, o in parts
    )
    return f"MULTIPOLYGON ({inner})"


def _overlay_difference(ga, gb) -> str | None:
    """A \\ B WKT. GEOMETRYCOLLECTION subjects subtract per-part;
    a GEOMETRYCOLLECTION B subtracts its parts sequentially. Subtracting
    a lower-dimension geometry is identity; point and line subjects are
    exact for any B. (MULTI)POLYGON pairs, holes included, go to
    _areal_overlay (the slab sweep). What the sweep refuses returns
    None."""
    ka, ca, oa = ga
    kb, cb, ob = gb
    dim = {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1, "MULTILINESTRING": 1, "POLYGON": 2, "MULTIPOLYGON": 2}
    if ka == "GEOMETRYCOLLECTION":
        # per-part differences concatenate only for interior-disjoint
        # parts; overlapping members re-union first (see the
        # intersection branch)
        parts = geo.geom_parts(ka, ca, oa)
        if not _gc_parts_interior_disjoint(parts):
            norm = _gc_normalized(ga)
            if norm is None:
                return None
            return _overlay_difference(norm, gb)
        members = []
        for p in parts:
            w = _overlay_difference(p, gb)
            if w is None:
                return None
            if not w.endswith(" EMPTY"):
                members.append(w)
        return _gc_combine(members)
    if kb == "GEOMETRYCOLLECTION":
        # subtract B's parts sequentially (exact even for overlapping
        # parts — set subtraction composes)
        cur = ga
        for p in geo.geom_parts(kb, cb, ob):
            w = _overlay_difference(cur, p)
            if w is None:
                return None
            if w.endswith(" EMPTY"):
                return w
            cur = geo.parse_wkt(w)
        return geo.wkt_any(*cur)
    if dim[kb] < dim[ka]:
        return geo.wkt_any(ka, ca, oa)  # measure-zero subtraction
    if ka in _POINTY:
        keep = [
            (float(x), float(y))
            for x, y in ca
            if not geo._covered_by_geom(float(x), float(y), kb, cb, ob)
        ]
        return _pieces_to_wkt(keep, [], "GEOMETRYCOLLECTION EMPTY")
    if ka in _LINEY:
        if kb in _AREAL:
            lines = []
            for c2, _o2 in _linear_parts(ka, ca, oa):
                lines.extend(geo.line_clip_polygon(c2, cb, ob, False))
            return _pieces_to_wkt([], lines, "GEOMETRYCOLLECTION EMPTY")
        lines = []
        for a2, _oa in _linear_parts(ka, ca, oa):
            pieces = [a2]
            for b2, _ob in _linear_parts(kb, cb, ob):
                pieces = [seg for p in pieces for seg in geo.line_difference_line(p, b2)]
            lines.extend(pieces)
        return _pieces_to_wkt([], lines, "GEOMETRYCOLLECTION EMPTY")
    return _areal_overlay(ga, gb, "difference")


def _overlay_union(ga, gb) -> str | None:
    """A ∪ B WKT for same-dimension operands: point sets merge,
    linework merges as A + (B \\ A), (MULTI)POLYGON pairs, holes
    included, go to _areal_overlay (the slab sweep). Mixed-dimension
    unions return GEOMETRYCOLLECTION(higher, lower \\ higher) — JTS
    semantics — and GEOMETRYCOLLECTION operands re-union canonically by
    dimension (_gc_union). What the sweep refuses returns None."""
    ka, ca, oa = ga
    kb, cb, ob = gb
    if ka in _POINTY and kb in _POINTY:
        pts = list(dict.fromkeys((float(x), float(y)) for x, y in np.concatenate([ca, cb])))
        return _pieces_to_wkt(pts, [], "GEOMETRYCOLLECTION EMPTY")
    if ka in _LINEY and kb in _LINEY:
        # A ∪ B = A + (B \ everything accumulated so far): subtracting
        # against the RUNNING list also removes B-part-vs-B-part overlap
        # (A's own parts pass through unchanged — input structure kept)
        lines = [c2 for c2, _o2 in _linear_parts(ka, ca, oa)]
        for b2, _ob in _linear_parts(kb, cb, ob):
            pieces = [b2]
            for covered in list(lines):
                pieces = [seg for p in pieces for seg in geo.line_difference_line(p, covered)]
            lines.extend(pieces)
        return _pieces_to_wkt([], lines, "GEOMETRYCOLLECTION EMPTY")
    if ka in _AREAL and kb in _AREAL:
        return _areal_overlay(ga, gb, "union")
    # mixed dimensions (JTS semantics): the lower-dim operand survives
    # only outside the higher-dim one — GEOMETRYCOLLECTION(high, low \ high)
    dim = {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1, "MULTILINESTRING": 1,
           "POLYGON": 2, "MULTIPOLYGON": 2}
    if ka in dim and kb in dim and dim[ka] != dim[kb]:
        lo, hi = (ga, gb) if dim[ka] < dim[kb] else (gb, ga)
        rest = _overlay_difference(lo, hi)
        if rest is None:
            return None
        hi_wkt = geo.wkt_any(*hi)
        if rest.endswith(" EMPTY"):
            return hi_wkt
        return f"GEOMETRYCOLLECTION ({hi_wkt}, {rest})"
    if ka == "GEOMETRYCOLLECTION" or kb == "GEOMETRYCOLLECTION":
        return _gc_union(ga, gb)
    return None


def _gc_union(ga, gb) -> str | None:
    """Union with GEOMETRYCOLLECTION operand(s): canonical re-union of
    ALL parts from both sides, by dimension — areal parts fold through
    the areal union, linework folds through the linear union, then each
    lower dimension keeps only what lies outside every higher dimension
    (the same JTS rule as the mixed-dimension pair)."""
    return _parts_canonical_union(geo.geom_parts(*ga) + geo.geom_parts(*gb))


def _gc_normalized(g) -> tuple | None:
    """Canonical interior-disjoint form of a GEOMETRYCOLLECTION: its own
    parts re-unioned by dimension (overlapping areal members merge via
    the areal union kernel, linework dedupes against itself and the
    areal, points keep only what no higher dimension covers). The result
    is point-set-equal to the input, so per-part overlay decomposition
    becomes sound on it — this turns the former
    GC-with-overlapping-members honest-null class into exact answers
    wherever the union kernels are exact. None when a member union is
    itself unsupported (a pair the slab sweep refuses)."""
    w = _parts_canonical_union(geo.geom_parts(*g))
    if w is None or w.endswith(" EMPTY"):
        return None
    out = geo.parse_wkt(w)
    if out[0] == "GEOMETRYCOLLECTION" and not _gc_parts_interior_disjoint(
        geo.geom_parts(*out)
    ):
        return None  # termination guard: normalization must converge
    return out


def _parts_canonical_union(parts: list) -> str | None:
    by_kind = {"POLYGON": [], "LINESTRING": [], "POINT": []}
    for p in parts:
        if p[0] not in by_kind:
            return None
        by_kind[p[0]].append(p)

    def fold_union(items):
        cur = items[0]
        for p in items[1:]:
            w = _overlay_union(cur, p)
            if w is None:
                return None
            cur = geo.parse_wkt(w)
        return cur

    members: list = []
    areal = fold_union(by_kind["POLYGON"]) if by_kind["POLYGON"] else None
    if by_kind["POLYGON"] and areal is None:
        return None
    liney = fold_union(by_kind["LINESTRING"]) if by_kind["LINESTRING"] else None
    if by_kind["LINESTRING"] and liney is None:
        return None
    if areal is not None:
        members.append(geo.wkt_any(*areal))
        if liney is not None:
            w = _overlay_difference(liney, areal)
            if w is None:
                return None
            liney = None if w.endswith(" EMPTY") else geo.parse_wkt(w)
    if liney is not None:
        members.append(geo.wkt_any(*liney))
    if by_kind["POINT"]:
        pts = [
            (float(c2[0, 0]), float(c2[0, 1])) for _k, c2, _o in by_kind["POINT"]
        ]
        keep = []
        for x, y in dict.fromkeys(pts):
            covered = False
            for higher in (areal, liney):
                if higher is not None and geo._covered_by_geom(x, y, *higher):
                    covered = True
                    break
            if not covered:
                keep.append((x, y))
        if keep:
            members.append(_pieces_to_wkt(keep, [], "GEOMETRYCOLLECTION EMPTY"))
    return _gc_combine(members)


def _null_on_error(fn):
    """Overlay dispatchers reject unsupported pairings by returning None;
    this converts any residual exception on an exotic input to the same
    null. Scoped to the OVERLAY UDFs only — the relation predicates must
    fail loudly on a kernel bug, not silently drop rows from filters."""

    def safe(ga, gb):
        try:
            return fn(ga, gb)
        except Exception:
            return None

    return safe


def _overlay_symdifference(ga, gb) -> str | None:
    """A Δ B. (MULTI)POLYGON pairs go to _areal_overlay (the slab
    sweep). Other pairings compose as (A ∪ B) \\ (A ∩ B) — the
    structurally cleanest result (no internal member fragmentation; a
    lower-dim intersection subtracts as identity) — gated by its exact
    area identity. Exact wherever the underlying overlays are; None
    otherwise."""
    if ga[0] in _AREAL and gb[0] in _AREAL:
        return _areal_overlay(ga, gb, "symdifference")

    def _parity_area(w: str) -> float:
        # sum of areal parts — a GEOMETRYCOLLECTION result (areal part
        # + shared-boundary linework) has real area; treating it as 0
        # made the gate reject CORRECT mixed-dimension results
        if w.endswith(" EMPTY"):
            return 0.0
        tot = 0.0
        for k2, c2, o2 in geo.geom_parts(*geo.parse_wkt(w)):
            if k2 == "POLYGON":
                tot += float(_areal_area(c2, o2))
        return tot

    def _area_ok(w: str, want: float) -> bool:
        # EXACT identity gate: a composition that is wrong but non-null
        # is refused instead of shipped
        return abs(_parity_area(w) - want) <= 1e-9 * max(1.0, abs(want))

    u = _overlay_union(ga, gb)
    i = _overlay_intersection(ga, gb)
    if u is None or i is None:
        return None
    if i.endswith(" EMPTY"):
        return u
    # i ⊆ u, so the areal gap is exactly au − ai (any result kind)
    d = _overlay_difference(geo.parse_wkt(u), geo.parse_wkt(i))
    if d is None or not _area_ok(d, _parity_area(u) - _parity_area(i)):
        return None
    return d


@F.pandas_udf(StringType())
def st_symDifference(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Symmetric difference — (MULTI)POLYGON pairs in one slab sweep,
    other pairings as the area-gated (A ∪ B) \\ (A ∩ B); exact wherever
    st_union, st_intersection and st_difference are (null, never an
    approximation, outside them)."""
    return pd.Series(_per_unique_pair(a_wkt, b_wkt, _null_on_error(_overlay_symdifference)))


def _simplify_ring(pts: np.ndarray, tol: float, closed: bool) -> np.ndarray:
    """Douglas–Peucker with a stack (no recursion-depth limit)."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        seg = pts[lo:hi + 1]
        d2, _cx, _cy = geo._point_to_segments(
            seg[1:-1, 0], seg[1:-1, 1],
            pts[lo:lo + 1, 0], pts[lo:lo + 1, 1], pts[hi:hi + 1, 0], pts[hi:hi + 1, 1],
        )
        far = int(np.argmax(d2[:, 0]))
        if d2[far, 0] > tol * tol:
            mid = lo + 1 + far
            keep[mid] = True
            stack.append((lo, mid))
            stack.append((mid, hi))
    out = pts[keep]
    if closed and len(out) < 4:
        return pts  # refuse to collapse a ring below a triangle
    return out


def _simplify_geom(ga, tol: float) -> str | None:
    """JTS ST_Simplify semantics: per-ring Douglas–Peucker, no topology
    guarantee (a ring that would collapse below a triangle is kept
    as-is)."""
    kind, coords, offs = ga
    if not np.isfinite(tol) or tol < 0:
        return None
    if kind == "GEOMETRYCOLLECTION":
        members = [_simplify_geom(p, tol) for p in geo.geom_parts(kind, coords, offs)]
        if any(m is None for m in members):
            return None
        # always keep the collection wrapper (JTS simplifies per
        # component without changing the geometry type)
        return "GEOMETRYCOLLECTION (" + ", ".join(members) + ")" if members else "GEOMETRYCOLLECTION EMPTY"
    if kind in _POINTY:
        return geo.wkt_any(kind, coords, offs)
    new_rings: list = []
    for i in range(len(offs) - 1):
        ring = coords[offs[i]:offs[i + 1]]
        closed = kind in _AREAL
        new_rings.append(_simplify_ring(ring, tol, closed))
    cc = np.concatenate(new_rings)
    oo = np.concatenate([[0], np.cumsum([len(r) for r in new_rings])])
    return geo.wkt_any(kind, cc, oo)


@F.pandas_udf(StringType())
def st_simplify(wkt: pd.Series, tolerance: pd.Series) -> pd.Series:
    """Douglas–Peucker simplification (planar degrees; JTS ST_Simplify
    semantics — per ring, no topology preservation, rings never collapse
    below a triangle)."""
    cache = _parse_cache(wkt)
    t_v = tolerance.to_numpy(np.float64)
    out = []
    memo: dict = {}
    for w, t in zip(wkt, t_v):
        g = cache.get(w)
        key = (w, float(t))
        if key not in memo:
            memo[key] = None if g is None else _simplify_geom(g, float(t))
        out.append(memo[key])
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_union(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Geometric union — see _overlay_union for the exact supported
    pairings (null, never an approximation, outside them)."""
    return pd.Series(_per_unique_pair(a_wkt, b_wkt, _null_on_error(_overlay_union)))


@F.pandas_udf(StringType())
def st_intersection(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Geometric intersection — see _overlay_intersection for the exact
    supported pairings (null, never an approximation, outside them)."""
    return pd.Series(_per_unique_pair(a_wkt, b_wkt, _null_on_error(_overlay_intersection)))


@F.pandas_udf(StringType())
def st_difference(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Geometric difference A \\ B — see _overlay_difference for the exact
    supported pairings (null outside them)."""
    return pd.Series(_per_unique_pair(a_wkt, b_wkt, _null_on_error(_overlay_difference)))


@F.pandas_udf(StringType())
def st_transform(wkt: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    """CRS reprojection for the web-mapping pair EPSG:4326 ↔ EPSG:3857
    (identity for equal codes; null for unsupported codes)."""
    cache = _parse_cache(wkt)

    def tf(k, c, o, s, d) -> str | None:
        if k == "GEOMETRYCOLLECTION":
            members = [tf(*m, s, d) for m in c]  # recursion: nested GCs
            if any(m is None for m in members):
                return None
            return "GEOMETRYCOLLECTION (" + ", ".join(members) + ")"
        t = geo.transform_coords(c, s, d)
        return None if t is None else geo.wkt_any(k, t, o)

    out = []
    for w, s, d in zip(wkt.to_numpy(object), src.to_numpy(object), dst.to_numpy(object)):
        g = cache.get(w)
        out.append(None if g is None or s is None or d is None else tf(*g, s, d))
    return pd.Series(out)


# --- extra constructors / outputs -------------------------------------------


@F.pandas_udf(StringType())
def st_makeBox2D(ll_wkt: pd.Series, ur_wkt: pd.Series) -> pd.Series:
    """Two POINTs (lower-left, upper-right) → bbox POLYGON."""
    pa = ll_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    pb = ur_wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    out = []
    for x0, y0, x1, y1 in zip(pa[0], pa[1], pb[0], pb[1]):
        if np.isnan(x0) or np.isnan(x1):
            out.append(None)
            continue
        ring = geo.make_bbox_ring(x0, y0, x1, y1)
        out.append(geo.wkt_polygon(ring, np.asarray([0, len(ring)])))
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_makePointM(x: pd.Series, y: pd.Series, m: pd.Series) -> pd.Series:
    """POINT M constructor (measure kept in WKT; 2-D ops project it away,
    matching the parser's dimensioned-WKT handling)."""
    def bad(v):
        return v is None or (isinstance(v, float) and np.isnan(v))

    out = []
    for xv, yv, mv in zip(x.to_numpy(object), y.to_numpy(object), m.to_numpy(object)):
        if bad(xv) or bad(yv) or bad(mv):
            out.append(None)
            continue
        out.append(f"POINT M ({float(xv):.10g} {float(yv):.10g} {float(mv):.10g})")
    return pd.Series(out)


@F.pandas_udf(StringType())
def st_pointFromWKB(wkb: pd.Series) -> pd.Series:
    """WKB → POINT (null for any other WKB kind)."""

    def rd(b):
        if b is None:
            return None
        try:
            k, c, o = geo.wkb_read(bytes(b))
            return geo.wkt_any(k, c, o) if k == "POINT" else None
        except Exception:
            return None

    return wkb.map(rd)


def _geojson_to_geom(obj):
    """GeoJSON geometry dict → (kind, coords, ring_offsets)."""
    t = obj["type"]
    if t == "Point":
        c = np.asarray([obj["coordinates"][:2]], dtype=np.float64)
        return "POINT", c, np.asarray([0, 1])
    if t == "MultiPoint":
        c = np.asarray([p[:2] for p in obj["coordinates"]], dtype=np.float64)
        return "MULTIPOINT", c, np.arange(len(c) + 1)
    if t == "LineString":
        c = np.asarray([p[:2] for p in obj["coordinates"]], dtype=np.float64)
        return "LINESTRING", c, np.asarray([0, len(c)])
    if t == "MultiLineString":
        parts = [np.asarray([p[:2] for p in part], dtype=np.float64) for part in obj["coordinates"]]
        offs = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
        return "MULTILINESTRING", np.concatenate(parts), offs
    if t == "Polygon":
        rings = [np.asarray([p[:2] for p in ring], dtype=np.float64) for ring in obj["coordinates"]]
        offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
        return "POLYGON", np.concatenate(rings), offs
    if t == "MultiPolygon":
        rings = [
            np.asarray([p[:2] for p in ring], dtype=np.float64)
            for poly in obj["coordinates"]
            for ring in poly
        ]
        offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
        return "MULTIPOLYGON", np.concatenate(rings), offs
    if t == "GeometryCollection":
        return "GEOMETRYCOLLECTION", [_geojson_to_geom(m) for m in obj["geometries"]], None
    raise ValueError(t)


@F.pandas_udf(StringType())
def st_geomFromGeoJSON(gj: pd.Series) -> pd.Series:
    """GeoJSON geometry string → WKT (inverse of st_asGeoJSON)."""

    def rd(s):
        if s is None:
            return None
        try:
            return geo.wkt_any(*_geojson_to_geom(json.loads(s)))
        except Exception:
            return None

    return gj.map(rd)


def _dms(value: float, pos: str, neg: str) -> str:
    hemi = pos if value >= 0 else neg
    v = abs(value)
    d = int(v)
    mfull = (v - d) * 60.0
    m = int(mfull)
    s = (mfull - m) * 60.0
    if s >= 59.9995:  # carry so 59.9999" prints as the next minute, not 60"
        s = 0.0
        m += 1
    if m >= 60:
        m = 0
        d += 1
    return f"{d}°{m:02d}'{s:06.3f}\"{hemi}"


@F.pandas_udf(StringType())
def st_asLatLonText(wkt: pd.Series) -> pd.Series:
    """POINT → degrees-minutes-seconds text, latitude first
    (e.g. 40°45'00.000"N 73°58'48.000"W)."""
    pts = wkt.str.extract(_POINT_ONLY, expand=True).astype(np.float64)
    out = []
    for lon, lat in zip(pts[0], pts[1]):
        if np.isnan(lon) or np.isnan(lat):
            out.append(None)
            continue
        out.append(f"{_dms(lat, 'N', 'S')} {_dms(lon, 'E', 'W')}")
    return pd.Series(out)


# --- output / cells ---------------------------------------------------------


@F.pandas_udf(BinaryType())
def st_asBinary(wkt: pd.Series) -> pd.Series:
    """Geometry → little-endian WKB bytes (SQLGeometricOutputFunctions
    st_asBinary analog)."""
    return _per_unique(wkt, lambda k, c, o: geo.wkb_write_any(k, c, o), object)


@F.pandas_udf(StringType())
def st_asText(wkt: pd.Series) -> pd.Series:
    """Canonical WKT re-serialization (validates + normalizes formatting)."""
    return _per_unique(wkt, lambda k, c, o: geo.wkt_any(k, c, o), object)


def _cast_to(kind_set):
    def cast(kind, coords, offs):
        return geo.wkt_any(kind, coords, offs) if kind in kind_set else None

    return cast


@F.pandas_udf(StringType())
def st_castToPoint(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, _cast_to({"POINT"}), object)


@F.pandas_udf(StringType())
def st_castToLineString(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, _cast_to({"LINESTRING"}), object)


@F.pandas_udf(StringType())
def st_castToPolygon(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, _cast_to({"POLYGON"}), object)


@F.pandas_udf(StringType())
def st_castToGeometry(wkt: pd.Series) -> pd.Series:
    return _per_unique(wkt, _cast_to(set(geo._WKB_KIND)), object)


@F.pandas_udf(StringType())
def st_asGeoJSON(wkt: pd.Series) -> pd.Series:
    def gj_obj(kind, coords, offs):
        if kind == "POINT":
            return {"type": "Point", "coordinates": [coords[0, 0], coords[0, 1]]}
        if kind == "LINESTRING":
            return {"type": "LineString", "coordinates": coords.tolist()}
        if kind == "MULTIPOINT":
            return {"type": "MultiPoint", "coordinates": coords.tolist()}
        if kind == "MULTILINESTRING":
            return {
                "type": "MultiLineString",
                "coordinates": [coords[offs[r]:offs[r + 1]].tolist() for r in range(len(offs) - 1)],
            }
        if kind == "MULTIPOLYGON":
            return {
                "type": "MultiPolygon",
                "coordinates": [
                    [c2[o2[r]:o2[r + 1]].tolist() for r in range(len(o2) - 1)]
                    for _k2, c2, o2 in geo.geom_parts(kind, coords, offs)
                ],
            }
        if kind == "GEOMETRYCOLLECTION":
            return {"type": "GeometryCollection", "geometries": [gj_obj(*m) for m in coords]}
        rings = [coords[offs[r]:offs[r + 1]].tolist() for r in range(len(offs) - 1)]
        return {"type": "Polygon", "coordinates": rings}

    return _per_unique(wkt, lambda k, c, o: json.dumps(gj_obj(k, c, o)), object)


def _group_by_param(param: pd.Series, fn):
    """Run ``fn(mask, int_value)`` once per unique parameter value in the
    batch — supports non-constant precision/level/resolution columns
    (each group is still a vectorized numpy call). Null parameter rows
    yield null outputs instead of poisoning the batch."""
    vals = param.to_numpy()
    valid = ~pd.isna(vals)
    out = np.full(len(vals), None, dtype=object)
    for v in pd.unique(vals[valid]):
        m = valid & (vals == v)
        res = fn(m, int(v))
        out[m] = np.asarray(res, dtype=object)
    return out


@F.pandas_udf(StringType())
def st_geoHash(lon: pd.Series, lat: pd.Series, precision: pd.Series) -> pd.Series:
    lon_v, lat_v = lon.to_numpy(np.float64), lat.to_numpy(np.float64)

    def enc(m, p):
        return [g.decode() for g in C.geohash_encode(lon_v[m], lat_v[m], p)]

    return pd.Series(_group_by_param(precision, enc))


@F.pandas_udf(LongType())
def st_z2(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(C.z2_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64)))


@F.pandas_udf(LongType())
def st_z3(lon: pd.Series, lat: pd.Series, ts_seconds: pd.Series) -> pd.Series:
    return pd.Series(
        C.z3_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), ts_seconds.to_numpy(np.int64))
    )


@F.pandas_udf(LongType())
def st_s2(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    lon_v, lat_v = lon.to_numpy(np.float64), lat.to_numpy(np.float64)
    return pd.Series(_group_by_param(level, lambda m, lv: C.s2_encode(lon_v[m], lat_v[m], lv)))


@F.pandas_udf(LongType())
def st_hexCell(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    """Icosahedral aperture-7 hex cell (H3-semantics; see functions/hexgrid.py
    for why ids are not numerically Uber-H3)."""
    from geomesa_spark.functions import hexgrid as H

    lon_v, lat_v = lon.to_numpy(np.float64), lat.to_numpy(np.float64)
    return pd.Series(_group_by_param(res, lambda m, r: H.hex_encode(lon_v[m], lat_v[m], r)))


@F.pandas_udf(BinaryType())
def st_byteArray(txt: pd.Series) -> pd.Series:
    """String → UTF-8 bytes (SQLGeometricCastFunctions st_byteArray)."""
    return txt.map(lambda v: None if v is None else v.encode("utf-8"))


@F.pandas_udf(ArrayType(LongType()))
def st_cellRing(cell: pd.Series, k: pd.Series, level: pd.Series) -> pd.Series:
    """Grid cells at exactly ring distance k from each cell at the given
    grid level (the GeoHashSpiral ring primitive as a SQL function —
    plain grid ids don't encode their level, so it is explicit)."""
    out = []
    for c, kk, lv in zip(cell.to_numpy(), k.to_numpy(), level.to_numpy()):
        if pd.isna(c) or pd.isna(kk) or pd.isna(lv):
            out.append(None)
            continue
        out.append([int(x) for x in C.grid_ring(int(c), int(kk), int(lv))])
    return pd.Series(out)


@F.pandas_udf(ArrayType(LongType()))
def st_coverPolygon(wkt: pd.Series, level: pd.Series) -> pd.Series:
    """Exact cell cover of a polygon at a grid level (the XZ2-style
    extents index as a SQL function; full-cell flags dropped)."""
    from geomesa_spark.operators.spatial_join import cover_cells_one

    cache = _parse_cache(wkt)
    memo: dict[tuple, list] = {}  # covers once per unique (wkt, level)
    out = []
    for w, lv in zip(wkt.to_numpy(object), level.to_numpy()):
        g = cache.get(w)
        if g is None or pd.isna(lv):
            out.append(None)
            continue
        key = (w, int(lv))
        if key not in memo:
            memo[key] = cover_cells_one(g[1], g[2], int(lv))[0]
        out.append(memo[key])
    return pd.Series(out)


ALL_FUNCTIONS = {
    "st_makePoint": st_point,
    "st_byteArray": st_byteArray,
    "st_cellRing": st_cellRing,
    "st_coverPolygon": st_coverPolygon,
    "st_point": st_point,
    "st_makeBBOX": st_makeBBOX,
    "st_geomFromWKT": st_geomFromWKT,
    "st_makeLine": st_makeLine,
    "st_makePolygon": st_makePolygon,
    "st_geomFromWKB": st_geomFromWKB,
    "st_pointFromGeoHash": st_pointFromGeoHash,
    "st_geomFromGeoHash": st_geomFromGeoHash,
    "st_box2DFromGeoHash": st_geomFromGeoHash,
    "st_pointFromText": st_pointFromText,
    "st_lineFromText": st_lineFromText,
    "st_polygonFromText": st_polygonFromText,
    "st_mPointFromText": st_mPointFromText,
    "st_mLineFromText": st_mLineFromText,
    "st_mPolyFromText": st_mPolyFromText,
    "st_x": st_x,
    "st_y": st_y,
    "st_envelope": st_envelope,
    "st_numPoints": st_numPoints,
    "st_area": st_area,
    "st_length": st_length,
    "st_lengthSphere": st_lengthSphere,
    "st_lengthSpheroid": st_lengthSpheroid,
    "st_isEmpty": st_isEmpty,
    "st_isCollection": st_isCollection,
    "st_isClosed": st_isClosed,
    "st_isRing": st_isRing,
    "st_isSimple": st_isSimple,
    "st_isValid": st_isValid,
    "st_boundary": st_boundary,
    "st_intersection": st_intersection,
    "st_difference": st_difference,
    "st_union": st_union,
    "st_transform": st_transform,
    "st_makeBox2D": st_makeBox2D,
    "st_makePointM": st_makePointM,
    "st_pointFromWKB": st_pointFromWKB,
    "st_geomFromGeoJSON": st_geomFromGeoJSON,
    "st_asLatLonText": st_asLatLonText,
    "st_geomFromText": st_geomFromWKT,
    "st_geometryFromText": st_geomFromWKT,
    "st_centroid": st_centroid,
    "st_exteriorRing": st_exteriorRing,
    "st_interiorRingN": st_interiorRingN,
    "st_pointN": st_pointN,
    "st_coordDim": st_coordDim,
    "st_dimension": st_dimension,
    "st_geometryType": st_geometryType,
    "st_numGeometries": st_numGeometries,
    "st_geometryN": st_geometryN,
    "st_contains": st_contains,
    "st_containsPoint": st_containsPoint,
    "st_within": st_within,
    "st_intersects": st_intersects,
    "st_disjoint": st_disjoint,
    "st_touches": st_touches,
    "st_crosses": st_crosses,
    "st_overlaps": st_overlaps,
    "st_equals": st_equals,
    "st_covers": st_covers,
    "st_coveredBy": st_coveredBy,
    "st_relate": st_relate,
    "st_relateBool": st_relateBool,
    "st_distance": st_distance,
    "st_distanceSphere": st_distanceSphere,
    "st_distanceSpheroid": st_distanceSpheroid,
    "st_closestPoint": st_closestPoint,
    "st_translate": st_translate,
    "st_buffer": st_buffer,
    "st_simplify": st_simplify,
    "st_symDifference": st_symDifference,
    "st_bufferPoint": st_bufferPoint,
    "st_convexHull": st_convexHull,
    "st_idlSafeGeom": st_idlSafeGeom,
    "st_asBinary": st_asBinary,
    "st_asText": st_asText,
    "st_castToPoint": st_castToPoint,
    "st_castToLineString": st_castToLineString,
    "st_castToPolygon": st_castToPolygon,
    "st_castToGeometry": st_castToGeometry,
    "st_asGeoJSON": st_asGeoJSON,
    "st_geoHash": st_geoHash,
    "st_z2": st_z2,
    "st_z3": st_z3,
    "st_s2": st_s2,
    "st_hexCell": st_hexCell,
}


def register_all(spark: SparkSession) -> None:
    """SQL-register the whole surface (~ SQLTypes.init)."""
    from geomesa_spark.contract import ensure_py_files

    ensure_py_files(spark)
    for name, fn in ALL_FUNCTIONS.items():
        spark.udf.register(name, fn)
