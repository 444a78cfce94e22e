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
from geomesa_spark.functions.slab_overlay import slab_boolean

# matches 2-D POINTs and the 2-D projection of POINT Z / M / ZM
_POINT_NUM = r"POINT\s*(?:ZM|Z|M)?\s*\(\s*(-?[\d.eE+-]+)\s+(-?[\d.eE+-]+)(?:\s+-?[\d.eE+-]+){0,2}\s*\)"
# whole-string variant for dispatch decisions: an unanchored search would
# also hit the POINT inside "MULTIPOINT (…)" or a GEOMETRYCOLLECTION's
# first point member and silently fast-path a multi-part geometry as one
# point (wrong answer when other members fall outside the container)
_POINT_ONLY = r"^\s*" + _POINT_NUM + r"\s*$"


def _parse_cache(wkts: pd.Series) -> dict[str, tuple]:
    """Parse each unique WKT once per batch → {wkt: (kind, coords, offsets)}."""
    out = {}
    for w in wkts.dropna().unique():
        try:
            out[w] = geo.parse_wkt(w)
        except Exception:
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


@F.pandas_udf(StringType())
def st_bufferPoint(lon: pd.Series, lat: pd.Series, radius_m: pd.Series) -> pd.Series:
    lon_v, lat_v, r_v = (s.to_numpy(np.float64) for s in (lon, lat, radius_m))
    out = []
    for i in range(len(lon_v)):
        ring = geo.buffer_point(lon_v[i], lat_v[i], r_v[i])
        out.append(geo.wkt_polygon(ring, np.asarray([0, len(ring)])))
    return pd.Series(out)


def _disc(center, r: float, s: int, idx: int) -> np.ndarray:
    """2s-gon inscribed in the radius-r circle; the start phase varies
    per-geometry-part (idx) so co-centered arcs from different parts
    never share sampled vertices (vertex contact would be degenerate
    for the GH union fold)."""
    phase = (0.1 + 0.8 * ((idx * 37) % 89) / 89.0) * (np.pi / s)
    th = phase + np.arange(2 * s) * (np.pi / s)
    ring = np.column_stack([center[0] + r * np.cos(th), center[1] + r * np.sin(th)])
    return np.vstack([ring, ring[:1]])


def _capsule(p, q, r: float, s: int, idx: int) -> np.ndarray:
    """Convex stadium around segment p→q, extended by a per-capsule
    jittered ε ≈ 0.005r along the axis. Without the extension a corner
    p + r·n̂ lies EXACTLY on the adjacent perpendicular edge of an
    axis-aligned ring (vertex-on-edge: degenerate for the GH union
    fold); with it, contacts become proper crossings. The overshoot
    error is ≤ ε²/2r ≈ 3e-5·r, far inside the inscribed-arc sag the
    docstring of _buffer_geom already grants. Interior arc samples get a
    per-capsule phase jitter for the same reason (adjacent capsules
    share arc centers; identical samples would touch vertex-to-vertex)."""
    p = np.asarray(p, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    d = q - p
    length = float(np.hypot(*d))
    if length == 0.0:
        return _disc(p, r, s, idx)
    u = d / length
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
    return np.asarray(pts, dtype=np.float64)


def _ring_union_fallback(all_rings: list) -> list | None:
    """Union of hole-free rings for _buffer_geom when _shell_union's GH
    fold refuses (crossing capsules from a self-intersecting polyline):
    fold pairwise through _overlay_union (the slab sweep, then the
    DE-9IM rechain), each gated by exact area/round-trip identities.
    Returns a disjoint piece list in
    _shell_union's format, or None (honest null)."""
    cur = ("POLYGON", np.asarray(all_rings[0], dtype=np.float64),
           np.asarray([0, len(all_rings[0])]))
    for r in all_rings[1:]:
        rp = ("POLYGON", np.asarray(r, dtype=np.float64), np.asarray([0, len(r)]))
        w = _overlay_union(cur, rp)
        if w is None or w.endswith(" EMPTY"):
            return None
        cur = geo.parse_wkt(w)
    m = _areal_members(*cur)
    if m is None:
        return None
    return [_member_piece(s, h) for s, h in m]


def _buffer_geom(ga, radius: float, segments: int = 8) -> str | None:
    """PLANAR buffer (degrees — the unit convention of the st_* planar
    relate/overlay surface; st_bufferPoint remains the geodesic-meters
    point form). Negative radius erodes areal subjects (piece minus the
    ∪edge-capsules boundary band — exact by the same capsule identity;
    empty for lower-dim subjects, JTS semantics). Positive radius
    dilates: {x : dist(x, geom) ≤ r} built as the
    union of per-edge stadium capsules, per-point discs, and filled
    shells, folded through _shell_union; operand holes re-carve as
    (hole \\ capsules \\ other fills) via the region algebra, so an
    island inside a hole buffers correctly. Arcs are inscribed
    (error ≤ r·(1−cos(0.7π/s)) — the phase-jittered first/last chords
    span up to 1.4 steps; the JTS quadrant-segments convention).
    Degenerate union contact returns None — honest null, never an
    approximation."""
    if not np.isfinite(radius) or radius == 0:
        return None
    kind, coords, offs = ga

    def _dropcollinear(pts: np.ndarray, closed: bool) -> np.ndarray | None:
        # collinear FORWARD-continuing edges give exactly-collinear
        # capsule sides (degenerate overlap for the union fold);
        # dropping the middle vertex changes nothing geometrically.
        # A REVERSAL vertex (cross==0 but the path doubles back,
        # dot<0) is NOT droppable — dropping it silently deletes the
        # spike's buffer. For closed rings a reversal means a
        # zero-width spike in the boundary: an INVALID polygon → None
        # (honest null). Open lines never reach here with reversals
        # (they go through _line_edges, which merges the collinear
        # overlap instead).
        pts = np.asarray(pts, dtype=np.float64)
        if len(pts) < 3:
            return pts
        body = pts[:-1] if closed else pts
        keep = []
        n = len(body)
        for i in range(n):
            if not closed and (i == 0 or i == n - 1):
                keep.append(body[i])
                continue
            a, b, c = body[(i - 1) % n], body[i], body[(i + 1) % n]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross != 0:
                keep.append(body[i])
                continue
            dot = (b[0] - a[0]) * (c[0] - b[0]) + (b[1] - a[1]) * (c[1] - b[1])
            if dot < 0:
                if closed:
                    return None  # spiked ring: invalid polygon
                keep.append(body[i])
            # dot >= 0: duplicate point or strict forward continuation
            # — dropping b is geometrically a no-op
        out = np.asarray(keep, dtype=np.float64)
        if closed:
            out = np.vstack([out, out[:1]])
        return out

    def _line_edges(pts: np.ndarray) -> list:
        """Edge list for an open polyline, with exactly-collinear
        overlapping/touching edges merged into maximal segments.
        A reversal 'spike' vertex makes one edge (partially) retrace
        another on the same line; since buffer = ∪ per-edge capsules,
        merging the collinear overlap preserves the point-set exactly
        while removing the exactly-collinear capsule sides that are
        degenerate for the GH union fold."""
        pts = np.asarray(pts, dtype=np.float64)
        edges = [
            (pts[i], pts[i + 1])
            for i in range(len(pts) - 1)
            if pts[i][0] != pts[i + 1][0] or pts[i][1] != pts[i + 1][1]
        ]
        n = len(edges)
        used = [False] * n
        out: list = []
        for i in range(n):
            if used[i]:
                continue
            p, q = edges[i]
            d = q - p
            group = [i]
            for j in range(i + 1, n):
                if used[j]:
                    continue
                p2, q2 = edges[j]
                c1 = d[0] * (p2[1] - p[1]) - d[1] * (p2[0] - p[0])
                c2 = d[0] * (q2[1] - p[1]) - d[1] * (q2[0] - p[0])
                if c1 == 0.0 and c2 == 0.0:
                    group.append(j)
            if len(group) == 1:
                out.append((p, q))
                continue
            ivs = []
            for j in group:
                used[j] = True
                a = float((edges[j][0] - p) @ d)
                b = float((edges[j][1] - p) @ d)
                ivs.append((min(a, b), max(a, b)))
            ivs.sort()
            lo0, hi0 = ivs[0]
            dd = float(d @ d)
            for lo, hi in ivs[1:]:
                if lo <= hi0:
                    hi0 = max(hi0, hi)
                else:
                    out.append((p + (lo0 / dd) * d, p + (hi0 / dd) * d))
                    lo0, hi0 = lo, hi
            out.append((p + (lo0 / dd) * d, p + (hi0 / dd) * d))
        return out
    if radius < 0:
        # erosion, areal subjects only (negative buffer of lines/points
        # is empty — JTS returns POLYGON EMPTY): {x : dist(x, boundary)
        # ≥ |r|, x inside} == piece \ ∪edge-capsules, because the capsule
        # union IS the ≤|r| boundary band. Members erode independently
        # (erosion only removes area, so a disjoint member can't
        # contribute). Inscribed arcs under-cover the band, so the
        # eroded result overshoots by the same sag bound the dilation
        # grants, at reflex corners only.
        if kind not in _AREAL:
            return "POLYGON EMPTY" if kind in _POINTY + _LINEY else None
        r_abs = -radius
        out: list = []
        idx_n = 0
        for k2, c2, o2 in geo.geom_parts(kind, coords, offs):
            if k2 != "POLYGON":
                return None
            rings2 = [
                _dropcollinear(c2[o2[ridx]:o2[ridx + 1]], closed=True)
                for ridx in range(len(o2) - 1)
            ]
            if any(r is None or len(r) < 4 for r in rings2):
                return None
            cur: list | None = [_member_piece(rings2[0], rings2[1:])]
            for ring in rings2:
                for i in range(len(ring) - 1):
                    cap = _capsule(ring[i], ring[i + 1], r_abs, segments, idx_n)
                    idx_n += 1
                    bx0, by0 = cap[:, 0].min(), cap[:, 1].min()
                    bx1, by1 = cap[:, 0].max(), cap[:, 1].max()
                    hit: list = []
                    miss: list = []
                    for p in cur:
                        pc = p[0]
                        if (
                            pc[:, 0].max() < bx0 or pc[:, 0].min() > bx1
                            or pc[:, 1].max() < by0 or pc[:, 1].min() > by1
                        ):
                            miss.append(p)
                        else:
                            hit.append(p)
                    sub = _region_subtract_ring(hit, cap, pair_diff=_ring_pair_difference_gh)
                    if sub is None:
                        return None
                    cur = sub + miss
            out.extend(cur)
        return _polys_to_wkt(out) if out else "POLYGON EMPTY"


    fills: list = []   # (shell_ring_ccw, [hole_rings_ccw], part_idx)
    holes: list = []   # (hole_ring_ccw, part_idx)
    caps: list = []
    idx = 0
    for part_i, (k2, c2, o2) in enumerate(geo.geom_parts(kind, coords, offs)):
        if k2 == "POINT":
            caps.append(_disc(c2[0], radius, segments, idx))
            idx += 1
        elif k2 == "LINESTRING":
            for p_e, q_e in _line_edges(c2):
                caps.append(_capsule(p_e, q_e, radius, segments, idx))
                idx += 1
        elif k2 == "POLYGON":
            clean_rings = [
                _dropcollinear(c2[o2[ridx]:o2[ridx + 1]], closed=True)
                for ridx in range(len(o2) - 1)
            ]
            if any(r is None or len(r) < 4 for r in clean_rings):
                return None
            fills.append((
                geo._ccw_ring(clean_rings[0]),
                [geo._ccw_ring(r) for r in clean_rings[1:]],
                part_i,
            ))
            for ring in clean_rings:
                for i in range(len(ring) - 1):
                    caps.append(_capsule(ring[i], ring[i + 1], radius, segments, idx))
                    idx += 1
            for ring in clean_rings[1:]:
                holes.append((geo._ccw_ring(ring), part_i))
        else:
            return None
    all_rings = [f for f, _hs, _pi in fills] + caps
    if not all_rings:
        return None
    parts = _shell_union([all_rings[0]], all_rings[1:])
    if parts is None:
        # the GH fold refuses crossing capsules (a self-crossing
        # polyline buffers its own path twice); fold through
        # _overlay_union instead — the slab sweep is gated by exact
        # identities, so this recovers the union or stays honest null,
        # never approximates
        parts = _ring_union_fallback(all_rings)
    if parts is None:
        return None
    res: list | None = parts
    for h, owner in holes:
        hp: list | None = [(h, np.asarray([0, len(h)]))]
        hx0, hy0 = h[:, 0].min() - 1e-12, h[:, 1].min() - 1e-12
        hx1, hy1 = h[:, 0].max() + 1e-12, h[:, 1].max() + 1e-12

        def _bbox_misses(ring):
            return (
                ring[:, 0].max() < hx0 or ring[:, 0].min() > hx1
                or ring[:, 1].max() < hy0 or ring[:, 1].min() > hy1
            )

        for ring in caps:
            if _bbox_misses(ring):
                continue  # bbox-disjoint from the hole: nothing to carve
            hp = _region_subtract_ring(hp, ring, pair_diff=_ring_pair_difference_gh)
            if hp is None:
                return None
        for f_shell, _f_holes, pi in fills:
            if pi == owner or _bbox_misses(f_shell):
                continue
            # Only members NESTED INSIDE this hole partition the carve:
            # an uncovered point belongs to the INNERMOST hole containing
            # it, so a nested island's bare shell removes exactly the
            # points the island's own holes will carve instead (keeps
            # the per-hole carves disjoint — subtracting the island as a
            # region would double-carve its hole interior and hit the
            # first carve's boundary). A member CONTAINING this hole
            # must not subtract at all: its bare shell covers the whole
            # hole and would wrongly erase the carve.
            if geo.classify_points_in_polygon(
                f_shell[:1, 0], f_shell[:1, 1], h, np.asarray([0, len(h)])
            )[0] != 2:
                continue
            hp = _region_subtract_ring(hp, f_shell, pair_diff=_ring_pair_difference_gh)
            if hp is None:
                return None
        res = _region_subtract_pieces(res, hp)
        if res is None:
            return None
    return _polys_to_wkt(res)


@F.pandas_udf(StringType())
def st_buffer(wkt: pd.Series, radius: pd.Series) -> pd.Series:
    """Planar buffer for any geometry kind (degrees; negative radius
    erodes areal subjects) — see _buffer_geom. The GeoMesa surface only ships the geodesic point
    form (st_bufferPoint); this is the general PostGIS-style op."""
    cache = _parse_cache(wkt)
    r_v = radius.to_numpy(np.float64)
    out = []
    memo: dict = {}
    for w, r in zip(wkt, r_v):
        g = cache.get(w)
        key = (w, float(r))
        if key not in memo:
            if g is None:
                memo[key] = None
            else:
                try:
                    memo[key] = _buffer_geom(g, float(r))
                except Exception:
                    memo[key] = None
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
    What neither path supports returns None: SQL null, honest
    unsupported, never an approximation."""
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
            try:
                if geo.relate_geoms(ki, ci, oi, kj, cj, oj).ii:
                    return False
            except Exception:
                return False
    return True


def _clean_ring(ring) -> np.ndarray | None:
    """Canonicalize a ring for the region algebra: drop consecutive
    duplicate vertices and collapse exact zero-width backtrack spikes
    (v[k-1] == v[k+1] — the doubled edge toggles even-odd parity twice,
    so removal is point-set EXACT, not an approximation); None when
    fewer than 3 distinct vertices remain (such a ring encloses exactly
    zero area). Upstream overlays can emit both artifacts under
    degenerate contact — observed: a sliver ((0 7, 8.9e-16 7, 0 7))
    from an intersection, and a hole-union ring threading a nested
    hole's corners via a spike ((-0.5 0.5, -0.5 0, -0.5 0.5)) that made
    the downstream intersect kernel answer EMPTY instead of the patch
    region — and the ring-pair kernels choke on zero-length and doubled
    edges."""
    ring = np.asarray(ring, dtype=np.float64)
    body = ring[:-1] if len(ring) > 1 and (ring[0] == ring[-1]).all() else ring
    changed = True
    while changed and len(body) >= 3:
        changed = False
        n = len(body)
        keep = np.ones(n, dtype=bool)
        for k in range(n):
            if (body[k] == body[(k + 1) % n]).all():
                keep[(k + 1) % n] = False
        if not keep.all():
            body = body[keep]
            changed = True
            continue
        for k in range(n):
            if (body[(k - 1) % n] == body[(k + 1) % n]).all():
                body = np.delete(body, sorted({k, (k + 1) % n}, reverse=True), axis=0)
                changed = True
                break
    if len(body) < 3 or len(np.unique(body, axis=0)) < 3:
        return None
    return np.vstack([body, body[:1]])


def _areal_members(kind, coords, offs) -> list | None:
    """(MULTI)POLYGON members as (shell_ring, [hole_ring, ...]) with all
    rings closed, consecutive-duplicate-free, and CCW-normalized; None
    for non-polygonal parts. Members with a degenerate (<3 distinct
    vertices ⇒ exactly zero area) shell are dropped, as are degenerate
    hole rings."""
    out = []
    for k2, c2, o2 in geo.geom_parts(kind, coords, offs):
        if k2 != "POLYGON":
            return None
        shell = _clean_ring(c2[o2[0]:o2[1]])
        if shell is None:
            continue
        shell = geo._ccw_ring(shell)
        holes = []
        for i in range(1, len(o2) - 1):
            h = _clean_ring(c2[o2[i]:o2[i + 1]])
            if h is not None:
                holes.append(geo._ccw_ring(h))
        out.append((shell, holes))
    return out


def _member_piece(shell, holes) -> tuple[np.ndarray, np.ndarray]:
    """Assemble (coords, ring_offsets) from a CCW shell + hole rings
    (holes stored CW, the parity convention of the piece machinery)."""
    rings = [geo._ccw_ring(np.asarray(shell, dtype=np.float64))] + [
        geo._ccw_ring(np.asarray(h, dtype=np.float64))[::-1] for h in holes
    ]
    cc = np.concatenate(rings)
    oo = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    return cc, oo


def _piece_holes(c2, o2) -> list[np.ndarray]:
    return [geo._ccw_ring(c2[o2[i]:o2[i + 1]]) for i in range(1, len(o2) - 1)]


# --- exact region algebra over disjoint piece lists --------------------------
#
# A "region" is a list of mutually disjoint (coords, ring_offsets) polygon
# pieces (shell + parity holes). The three primitives below reduce every
# holed-operand overlay to single-ring kernel calls via set identities:
#   (shell \ holes) \ r  ==  (shell \ r) \ holes
#   (shell \ holes) ∩ r  ==  (shell ∩ r) \ holes
#   X \ (sb \ ⊎hb)       ==  (X \ sb) ⊎ ⊎ᵢ (X ∩ hbᵢ)
# Each returns None on degenerate boundary contact the ring-pair kernels
# cannot trace (the caller falls back to the DE-9IM fast paths).


def _region_subtract_ring(pieces, r, pair_diff=None) -> list | None:
    """Subtract the area enclosed by closed ring ``r`` from a disjoint
    piece list. ``pair_diff`` overrides the single-ring difference
    kernel (the buffer carve passes a GH-first variant that keeps
    connected remainders as ONE piece — half-plane fragments share
    edges, degenerate for later subtraction consumers)."""
    diff = pair_diff or _ring_pair_difference
    rr = geo._ccw_ring(np.asarray(r, dtype=np.float64))
    out: list = []
    for c2, o2 in pieces:
        contact = _piece_contact(c2, o2, rr)
        if contact == "disjoint":
            out.append((c2, o2))
            continue
        if contact == "interior":
            # r strictly inside the piece interior: punch it as a hole.
            # With no boundary contact every existing hole lies entirely
            # inside or outside r — holes swallowed by r are dropped
            # (they'd otherwise nest and flip parity).
            r_off = np.asarray([0, len(rr)])
            keep = [c2[o2[0]:o2[1]]]
            for h in _piece_holes(c2, o2):
                # keep a hole only if ANY strict sample lies outside r
                # (touch-contact punches make single-vertex tests
                # ambiguous: a swallowed hole may touch r's ring)
                hx = np.concatenate([h[:-1, 0], (h[:-1, 0] + h[1:, 0]) / 2.0])
                hy = np.concatenate([h[:-1, 1], (h[:-1, 1] + h[1:, 1]) / 2.0])
                if (geo.classify_points_in_polygon(hx, hy, rr, r_off) == 0).any():
                    keep.append(h[::-1])  # back to stored CW
            keep.append(rr[::-1])
            cc = np.concatenate(keep)
            oo = np.concatenate([[0], np.cumsum([len(k) for k in keep])])
            out.append((cc, oo))
            continue
        # interacting
        shell = c2[o2[0]:o2[1]]
        r_off = np.asarray([0, len(rr)])
        proper, touch, ovl = geo.segment_contact_matrices(
            geo.line_edges(rr), geo.line_edges(np.asarray(shell, dtype=np.float64))
        )
        if not (proper.any() or touch.any() or ovl.any()):
            # r never meets the shell ring. Either it swallows the whole
            # piece, or it lies inside the shell crossing only holes: the
            # excluded region is then the 2-D union of r with the holes
            # it meets — merged via _shell_union (whose voids are islands
            # of KEPT area, re-emitted as their own pieces).
            if geo.classify_points_in_polygon(shell[:1, 0], shell[:1, 1], rr, r_off)[0] == 2:
                continue  # r swallows the piece entirely
            # r's boundary provably never meets the shell's boundary
            # (exact segment matrices above) and r does not swallow the
            # piece, so r lies strictly on ONE side of the shell.
            # _piece_contact can still route a fully-OUTSIDE r here when
            # one sample sits ~1e-16 from a shell edge and classifies
            # inside (observed: a hole corner 8.9e-16 off a -2/3-slope
            # edge). A majority vote of r's strict samples vs the shell
            # alone decides the true side; punching an outside r as a
            # hole flips every even-odd reader over r's whole area.
            rx = np.concatenate([rr[:-1, 0], (rr[:-1, 0] + rr[1:, 0]) / 2.0])
            ry = np.concatenate([rr[:-1, 1], (rr[:-1, 1] + rr[1:, 1]) / 2.0])
            rcls = geo.classify_points_in_polygon(
                rx, ry, np.asarray(shell, dtype=np.float64), np.asarray([0, len(shell)])
            )
            n_in, n_out = int((rcls == 2).sum()), int((rcls == 0).sum())
            if n_in == n_out:
                return None  # genuinely ambiguous: honest null, never a guess
            if n_in < n_out:
                out.append((c2, o2))  # r outside the shell: piece untouched
                continue
            touching: list = []
            kept: list = []
            r_in_kept_hole = False
            for h in _piece_holes(c2, o2):
                hp, ht, hv = geo.segment_contact_matrices(geo.line_edges(h), geo.line_edges(rr))
                if hp.any() or ht.any() or hv.any():
                    touching.append(h)
                elif geo.classify_points_in_polygon(h[:1, 0], h[:1, 1], rr, r_off)[0] == 2:
                    continue  # hole swallowed by r
                else:
                    kept.append(h)
                    # r nested inside this hole ⇒ r ∩ piece = ∅ (punching
                    # it would nest rings and flip parity back to solid)
                    hcls = geo.classify_points_in_polygon(
                        rx, ry, np.asarray(h, dtype=np.float64), np.asarray([0, len(h)])
                    )
                    if int((hcls == 2).sum()) > int((hcls == 0).sum()):
                        r_in_kept_hole = True
            if r_in_kept_hole:
                out.append((c2, o2))
                continue
            merged = _shell_union([rr], touching)
            if merged is None:
                return None
            hole_rings: list = []
            islands: list = []
            for mc, mo in merged:
                hole_rings.append(mc[mo[0]:mo[1]])
                for q in range(1, len(mo) - 1):
                    islands.append(mc[mo[q]:mo[q + 1]])
            island_holes: list = [[] for _ in islands]
            main_kept: list = []
            for h in kept:
                for t, isl in enumerate(islands):
                    if geo.classify_points_in_polygon(
                        h[:1, 0], h[:1, 1], isl, np.asarray([0, len(isl)])
                    )[0] == 2:
                        island_holes[t].append(h)
                        break
                else:
                    main_kept.append(h)
            out.append(_member_piece(shell, hole_rings + main_kept))
            for t, isl in enumerate(islands):
                out.append(_member_piece(isl, island_holes[t]))
            continue
        # r crosses the shell ring: (shell \ holes) \ r == (shell \ r) \
        # holes. The crossing guarantees hole-free (shell \ r) pieces, so
        # the recursion strictly reduces the hole count and terminates.
        d = diff(shell, rr)
        if d is None:
            return None
        for h in _piece_holes(c2, o2):
            d = _region_subtract_ring(d, h, pair_diff=pair_diff)
            if d is None:
                return None
        out.extend(d)
    return out


def _region_intersect_ring(pieces, r) -> list | None:
    """Clip a disjoint piece list to the area enclosed by closed ring
    ``r``: (shell ∩ r) \\ holes per piece."""
    rr = geo._ccw_ring(np.asarray(r, dtype=np.float64))
    out: list = []
    for c2, o2 in pieces:
        d = _ring_pair_intersection(c2[o2[0]:o2[1]], rr)
        if d is None:
            return None
        for h in _piece_holes(c2, o2):
            d = _region_subtract_ring(d, h)
            if d is None:
                return None
        out.extend(d)
    return out


def _region_subtract_member(pieces, sb, hb) -> list | None:
    """X \\ (sb \\ ⊎hb) == (X \\ sb) ⊎ ⊎ᵢ (X ∩ hbᵢ): the subtracted
    member's holes add back the parts of X they expose. The two sides
    are disjoint (each hb lies inside sb), so the result stays a valid
    disjoint piece list."""
    out = _region_subtract_ring(pieces, sb)
    if out is None:
        return None
    for h in hb:
        add = _region_intersect_ring(pieces, h)
        if add is None:
            return None
        out.extend(add)
    return out


def _region_subtract_pieces(pieces, sub) -> list | None:
    """Subtract a disjoint piece list ``sub`` (pieces may carry holes)
    from ``pieces``."""
    for c2, o2 in sub:
        pieces = _region_subtract_member(pieces, c2[o2[0]:o2[1]], _piece_holes(c2, o2))
        if pieces is None:
            return None
    return pieces


def _areal_area(coords, offs) -> float:
    """Area of a (MULTI)POLYGON ring set: Σ|shell| − Σ|holes| grouped by
    containment depth (orientation-agnostic, unlike raw signed sums)."""
    c = np.asarray(coords, dtype=np.float64)
    o = np.asarray(offs)
    ring = lambda i: c[o[i]:o[i + 1]]
    total = 0.0
    for s, hs in geo.multipolygon_parts(c, o):
        total += abs(geo.ring_signed_area(ring(s))) - sum(
            abs(geo.ring_signed_area(ring(h))) for h in hs
        )
    return total


def _boundary_rechain(ga, gb, expected_area: float) -> str | None:
    """Rebuild an overlay result whose interior structure is trivially
    known (interiors disjoint for a touching union; B filling part of A
    for a covered difference) from its boundary: collinear shared
    portions cancel from BOTH operands (a shared edge becomes interior),
    the surviving arcs re-chain into closed rings, and containment-depth
    parity recovers shells and holes. The rechained area must reproduce
    the set-theoretically expected area or the result is rejected —
    None, never an approximation."""
    ka, ca, oa = ga
    kb, cb, ob = gb
    rings_a = [np.asarray(ca[oa[i]:oa[i + 1]], dtype=np.float64) for i in range(len(oa) - 1)]
    rings_b = [np.asarray(cb[ob[i]:ob[i + 1]], dtype=np.float64) for i in range(len(ob) - 1)]
    pieces: list = []
    for side, other in ((rings_a, rings_b), (rings_b, rings_a)):
        for r in side:
            cur = [r]
            for o2 in other:
                cur = [seg for p in cur for seg in geo.line_difference_line(p, o2)]
            pieces.extend(cur)
    rings = geo.chain_closed_rings(pieces)
    if rings is None:
        return None
    if not rings:
        return "POLYGON EMPTY" if abs(expected_area) <= 1e-15 else None
    coords = np.concatenate(rings)
    offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    out: list = []
    total = 0.0
    for shell_idx, hole_idxs in geo.multipolygon_parts(coords, offs):
        member = [geo._ccw_ring(rings[shell_idx])] + [
            geo._ccw_ring(rings[h])[::-1] for h in hole_idxs
        ]
        mc = np.concatenate(member)
        mo = np.concatenate([[0], np.cumsum([len(r) for r in member])])
        total += geo.polygon_area_deg2(mc, mo)  # CCW shell + CW holes: net
        out.append((mc, mo))
    if abs(total - expected_area) > 1e-9 * max(1.0, abs(expected_area)):
        return None
    return _wkt_roundtrip_gate(out, expected_area)


def _wkt_roundtrip_gate(parts, expected_area: float) -> str | None:
    """Emit WKT only if the artifact a consumer PARSES BACK reproduces
    the expected net area. The %.10g writer rounds coordinates
    ~1e-10-relative — normally invisible, but a sliver ring sitting
    exactly on another ring's boundary can flip its containment depth
    under that rounding (observed: a 0.02-area island inside a hole
    re-reading as a hole of the outer shell, silently subtracting twice).
    A result that is not structure-stable through the writer is refused
    — None, never a wrong polygon."""
    w = _polys_to_wkt(parts)
    if w is None or w.endswith(" EMPTY"):
        return w
    _k2, c2, o2 = geo.parse_wkt(w)
    if abs(_areal_area(c2, o2) - expected_area) > 1e-9 * max(1.0, abs(expected_area)):
        return None
    return w


def _areal_overlay(ga, gb, op: str) -> str | None:
    """The (MULTI)POLYGON × (MULTI)POLYGON boolean ``op``, holes
    included. The slab sweep answers first; its output is areal by
    construction, so an EMPTY intersection still asks the DE-9IM relate
    fallback for the shared boundary linework of touching operands
    (POLYGON EMPTY when there is none). A slab refusal also goes to the
    relate fallback, which answers equal, covered and touching pairs
    exactly. Anything else is None — never an approximation."""
    res = _slab_fallback(ga, gb, op)
    if res is None or (op == "intersection" and res == "POLYGON EMPTY"):
        res = _areal_relate_fallback(ga, gb, op) or res
    return res


def _slab_fallback(ga, gb, op: str) -> str | None:
    """The slab-sweep step of _areal_overlay as WKT: the trapezoidal
    even-odd boolean of functions/slab_overlay.py (no degeneracy special
    cases, area-identity gated), then the WKT round-trip gate. An empty
    result is POLYGON EMPTY; a refusal by either gate is None."""
    if ga[0] not in _AREAL or gb[0] not in _AREAL:
        return None
    out = slab_boolean(ga, gb, op)
    if out is None:
        return None
    if not out:
        return "POLYGON EMPTY"
    net = sum(geo.polygon_area_deg2(mc, mo) for mc, mo in out)
    return _wkt_roundtrip_gate(out, net)


def _areal_relate_fallback(ga, gb, op: str) -> str | None:
    """Exact answers for (MULTI)POLYGON pairs the slab sweep cannot give,
    recovered from the DE-9IM relationship: equal and covered operands
    answer set-theoretically; interiors-disjoint (touches) intersections
    return the shared boundary linework; touching unions and symmetric
    differences, and differences of covered operands, rebuild by
    boundary rechaining. Anything else stays None — honest unsupported."""
    ka, ca, oa = ga
    kb, cb, ob = gb
    if ka not in _AREAL or kb not in _AREAL:
        return None
    # cheap reject: bbox-disjoint operands can't touch (the fallback
    # fires for every empty intersection, which is usually just two
    # far-apart polygons — skip the O(n·m) relate for those)
    if (
        ca[:, 0].max() < cb[:, 0].min() or cb[:, 0].max() < ca[:, 0].min()
        or ca[:, 1].max() < cb[:, 1].min() or cb[:, 1].max() < ca[:, 1].min()
    ):
        return None
    try:
        r = geo.relate_geoms(ka, ca, oa, kb, cb, ob)
    except Exception:
        return None
    if geo.pred_equals(r):
        if op in ("difference", "symdifference"):
            return "POLYGON EMPTY"
        return geo.wkt_any(ka, ca, oa)
    if geo.pred_covered_by(r):  # A ⊆ B
        if op == "intersection":
            return geo.wkt_any(ka, ca, oa)
        if op == "union":
            return geo.wkt_any(kb, cb, ob)
        if op == "symdifference":  # B \ A
            return _boundary_rechain(gb, ga, _areal_area(cb, ob) - _areal_area(ca, oa))
        return "POLYGON EMPTY"  # areal difference of a covered subject
    if geo.pred_covers(r):  # B ⊆ A
        if op == "intersection":
            return geo.wkt_any(kb, cb, ob)
        if op == "union":
            return geo.wkt_any(ka, ca, oa)
        return _boundary_rechain(ga, gb, _areal_area(ca, oa) - _areal_area(cb, ob))
    if geo.pred_touches(r):  # interiors disjoint, boundaries meet
        if op == "difference":
            return geo.wkt_any(ka, ca, oa)
        if op in ("union", "symdifference"):
            return _boundary_rechain(ga, gb, _areal_area(ca, oa) + _areal_area(cb, ob))
        # intersection: the shared boundary linework (segments + isolated
        # touch points, points on any segment subsumed)
        pts: list = []
        lines: list = []
        for i in range(len(oa) - 1):
            for j in range(len(ob) - 1):
                p2, s2 = geo.line_line_overlay(ca[oa[i]:oa[i + 1]], cb[ob[j]:ob[j + 1]])
                pts.extend(p2)
                lines.extend(s2)
        if lines:
            ex1 = np.asarray([s[0, 0] for s in lines])
            ey1 = np.asarray([s[0, 1] for s in lines])
            ex2 = np.asarray([s[1, 0] for s in lines])
            ey2 = np.asarray([s[1, 1] for s in lines])
            pts = [p for p in pts if not geo.points_on_segments([p[0]], [p[1]], ex1, ey1, ex2, ey2)[0]]
        return _pieces_to_wkt(pts, lines, "GEOMETRYCOLLECTION EMPTY")
    return None


def _ring_pair_intersection(a2, b2) -> list | None:
    """Single-ring ∩ single-ring as [(coords, offsets), ...] parts.
    Sutherland–Hodgman ONLY for convex×convex (a concave subject can
    have a DISCONNECTED intersection with a convex clip, which S-H
    silently bridges into one invalid ring); Greiner–Hormann otherwise;
    None on degenerate contact."""
    if geo.is_convex_ring(a2) and geo.is_convex_ring(b2):
        ring = geo.convex_polygon_intersection(a2, b2)
        return [] if ring is None else [(ring, np.asarray([0, len(ring)]))]
    return geo.polygon_overlay_general(a2, b2, "intersection")


def _ring_pair_difference(a2, b2) -> list | None:
    r"""Single-ring \ single-ring as [(coords, offsets), ...] parts
    (the containment case yields one polygon-with-hole part)."""
    if geo.is_convex_ring(a2) and geo.is_convex_ring(b2):
        pieces = geo.convex_polygon_difference(a2, b2)
        return [(r, np.asarray([0, len(r)])) for r in pieces]
    return geo.polygon_overlay_general(a2, b2, "difference")


def _ring_pair_difference_gh(a2, b2) -> list | None:
    r"""GH-first single-ring difference: a connected remainder stays ONE
    concave piece instead of half-plane fragments. The buffer's hole
    carve subtracts many overlapping capsules sequentially — fragments
    would share edges, which is degenerate contact for every LATER
    consumer of the piece list. Falls back to the half-plane chain when
    GH rejects the contact as degenerate."""
    r = geo.polygon_overlay_general(a2, b2, "difference")
    if r is not None:
        return r
    return _ring_pair_difference(a2, b2)


def _polys_to_wkt(parts) -> str | None:
    """GH overlay result [(coords, ring_offsets), ...] → WKT (None stays
    None: degenerate-contact inputs are unsupported, not approximated)."""
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
    _areal_overlay (the slab sweep, then the DE-9IM fast paths).
    Interactions neither path can express return None."""
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


def _piece_contact(c2, o2, b2) -> str:
    """Exact classification of ring ``b2`` against piece (c2, o2):
    'disjoint' (b2's region outside the piece), 'interior' (b2's region
    inside the piece's closure), or 'interacting' (anything else —
    boundaries cross or overlap, or the piece sits inside b2).

    Vertex-only contact (boundaries meet at isolated points, no proper
    crossing, no collinear overlap) still resolves to interior/disjoint
    when every strict sample (b2's vertices AND edge midpoints) lands on
    one side: punching a hole that touches the shell at points is
    parity-exact, and the crossing-based kernels would reject the
    contact as degenerate for no measurable reason.

    Representation caveat (deliberate): a punched hole touching the
    shell at TWO OR MORE points pinches the interior — the point set is
    exact but strict OGC/JTS would split it into a MULTIPOLYGON of
    components. This engine's own parity kernels (classification,
    area, relate, further overlays) treat the pinched form exactly;
    component splitting is not implemented."""
    b = np.asarray(b2, dtype=np.float64)
    c = np.asarray(c2, dtype=np.float64)
    proper, touch, overlap = geo.segment_contact_matrices(
        geo.line_edges(b), geo.polygon_edges(c, np.asarray(o2))
    )
    if proper.any() or overlap.any():
        return "interacting"
    b_off = np.asarray([0, len(b)])
    sx = b[:-1, 0]
    sy = b[:-1, 1]
    if touch.any():
        # b2 can thread THROUGH the piece between touch points
        # (corner-to-corner slicing), and a touch point can BE an edge
        # midpoint — so besides each edge midpoint, sample the midpoint
        # of every interval between consecutive piece vertices on a b2
        # edge. Every sample lies on b2's boundary by construction, so
        # extra samples are always sound; missing ones are what made a
        # slicing edge read 'disjoint'.
        mx, my = geo._edge_midpoints(b, b_off)
        ex, ey = geo._contact_interval_samples(b, b_off, c)
        sx = np.concatenate([sx, mx, ex])
        sy = np.concatenate([sy, my, ey])
    cls = geo.classify_points_in_polygon(sx, sy, c2, o2)

    def _piece_in_b2() -> bool:
        # majority vote over the piece's shell vertices AND edge
        # midpoints (a single first-vertex probe is arbitrary when it
        # sits ON b2's boundary)
        shell = c[o2[0]:o2[1]]
        qx = np.concatenate([shell[:-1, 0], (shell[:-1, 0] + shell[1:, 0]) / 2.0])
        qy = np.concatenate([shell[:-1, 1], (shell[:-1, 1] + shell[1:, 1]) / 2.0])
        qc = geo.classify_points_in_polygon(qx, qy, b, b_off)
        return int((qc == 2).sum()) > int((qc == 0).sum())

    if (cls != 0).all():
        # all samples inside-or-boundary: b2 ⊆ closure(piece) — unless
        # the piece ALSO sits inside b2 (mutual: genuinely interacting)
        if _piece_in_b2():
            return "interacting"
        return "interior"
    if (cls != 2).all():
        # all samples outside-or-boundary — unless the PIECE is inside
        # b2 (b2 swallows the piece: a real subtraction, not disjoint)
        if _piece_in_b2():
            return "interacting"
        return "disjoint"
    return "interacting"


def _overlay_union(ga, gb) -> str | None:
    """A ∪ B WKT for same-dimension operands: point sets merge,
    linework merges as A + (B \\ A), (MULTI)POLYGON pairs, holes
    included, go to _areal_overlay (the slab sweep, then the DE-9IM
    fast paths). Mixed-dimension
    unions return GEOMETRYCOLLECTION(higher, lower \\ higher) — JTS
    semantics — and GEOMETRYCOLLECTION operands re-union canonically by
    dimension (_gc_union). What neither path supports returns None."""
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
    itself unsupported (degenerate contact the rechainer refuses)."""
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


def _shell_union(ra: list, rb: list) -> list | None:
    """Union of hole-free shell rings: merge B's shells into A's
    (disjoint) part list one at a time — disjoint member → new part;
    member interacting with exactly ONE single-ring part → GH pairwise
    union replaces it (interlocking shapes correctly enclose void
    holes); interior member absorbs. A member bridging several parts
    (their transitive merge) and contact with a hole-bearing part
    return honest null."""
    parts: list = [(np.asarray(r, dtype=np.float64), np.asarray([0, len(r)])) for r in ra]
    for b2 in rb:
        contacts = [_piece_contact(c2, o2, b2) for c2, o2 in parts]
        hits = [i for i, ct in enumerate(contacts) if ct != "disjoint"]
        if not hits:
            b = np.asarray(b2, dtype=np.float64)
            parts.append((b, np.asarray([0, len(b)])))
            continue
        if len(hits) == 1 and contacts[hits[0]] == "interior":
            continue  # swallowed by the part's interior
        # a member hitting several parts merges them transitively: fold
        # pairwise GH unions through the hit list (each intermediate must
        # stay a single void-free ring — a void mid-fold is honest null)
        cur = (np.asarray(b2, dtype=np.float64), np.asarray([0, len(b2)]))
        for i in hits:
            c2, o2 = parts[i]
            if len(o2) != 2 or len(cur[1]) != 2:
                return None  # merging across a void-bearing part
            merged = geo.polygon_overlay_general(c2, cur[0], "union")
            if merged is None or len(merged) != 1:
                return None
            cur = merged[0]
        parts = [p for k, p in enumerate(parts) if k not in hits]
        parts.append(cur)
    return parts


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
    """A Δ B. (MULTI)POLYGON pairs go to _areal_overlay (the slab sweep,
    then the DE-9IM fast paths). Other pairings compose, preferring
    (A ∪ B) \\ (A ∩ B) — the structurally cleanest result (no internal
    member fragmentation; a lower-dim intersection subtracts as
    identity) — and falling back to (A \\ B) ∪ (B \\ A), whose
    differences have disjoint interiors. Both compositions are gated by
    their exact area identity. Exact wherever the underlying overlays
    are; None otherwise."""
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
        # falls through to the next one instead of shipping
        return abs(_parity_area(w) - want) <= 1e-9 * max(1.0, abs(want))

    u = _overlay_union(ga, gb)
    i = _overlay_intersection(ga, gb)
    if u is not None and i is not None:
        if i.endswith(" EMPTY"):
            return u
        # i ⊆ u, so the areal gap is exactly au − ai (any result kind)
        d = _overlay_difference(geo.parse_wkt(u), geo.parse_wkt(i))
        if d is not None and _area_ok(d, _parity_area(u) - _parity_area(i)):
            return d
    d1 = _overlay_difference(ga, gb)
    if d1 is None:
        return None
    d2 = _overlay_difference(gb, ga)
    if d2 is None:
        return None
    if d2.endswith(" EMPTY"):
        return d1
    if d1.endswith(" EMPTY"):
        return d2
    out = _overlay_union(geo.parse_wkt(d1), geo.parse_wkt(d2))
    # the two differences have disjoint interiors: exact additivity
    if out is not None and not _area_ok(out, _parity_area(d1) + _parity_area(d2)):
        return None
    return out


@F.pandas_udf(StringType())
def st_symDifference(a_wkt: pd.Series, b_wkt: pd.Series) -> pd.Series:
    """Symmetric difference — exact wherever st_difference and the
    touching-union rechain are (null, never an approximation, outside
    them)."""
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
