"""Spatial joins — the engine's core operator (SURVEY.md §2.4).

From-scratch Spark-first re-expression of GeoMesa's spatial join surface,
one body per operator:

- ``spatial_join``    PIP join of points against a driver-side polygon
  list. ``strategy='broadcast'`` ~ ``GeoMesaSpark#shallowJoin`` (north_rule:
  "broadcast of small polygon sets"); ``'salted'`` ~ ``GeoMesaJoinRelation``
  + ``RelationUtils#gridPartition`` (sort-merge on cell with explicit
  salting of hot cells); ``'auto'`` ~ the StrategyDecider, picking by
  cover size. ``pip_match_pdf`` is the same join on the driver.
- ``pip_join_stored`` PIP join against a stored polygon table (covers
  computed on executors, XZ2-extents analog).
- ``distance_join``   ~ ``ProximitySearchProcess`` (dwithin semantics),
  broadcast for a pandas query frame, sort-merge for a stored one.

Design (two-phase, SURVEY.md §4):
1. COARSE: polygons → grid-cell covers (driver-side numpy, exact
   box-vs-polygon test, cells marked *full* when the cell box lies entirely
   inside the polygon); points → cell via a pure Catalyst expression
   (floor arithmetic — whole-stage-codegen, no UDF). Equi-join on cell
   (``_cover_join``).
2. REFINE: candidates in non-*full* cells run the vectorized numpy
   ray-crossing PIP (``_pip_refine``) in an Arrow-batched pandas UDF,
   grouped by polygon id inside each batch. *full* cells skip refinement
   entirely (the analog of GeoMesa's LOOSE_BBOX fast path is
   ``refine=False``).

At 100 TB scale the coarse join is the only shuffle (and broadcast joins
have none); the refine UDF is a narrow map. Hot cells (20% of web-page
geo-mentions hit 3 cities — FIXTURES.md §1) are salted explicitly on the
salted path; AQE skew handling stays on as a backstop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as geo
from geomesa_spark.sources.synth import Polygon

DEFAULT_LEVEL = 8


# ---------------------------------------------------------------------------
# cell assignment — pure Catalyst expression (JVM codegen, no UDF)
# ---------------------------------------------------------------------------


def grid_cell_expr(lon_col: str, lat_col: str, level: int):
    nx, ny = C.grid_shape(level)
    ix = F.least(
        F.lit(nx - 1),
        F.greatest(F.lit(0), F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(nx))),
    )
    iy = F.least(
        F.lit(ny - 1),
        F.greatest(F.lit(0), F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(180.0) * F.lit(ny))),
    )
    return (iy * F.lit(nx) + ix).cast("long")


def with_grid_cell(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat", level: int = DEFAULT_LEVEL, out: str = "cell") -> DataFrame:
    return df.withColumn(out, grid_cell_expr(lon_col, lat_col, level))


def grid_cell_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """The SAME cell assignment as ANSI SQL (DuckDB-oracle parity)."""
    nx, ny = C.grid_shape(level)
    ix = f"least({nx - 1}, greatest(0, cast(floor(({lon_expr} + 180.0) / 360.0 * {nx}) as bigint)))"
    iy = f"least({ny - 1}, greatest(0, cast(floor(({lat_expr} + 90.0) / 180.0 * {ny}) as bigint)))"
    return f"({iy} * {nx} + {ix})"


# ---------------------------------------------------------------------------
# polygon covers (driver-side; polygon sets are the small dim side)
# ---------------------------------------------------------------------------


_COVER_CACHE: "dict[tuple[str, int], pd.DataFrame]" = {}
_COVER_CACHE_MAX = 16  # small LRU — long-lived drivers must not pin covers


def _polys_fingerprint(polys: list[Polygon]) -> str:
    """Content hash of a polygon list (id + coords bytes) — cache key that
    neither pins the list nor aliases transient ids."""
    import hashlib

    h = hashlib.md5()
    for p in polys:
        h.update(np.int64(p.polygon_id).tobytes())
        h.update(np.ascontiguousarray(p.coords, dtype=np.float64).tobytes())
        h.update(np.ascontiguousarray(p.ring_offsets, dtype=np.int64).tobytes())
    return h.hexdigest()


def cover_cells_one(coords: np.ndarray, ring_offsets: np.ndarray, level: int) -> tuple[list[int], list[bool]]:
    """One polygon's exact cell cover: (cells, full-flags). ``full`` cells
    lie wholly inside the polygon (refine skippable). Runs anywhere —
    driver (small dim lists) or executors (stored polygon tables)."""
    bx0, by0, bx1, by1 = geo.polygon_bbox(coords)
    cells: list[int] = []
    fulls: list[bool] = []
    for cell in C.grid_cover_bbox(bx0, by0, bx1, by1, level):
        cx0, cy0, cx1, cy1 = C.grid_cell_bounds(cell, level)
        if not geo.box_intersects_polygon(cx0, cy0, cx1, cy1, coords, ring_offsets):
            continue
        corners_in = geo.points_in_polygon(
            np.array([cx0, cx1, cx1, cx0]), np.array([cy0, cy0, cy1, cy1]), coords, ring_offsets
        ).all()
        x1, y1, x2, y2 = geo.polygon_edges(coords, ring_offsets)
        edge_hits = geo.segments_intersect_box(x1, y1, x2, y2, cx0, cy0, cx1, cy1).any()
        cells.append(int(cell))
        fulls.append(bool(corners_in and not edge_hits))
    return cells, fulls


def polygon_cover_pdf(polys: list[Polygon], level: int = DEFAULT_LEVEL) -> pd.DataFrame:
    """(cell, polygon_id, full) rows: every grid cell whose box intersects
    the polygon; ``full`` marks cells wholly inside (refine skippable).
    Exactness: box-vs-polygon intersection test is exact (vertex-in-box,
    corner-in-polygon, edge-crosses-box), so the cover is a tight superset
    — never a false negative (SURVEY.md §4 two-phase contract).

    Memoized per (content fingerprint, level) in a small LRU, so repeated
    joins reuse the driver-side cover without leaking geometry for the
    process lifetime."""
    key = (_polys_fingerprint(polys), level)
    cached = _COVER_CACHE.get(key)
    if cached is not None:
        _COVER_CACHE[key] = _COVER_CACHE.pop(key)  # refresh LRU position
        return cached
    rows_cell, rows_pid, rows_full = [], [], []
    for p in polys:
        cells, fulls = cover_cells_one(p.coords, p.ring_offsets, level)
        rows_cell.extend(cells)
        rows_pid.extend([p.polygon_id] * len(cells))
        rows_full.extend(fulls)
    out = pd.DataFrame({"cell": np.asarray(rows_cell, dtype=np.int64), "polygon_id": np.asarray(rows_pid, dtype=np.int64), "full": rows_full})
    _COVER_CACHE[key] = out
    while len(_COVER_CACHE) > _COVER_CACHE_MAX:
        _COVER_CACHE.pop(next(iter(_COVER_CACHE)))
    return out


def _pip_refine(lon: np.ndarray, lat: np.ndarray, pid: np.ndarray, geoms: dict) -> np.ndarray:
    """The refine kernel of every PIP join over a polygon list: each
    (lon, lat) ray-crossing tested against polygon ``pid`` (``geoms``:
    polygon_id → (coords, ring_offsets)), one vectorized test per
    distinct id — a handful per batch, no per-row Python."""
    out = np.zeros(len(lon), dtype=bool)
    for p in np.unique(pid):
        m = pid == p
        out[m] = geo.points_in_polygon(lon[m], lat[m], *geoms[int(p)])
    return out


def _geoms(polys: list[Polygon]) -> dict:
    return {p.polygon_id: (p.coords, p.ring_offsets) for p in polys}


def pip_match_pdf(points: pd.DataFrame, polys: list[Polygon], level: int = DEFAULT_LEVEL) -> pd.DataFrame:
    """``spatial_join`` on the driver, for a pandas ``points`` frame with
    lon/lat columns: its rows joined to the polygons that contain them
    (a ``polygon_id`` column added; a point inside k polygons has k rows).
    Same cover, cell encoding and refine kernel as the Spark join."""
    cell = C.grid_encode(points["lon"].to_numpy(np.float64), points["lat"].to_numpy(np.float64), level)
    j = points.assign(cell=cell).merge(polygon_cover_pdf(polys, level), on="cell")
    full = j["full"].to_numpy(bool)
    keep = full.copy()
    keep[~full] = _pip_refine(
        j["lon"].to_numpy(np.float64)[~full],
        j["lat"].to_numpy(np.float64)[~full],
        j["polygon_id"].to_numpy(np.int64)[~full],
        _geoms(polys),
    )
    return j.loc[keep].drop(columns=["cell", "full"]).reset_index(drop=True)


# ---------------------------------------------------------------------------
# the joins
# ---------------------------------------------------------------------------


def _cover_join(pts: DataFrame, cells: DataFrame, on: list[str], broadcast: bool) -> DataFrame:
    """The coarse phase of every join here: points ⋈ candidate-cell rows
    on ``on``. ``broadcast`` ships the cell side to every executor (no
    shuffle); otherwise both sides shuffle and sort-merge (north_rule:
    "sort-merge for large range joins"; Catalyst cannot size a
    mapInPandas side, and unhinted it may broadcast the points)."""
    if broadcast:
        return pts.join(F.broadcast(cells), on, "inner")
    return pts.join(cells.hint("merge"), on, "inner")


def hot_cells(
    points_with_cell: DataFrame,
    threshold_fraction: float = 0.01,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> list[int]:
    """Cells holding more than ``threshold_fraction`` of all points — the
    explicit skew list. Skew detection needs only the heavy hitters, so
    by default it runs on a ``sample_fraction`` sample (cells above 1% of
    the data are found by a 5% sample with near-certainty) instead of two
    full-table passes; committed manifest cell histograms
    (sources/manifest.hot_cells_from_manifest) replace even that at scale."""
    src = points_with_cell.select("cell")
    if sample_fraction < 1.0:
        src = src.sample(False, sample_fraction, seed)
    src = src.cache()
    try:
        total = src.count()
        if total == 0:
            return []
        rows = (
            src.groupBy("cell").count()
            .where(F.col("count") > total * threshold_fraction)
            .collect()
        )
        return [r["cell"] for r in rows]
    finally:
        src.unpersist()


BROADCAST_COVER_MAX_ROWS = 1_000_000  # ~24 MB of (cell, pid, full) rows
SALT = 8  # reducers one hot cell's points spread over on the salted path


def spatial_join(
    points: DataFrame,
    polys: list[Polygon],
    strategy: str = "auto",
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    refine: bool = True,
    skew_cells: list[int] | None = None,
    manifest_root: str | None = None,
    manifest_op: str | None = None,
    point_key_col: str | None = None,
    broadcast_max_cover: int = BROADCAST_COVER_MAX_ROWS,
) -> DataFrame:
    """Tag each point with the ids of the polygons covering it: one
    (point columns..., polygon_id) row per match. ``refine=False`` is the
    LOOSE_BBOX fast path (cell-precision superset).

    ``strategy`` picks the physical join (~ GeoMesa's StrategyDecider,
    SURVEY.md §4.1):

    - 'broadcast' (~ ``GeoMesaSpark#shallowJoin``): the cover is broadcast
      and the join is shuffle-free;
    - 'salted' (~ ``GeoMesaJoinRelation``): both sides shuffle on
      (cell, salt) and sort-merge. Points in a hot cell get
      ``salt = pmod(xxhash64(key), SALT)`` (key: ``point_key_col``, else
      lon,lat), and the cover replicates hot-cell rows SALT times, so one
      hot city cell spreads over SALT reducers. The skew list comes from,
      in order: the caller, the table manifest's committed cell
      histograms (zero extra jobs), or a 5% sample (``hot_cells``);
    - 'auto': broadcast while the cover has at most
      ``broadcast_max_cover`` rows, else salted.

    Every strategy returns the same rows."""
    cover = polygon_cover_pdf(polys, level)
    if strategy == "auto":
        strategy = "broadcast" if len(cover) <= broadcast_max_cover else "salted"
    if strategy not in ("broadcast", "salted"):
        raise ValueError(f"unknown strategy {strategy!r}")
    covers = points.sparkSession.createDataFrame(cover)
    pts = with_grid_cell(points, lon_col, lat_col, level)
    on = ["cell"]
    if strategy != "broadcast":
        if skew_cells is None and manifest_root is not None:
            from geomesa_spark.sources.manifest import hot_cells_from_manifest

            skew_cells = hot_cells_from_manifest(manifest_root, manifest_op or "ingest")
        if skew_cells is None:
            skew_cells = hot_cells(pts)
        skew_arr = F.array(*[F.lit(c) for c in skew_cells]) if skew_cells else F.array().cast("array<long>")
        hot = F.array_contains(skew_arr, F.col("cell"))
        key = F.col(point_key_col) if point_key_col else F.concat_ws(",", F.col(lon_col), F.col(lat_col))
        pts = pts.withColumn("salt", F.when(hot, F.pmod(F.xxhash64(key), F.lit(SALT)).cast("int")).otherwise(F.lit(0)))
        salts = F.when(hot, F.array(*[F.lit(i) for i in range(SALT)])).otherwise(F.array(F.lit(0)))
        covers = covers.withColumn("salt", F.explode(salts))
        on = ["cell", "salt"]
    cand = _cover_join(pts, covers, on, strategy == "broadcast")
    if refine:
        geoms = _geoms(polys)

        @F.pandas_udf(BooleanType())
        def pip_refine(lon: pd.Series, lat: pd.Series, pid: pd.Series) -> pd.Series:
            return pd.Series(
                _pip_refine(lon.to_numpy(np.float64), lat.to_numpy(np.float64), pid.to_numpy(np.int64), geoms)
            )

        cand = cand.where(F.col("full") | pip_refine(F.col(lon_col), F.col(lat_col), F.col("polygon_id")))
    return cand.drop("full", "cell", "salt")


def _cell_disks(queries: pd.DataFrame, radius_m: float, metric: str, level: int) -> pd.DataFrame:
    """(cell, qid, q_lon, q_lat): each (qid, lon, lat) query's disk of
    grid cells reaching ``radius_m``, padded by one cell. Haversine radii
    are meters, the lon reach widened by 1/cos(lat); planar radii are
    degrees."""
    nx, ny = C.grid_shape(level)
    lon = queries["lon"].to_numpy(np.float64)
    lat = queries["lat"].to_numpy(np.float64)
    disks = []
    for qlat, center in zip(lat, C.grid_encode(lon, lat, level)):
        if metric == "planar":
            rx = int(radius_m / (360.0 / nx)) + 1
            ry = int(radius_m / (180.0 / ny)) + 1
        else:
            coslat = max(np.cos(np.radians(min(abs(qlat) + 180.0 / ny, 89.9))), 1e-6)
            rx = int(radius_m / (360.0 / nx * 111_194.93 * coslat)) + 1
            ry = int(radius_m / (180.0 / ny * 111_194.93)) + 1
        disks.append(C.grid_disk(int(center), max(rx, ry), level))
    n = [len(d) for d in disks]
    return pd.DataFrame(
        {
            "cell": np.asarray([c for d in disks for c in d], dtype=np.int64),
            "qid": np.repeat(queries["qid"].to_numpy(np.int64), n),
            "q_lon": np.repeat(lon, n),
            "q_lat": np.repeat(lat, n),
        }
    )


def distance_join(
    points: DataFrame,
    queries: pd.DataFrame | DataFrame,
    radius_m: float,
    metric: str = "haversine",
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
) -> DataFrame:
    """dwithin join: (point columns..., qid, q_lon, q_lat, distance) for
    every point within ``radius_m`` of a (qid, lon, lat) query
    (ProximitySearchProcess semantics). Cell-disk prefilter, then the
    exact distance as a Catalyst expression (JVM-side).

    A pandas ``queries`` frame is small: its cell disks are built on the
    driver and broadcast. A Spark DataFrame is big: its disks explode on
    executors (mapInPandas) and both sides sort-merge on cell.

    ``metric='haversine'``: radius in meters, output ``dist_m``.
    ``metric='planar'``: radius in DEGREES, output ``dist2`` (squared
    degrees) — exact float64 arithmetic, bit-reproducible in the DuckDB
    oracle (SURVEY.md §5.2).
    """
    if metric not in ("haversine", "planar"):
        raise ValueError(f"unknown metric {metric!r}")
    if isinstance(queries, pd.DataFrame):
        disks = points.sparkSession.createDataFrame(_cell_disks(queries, radius_m, metric, level))
    else:
        disks = queries.select("qid", "lon", "lat").mapInPandas(
            lambda batches: (_cell_disks(pdf, radius_m, metric, level) for pdf in batches),
            "cell long, qid long, q_lon double, q_lat double",
        )
    pts = with_grid_cell(points, lon_col, lat_col, level)
    joined = _cover_join(pts, disks, ["cell"], isinstance(queries, pd.DataFrame))
    if metric == "planar":
        from geomesa_spark.operators.knn import planar_dist2_expr

        dist = planar_dist2_expr("q_lon", "q_lat", lon_col, lat_col)
        return joined.withColumn("dist2", dist).where(F.col("dist2") <= radius_m * radius_m).drop("cell")
    dist = haversine_expr(lon_col, lat_col, "q_lon", "q_lat")
    return joined.withColumn("dist_m", dist).where(F.col("dist_m") <= radius_m).drop("cell")


def haversine_expr(lon1: str, lat1: str, lon2: str, lat2: str):
    """Haversine distance (meters) as a pure Catalyst expression."""
    r = F.lit(geo.EARTH_RADIUS_M)
    la1, la2 = F.radians(F.col(lat1)), F.radians(F.col(lat2))
    dlat = la2 - la1
    dlon = F.radians(F.col(lon2)) - F.radians(F.col(lon1))
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(la1) * F.cos(la2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0) * r * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


# ---------------------------------------------------------------------------
# stored polygon tables (XZ2-style extents indexing, SURVEY.md §1.1):
# the polygon side is a big DataFrame, covers are computed DISTRIBUTED
# ---------------------------------------------------------------------------


def with_cover_cells(
    poly_df: DataFrame,
    level: int = DEFAULT_LEVEL,
    wkt_col: str = "wkt",
    id_col: str = "polygon_id",
) -> DataFrame:
    """Explode a polygon table into its cell-cover index rows
    (polygon_id, cell, full, wkt) — the XZ2-extents analog. The cover for
    each polygon is computed ON EXECUTORS via mapInPandas, so million-row
    polygon tables never funnel through the driver; persist the result as
    the stored index (manifest tables carry it as a partition column)."""
    schema = f"{id_col} long, cell long, full boolean, {wkt_col} string"

    def gen(batches):
        from geomesa_spark.functions import geometry as geo_x

        for pdf in batches:
            out_pid, out_cell, out_full, out_wkt = [], [], [], []
            for pid, wkt in zip(pdf[id_col], pdf[wkt_col]):
                if wkt is None:
                    continue
                try:
                    _kind, coords, offs = geo_x.parse_wkt(wkt)
                except ValueError:
                    continue
                cells, fulls = cover_cells_one(coords, offs, level)
                out_pid.extend([int(pid)] * len(cells))
                out_cell.extend(cells)
                out_full.extend(fulls)
                out_wkt.extend([wkt] * len(cells))
            yield pd.DataFrame({id_col: out_pid, "cell": out_cell, "full": out_full, wkt_col: out_wkt})

    return poly_df.select(id_col, wkt_col).mapInPandas(gen, schema)


def pip_join_stored(
    points: DataFrame,
    poly_df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    refine: bool = True,
    wkt_col: str = "wkt",
    id_col: str = "polygon_id",
    covers: DataFrame | None = None,
) -> DataFrame:
    """PIP join where the polygon side is a *stored table* (big×big):
    cover cells computed distributed (``with_cover_cells`` — pass
    ``covers`` to reuse a persisted index), the sort-merge cell join,
    then the WKT-batch PIP refine. This is the path that lets polygon
    tables be the FACT side; the driver never materializes a cover."""
    if covers is None:
        covers = with_cover_cells(poly_df, level, wkt_col, id_col)
    cand = _cover_join(with_grid_cell(points, lon_col, lat_col, level), covers, ["cell"], broadcast=False)
    if refine:
        from geomesa_spark.functions.st_functions import st_containsPoint

        cand = cand.where(F.col("full") | st_containsPoint(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    return cand.drop("full", "cell", wkt_col)
