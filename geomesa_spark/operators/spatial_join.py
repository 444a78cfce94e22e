"""Spatial joins — the engine's core operator (SURVEY.md §2.4).

From-scratch Spark-first re-expression of GeoMesa's spatial join surface:

- ``broadcast_pip_join``  ~ ``GeoMesaSpark#shallowJoin`` (broadcast small
  polygon set; north_rule: "broadcast of small polygon sets")
- ``grid_pip_join``       ~ ``GeoMesaJoinRelation`` + ``RelationUtils#
  gridPartition`` (grid-partitioned join for big x big; sort-merge /
  shuffle-hash on cell, with explicit salting of hot cells per north_rule)
- ``distance_join``       ~ ``ProximitySearchProcess`` (dwithin semantics)

Design (two-phase, SURVEY.md §4):
1. COARSE: polygons → grid-cell covers (driver-side numpy, exact
   box-vs-polygon test, cells marked *full* when the cell box lies entirely
   inside the polygon); points → cell via a pure Catalyst expression
   (floor arithmetic — whole-stage-codegen, no UDF). Equi-join on cell.
2. REFINE: candidates in non-*full* cells run the vectorized numpy
   ray-crossing PIP in an Arrow-batched pandas UDF, grouped by polygon id
   inside each batch. *full* cells skip refinement entirely (the analog of
   GeoMesa's LOOSE_BBOX fast path is ``refine=False``).

At 100 TB scale the coarse join is the only shuffle (and broadcast joins
have none); the refine UDF is a narrow map. Hot cells (20% of web-page
geo-mentions hit 3 cities — FIXTURES.md §1) are salted explicitly in
``grid_pip_join``; AQE skew handling stays on as a backstop.
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


def make_pip_refine(polys: list[Polygon]):
    """Arrow-batched pandas UDF (lon, lat, polygon_id) → bool.

    Batches are grouped by polygon id inside numpy (a handful of unique
    ids per batch), each group refined with the vectorized ray-crossing
    test — no per-row Python."""
    geoms = {p.polygon_id: (p.coords, p.ring_offsets) for p in polys}

    @F.pandas_udf(BooleanType())
    def pip_refine(lon: pd.Series, lat: pd.Series, pid: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(dtype=np.float64)
        lat_v = lat.to_numpy(dtype=np.float64)
        pid_v = pid.to_numpy(dtype=np.int64)
        out = np.zeros(len(lon_v), dtype=bool)
        for p in np.unique(pid_v):
            m = pid_v == p
            coords, offs = geoms[int(p)]
            out[m] = geo.points_in_polygon(lon_v[m], lat_v[m], coords, offs)
        return pd.Series(out)

    return pip_refine


# ---------------------------------------------------------------------------
# the joins
# ---------------------------------------------------------------------------


def broadcast_pip_join(
    points: DataFrame,
    polys: list[Polygon],
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    how: str = "inner",
    refine: bool = True,
    point_key=None,
) -> DataFrame:
    """Tag each point with the ids of covering polygons.

    ``how``: 'inner' (point x polygon match rows), 'left_semi' (points with
    ≥1 covering polygon), 'left_anti' (points with none). ``refine=False``
    is the LOOSE_BBOX fast path (cell-precision superset).
    The polygon side is broadcast — the join is shuffle-free.
    """
    spark = points.sparkSession
    covers = spark.createDataFrame(polygon_cover_pdf(polys, level))
    pts = with_grid_cell(points, lon_col, lat_col, level)
    cand = pts.join(F.broadcast(covers), "cell", "inner")
    if refine:
        pip = make_pip_refine(polys)
        matched = cand.where(F.col("full") | pip(F.col(lon_col), F.col(lat_col), F.col("polygon_id")))
    else:
        matched = cand
    matched = matched.drop("full", "cell")
    if how == "inner":
        return matched
    keys = point_key if point_key is not None else [c for c in points.columns]
    if how == "left_semi":
        return points.join(matched.select(*keys).distinct(), keys, "left_semi")
    if how == "left_anti":
        return points.join(matched.select(*keys).distinct(), keys, "left_anti")
    raise ValueError(f"unsupported how={how}")


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


def grid_pip_join(
    points: DataFrame,
    polys: list[Polygon],
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    refine: bool = True,
    salt: int = 8,
    skew_cells: list[int] | None = None,
    point_key_col: str | None = None,
    strategy: str = "merge",
) -> DataFrame:
    """Grid-partitioned big x big spatial join with EXPLICIT hot-cell
    salting (north_rule). Both sides shuffle on (cell, salt):

    - points in a hot cell get ``salt = pmod(xxhash64(key), s)`` — spreads
      one hot city cell over s reducers;
    - the cover side replicates hot-cell rows s times (explode), others
      carry salt 0.

    ``strategy='merge'`` hints sort-merge (north_rule: "sort-merge for
    large range joins"); 'shuffle_hash' is available when the build side
    fits. Output is identical to ``broadcast_pip_join`` (test-asserted
    with salting on/off)."""
    spark = points.sparkSession
    cover_pdf = polygon_cover_pdf(polys, level)
    covers = spark.createDataFrame(cover_pdf)
    pts = with_grid_cell(points, lon_col, lat_col, level)

    if skew_cells is None:
        skew_cells = hot_cells(pts)
    skew_arr = F.array(*[F.lit(c) for c in skew_cells]) if skew_cells else F.array().cast("array<long>")

    key = F.col(point_key_col) if point_key_col else F.concat_ws(",", F.col(lon_col), F.col(lat_col))
    pts = pts.withColumn(
        "salt",
        F.when(F.array_contains(skew_arr, F.col("cell")), F.pmod(F.xxhash64(key), F.lit(salt)).cast("int")).otherwise(F.lit(0)),
    )
    covers = (
        covers.withColumn(
            "salts",
            F.when(
                F.array_contains(skew_arr, F.col("cell")),
                F.array(*[F.lit(i) for i in range(salt)]),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("salt", F.explode("salts"))
        .drop("salts")
    )
    cand = pts.hint(strategy).join(covers, ["cell", "salt"], "inner")
    if refine:
        pip = make_pip_refine(polys)
        cand = cand.where(F.col("full") | pip(F.col(lon_col), F.col(lat_col), F.col("polygon_id")))
    return cand.drop("full", "cell", "salt")


BROADCAST_COVER_MAX_ROWS = 1_000_000  # ~24 MB of (cell, pid, full) rows


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
    """Cost-based PIP-join entry point (~ GeoMesa's StrategyDecider,
    SURVEY.md §4.1): pick the physical strategy from the cover size and
    feed the salted path its skew list WITHOUT extra scans.

    - cover rows ≤ ``broadcast_max_cover`` → ``broadcast_pip_join``
      (shuffle-free; the cover is comfortably an executor broadcast);
    - else → ``grid_pip_join`` (salted SMJ). The skew list comes from, in
      order: the caller, the table manifest's committed cell histograms
      (zero extra jobs), or a 5% sample (``hot_cells``).
    """
    cover = polygon_cover_pdf(polys, level)
    if strategy == "auto":
        strategy = "broadcast" if len(cover) <= broadcast_max_cover else "salted"
    if strategy == "broadcast":
        return broadcast_pip_join(points, polys, lon_col, lat_col, level, refine=refine)
    if skew_cells is None and manifest_root is not None:
        from geomesa_spark.sources.manifest import hot_cells_from_manifest

        skew_cells = hot_cells_from_manifest(manifest_root, manifest_op or "ingest")
    return grid_pip_join(
        points,
        polys,
        lon_col,
        lat_col,
        level,
        refine=refine,
        skew_cells=skew_cells,
        point_key_col=point_key_col,
    )


def distance_join(
    points: DataFrame,
    queries_pdf: pd.DataFrame,
    radius_m: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    metric: str = "haversine",
) -> DataFrame:
    """dwithin join: points within radius of any query point
    (ProximitySearchProcess semantics). queries_pdf: (qid, lon, lat) —
    small, broadcast. Cell-disk prefilter + exact distance (Catalyst
    expression, JVM-side).

    ``metric='haversine'``: radius in meters, output ``dist_m``.
    ``metric='planar'``: radius in DEGREES, output ``dist2`` (squared
    degrees) — exact float64 arithmetic, bit-reproducible in the DuckDB
    oracle (SURVEY.md §5.2).
    """
    spark = points.sparkSession
    nx, ny = C.grid_shape(level)
    if metric == "planar":
        radius_m_equiv = radius_m * 111_194.93  # degrees → meters for cell sizing
    else:
        radius_m_equiv = radius_m
    cell_h_m = 180.0 / ny * 111_194.93
    rows = []
    for q in queries_pdf.itertuples(index=False):
        # radius in cells, padded by one; lon width shrinks by cos(lat)
        coslat = max(np.cos(np.radians(min(abs(q.lat) + 180.0 / ny, 89.9))), 1e-6)
        if metric == "planar":
            rx = int(radius_m / (360.0 / nx)) + 1
            ry = int(radius_m / (180.0 / ny)) + 1
        else:
            rx = int(radius_m_equiv / (360.0 / nx * 111_194.93 * coslat)) + 1
            ry = int(radius_m_equiv / cell_h_m) + 1
        center = int(C.grid_encode(np.array([q.lon]), np.array([q.lat]), level)[0])
        for cell in C.grid_disk(center, max(rx, ry), level):
            rows.append((int(cell), q.qid, float(q.lon), float(q.lat)))
    cand_cells = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "qid", "q_lon", "q_lat"]))
    pts = with_grid_cell(points, lon_col, lat_col, level)
    joined = pts.join(F.broadcast(cand_cells), "cell", "inner")
    if metric == "planar":
        from geomesa_spark.operators.knn import planar_dist2_expr

        dist = planar_dist2_expr("q_lon", "q_lat", lon_col, lat_col)
        return joined.withColumn("dist2", dist).where(F.col("dist2") <= radius_m * radius_m).drop("cell")
    dist = haversine_expr(lon_col, lat_col, "q_lon", "q_lat")
    return joined.withColumn("dist_m", dist).where(F.col("dist_m") <= radius_m).drop("cell")


def distance_join_stored(
    points: DataFrame,
    queries: DataFrame,
    radius_deg: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = DEFAULT_LEVEL,
    strategy: str = "merge",
) -> DataFrame:
    """dwithin join where the QUERY side is a big stored table (planar
    metric): each query row's cell disk explodes ON EXECUTORS
    (mapInPandas), both sides shuffle on cell (sort-merge by default —
    same stats-blindness rationale as ``pip_join_stored``), exact
    distance refines. ``distance_join`` keeps the broadcast path for
    small driver-side query sets; this is the big×big twin.

    queries: DataFrame(qid, lon, lat)."""
    nx, ny = C.grid_shape(level)
    rx = int(radius_deg / (360.0 / nx)) + 1
    ry = int(radius_deg / (180.0 / ny)) + 1
    r_cells = max(rx, ry)

    def explode_disks(batches):
        for pdf in batches:
            out_cell, out_qid, out_lon, out_lat = [], [], [], []
            centers = C.grid_encode(pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64), level)
            for qid, qlon, qlat, center in zip(pdf["qid"], pdf["lon"], pdf["lat"], centers):
                disk = C.grid_disk(int(center), r_cells, level)
                out_cell.extend(int(c) for c in disk)
                out_qid.extend([int(qid)] * len(disk))
                out_lon.extend([float(qlon)] * len(disk))
                out_lat.extend([float(qlat)] * len(disk))
            yield pd.DataFrame({"cell": out_cell, "qid": out_qid, "q_lon": out_lon, "q_lat": out_lat})

    cand_cells = queries.select("qid", "lon", "lat").mapInPandas(
        explode_disks, "cell long, qid long, q_lon double, q_lat double"
    )
    pts = with_grid_cell(points, lon_col, lat_col, level)
    if strategy == "broadcast":
        joined = pts.join(F.broadcast(cand_cells), "cell", "inner")
    else:
        joined = pts.join(cand_cells.hint(strategy), "cell", "inner")
    dx = F.col(lon_col) - F.col("q_lon")
    dy = F.col(lat_col) - F.col("q_lat")
    return (
        joined.withColumn("dist2", dx * dx + dy * dy)
        .where(F.col("dist2") <= radius_deg * radius_deg)
        .drop("cell")
    )


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
    strategy: str = "merge",
) -> DataFrame:
    """PIP join where the polygon side is a *stored table* (big×big):
    cover cells computed distributed (``with_cover_cells`` — pass
    ``covers`` to reuse a persisted index), cell equi-join, then the
    WKT-batch PIP refine. This is the path that lets polygon tables be
    the FACT side; the driver never materializes a cover.

    ``strategy='merge'`` (default) pins sort-merge: both sides are big by
    assumption, and Catalyst cannot estimate the mapInPandas cover's size
    (without the hint it may broadcast the POINTS side — fatal at scale).
    Pass ``strategy='broadcast'`` only for known-small cover indexes."""
    if covers is None:
        covers = with_cover_cells(poly_df, level, wkt_col, id_col)
    pts = with_grid_cell(points, lon_col, lat_col, level)
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(covers), "cell", "inner")
    else:
        cand = pts.join(covers.hint(strategy), "cell", "inner")
    if refine:
        from geomesa_spark.functions.st_functions import st_containsPoint

        cand = cand.where(F.col("full") | st_containsPoint(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    return cand.drop("full", "cell", wkt_col)
