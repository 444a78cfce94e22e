"""Tiling / raster tests (SURVEY.md §2.8): tile assignment vs numpy
brute force, pyramid rollup conservation, mosaic pointwise goldens
(analytic ripple fixture), resolution selection, zonal stats."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geomesa_spark.operators import tiling as T
from geomesa_spark.operators.spatial_join import spatial_join
from geomesa_spark.sources import synth
from tests.oracle import brute_pip_join


@pytest.fixture(scope="module")
def points_pdf():
    i = np.arange(4000, dtype=np.uint64)
    return pd.DataFrame(
        {
            "pid": i.astype(np.int64),
            "lon": synth._uniform(i, -179.9, 179.9),
            "lat": synth._uniform(i + np.uint64(11), -84.9, 84.9),
            "val": synth._uniform(i + np.uint64(17), 0.0, 100.0),
        }
    )


def _brute_tiles(pdf, zoom, scheme):
    n = 1 << zoom
    tx = np.clip(np.floor((pdf["lon"].to_numpy() + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    if scheme == "equirect":
        raw = (90.0 - pdf["lat"].to_numpy()) / 180.0 * n
    else:
        lat = np.clip(pdf["lat"].to_numpy(), -T.WEBMERC_MAX_LAT, T.WEBMERC_MAX_LAT)
        phi = np.radians(lat)
        raw = (1.0 - np.log(np.tan(np.pi / 4.0 + phi / 2.0)) / np.pi) / 2.0 * n
    ty = np.clip(np.floor(raw), 0, n - 1).astype(np.int64)
    return tx, ty


@pytest.mark.parametrize("scheme", ["equirect", "webmercator"])
def test_tile_assignment_matches_brute(spark, points_pdf, scheme):
    zoom = 6
    df = T.with_tile(spark.createDataFrame(points_pdf), zoom=zoom, scheme=scheme)
    got = df.select("pid", "tile_x", "tile_y").toPandas().sort_values("pid").reset_index(drop=True)
    tx, ty = _brute_tiles(points_pdf, zoom, scheme)
    assert (got["tile_x"].to_numpy() == tx).all()
    assert (got["tile_y"].to_numpy() == ty).all()


def test_rollup_conserves_weight(spark, points_pdf):
    t6 = T.tile_counts(spark.createDataFrame(points_pdf), zoom=6, scheme="equirect")
    t4 = T.rollup_tiles(t6, levels=2)
    total6 = t6.agg(F.sum("weight")).collect()[0][0]
    total4 = t4.agg(F.sum("weight")).collect()[0][0]
    assert total6 == total4 == len(points_pdf)
    # parent coordinates are child >> 2
    j = (
        t6.withColumn("px", F.shiftright("tile_x", 2)).withColumn("py", F.shiftright("tile_y", 2))
        .groupBy("px", "py").agg(F.sum("weight").alias("w"))
        .join(t4, (F.col("px") == t4.tile_x) & (F.col("py") == t4.tile_y))
        .where(F.col("w") != F.col("weight"))
    )
    assert j.count() == 0


def test_mosaic_pointwise_golden(spark):
    chips = spark.createDataFrame(T.chips_pdf(zooms=(5,), lon_range=(-20.0, 20.0), lat_range=(-15.0, 15.0)))
    grid = T.mosaic(chips, -10.0, -8.0, 10.0, 8.0, zoom=5)
    assert grid.size > 0 and not np.isnan(grid).all()
    # every chip pixel equals the analytic ripple at its center coordinates
    sel = T.raster_query(chips, -10.0, -8.0, 10.0, 8.0, 5).collect()
    txs = sorted({r["tile_x"] for r in sel})
    tys = sorted({r["tile_y"] for r in sel})
    tx0, ty0 = min(txs), min(tys)
    for r in sel[:4]:
        lo, la, hi, ha = T.tile_bounds(r["tile_x"], r["tile_y"], 5)
        xs = lo + (np.arange(T.CHIP_W) + 0.5) / T.CHIP_W * (hi - lo)
        ys = ha - (np.arange(T.CHIP_H) + 0.5) / T.CHIP_H * (ha - la)
        expect = T._ripple(xs[None, :], ys[:, None]).astype(np.float32)
        y0 = (r["tile_y"] - ty0) * T.CHIP_H
        x0 = (r["tile_x"] - tx0) * T.CHIP_W
        np.testing.assert_array_equal(grid[y0:y0 + T.CHIP_H, x0:x0 + T.CHIP_W], expect)


def test_pick_zoom():
    avail = [5, 7, 9]
    fine = 180.0 / (1 << 9) / T.CHIP_H
    coarse = 180.0 / (1 << 5) / T.CHIP_H
    assert T.pick_zoom(avail, fine) == 9
    assert T.pick_zoom(avail, coarse) == 5
    assert T.pick_zoom(avail, coarse * 10) == 5  # coarser than available → coarsest
    assert T.pick_zoom(avail, (180.0 / (1 << 7) / T.CHIP_H)) == 7


def test_zonal_stats_matches_brute(spark, points_pdf):
    polys = synth.polygons()
    pts = spark.createDataFrame(points_pdf)
    joined = spatial_join(pts, polys, strategy="broadcast", level=8)
    zs = T.zonal_stats(joined, value_col="val").toPandas()
    brute = brute_pip_join(points_pdf.set_index("pid"), polys)
    import collections

    counts = collections.Counter(pid for _, pid in brute)
    assert dict(zip(zs["polygon_id"], zs["n"])) == dict(counts)
    # spot-check a mean
    if len(zs):
        p0 = int(zs["polygon_id"].iloc[0])
        keys = [k for k, pid in brute if pid == p0]
        expect = points_pdf.set_index("pid").loc[keys, "val"].mean()
        got = float(zs[zs["polygon_id"] == p0]["mean"].iloc[0])
        assert got == pytest.approx(expect)


def test_mosaic_requests_distributed_matches_single(spark):
    chips = spark.createDataFrame(T.chips_pdf(zooms=(5, 7), lon_range=(-20.0, 20.0), lat_range=(-15.0, 15.0)))
    reqs = pd.DataFrame(
        {
            "request_id": [0, 1, 2],
            "min_lon": [-10.0, 0.0, -18.0],
            "min_lat": [-8.0, -5.0, 2.0],
            "max_lon": [10.0, 15.0, -2.0],
            "max_lat": [8.0, 10.0, 12.0],
            "zoom": [5, 7, 7],
        }
    )
    out = {r["request_id"]: r for r in T.mosaic_requests(chips, spark.createDataFrame(reqs)).collect()}
    assert set(out) == {0, 1, 2}
    for req in reqs.itertuples(index=False):
        single = T.mosaic(chips, req.min_lon, req.min_lat, req.max_lon, req.max_lat, req.zoom)
        r = out[req.request_id]
        got = np.frombuffer(r["grid"], dtype="<f4").reshape(r["height"], r["width"])
        np.testing.assert_array_equal(got, single)


def test_mosaic_path_has_no_driver_collect():
    import inspect

    src = inspect.getsource(T.mosaic_requests) + inspect.getsource(T._stitch_group)
    assert ".collect()" not in src  # the stitch is executor-side (applyInPandas)


def test_chips_df_matches_chips_pdf(spark):
    want = T.chips_pdf(zooms=(5,), lon_range=(-10.0, 10.0), lat_range=(-8.0, 8.0))
    got = (
        T.chips_df(spark, zooms=(5,), lon_range=(-10.0, 10.0), lat_range=(-8.0, 8.0))
        .toPandas()
        .sort_values("tile_id")
        .reset_index(drop=True)
    )
    want = want.sort_values("tile_id").reset_index(drop=True)
    assert list(got["tile_id"]) == list(want["tile_id"])
    for a, b in zip(got["band"], want["band"]):
        assert bytes(a) == bytes(b)
