"""Spatial-join tests: row-for-row vs the exhaustive numpy oracle,
salting invariance, semi/anti flavors, loose-bbox superset, dwithin."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators import spatial_join as sj
from geomesa_spark.sources import synth
from tests.oracle import brute_dwithin, brute_pip_join

N = 20_000


@pytest.fixture(scope="module")
def points_pdf():
    ids = np.arange(N, dtype=np.uint64)
    lon = -180.0 + (synth.hash64(ids).astype(np.float64) / 2.0**64) * 360.0
    lat = -90.0 + (synth.hash64(ids + np.uint64(99)).astype(np.float64) / 2.0**64) * 180.0
    # drop 30% of points near a hot city to force a hot cell
    hot = synth.HOT_CITIES[0]
    m = ids % np.uint64(10) < np.uint64(3)
    lon[m] = hot[1] + (synth.hash64(ids[m] + np.uint64(5)).astype(np.float64) / 2.0**64 - 0.5) * 0.5
    lat[m] = hot[2] + (synth.hash64(ids[m] + np.uint64(6)).astype(np.float64) / 2.0**64 - 0.5) * 0.5
    return pd.DataFrame({"pid": ids.astype(np.int64), "lon": lon, "lat": lat})


@pytest.fixture(scope="module")
def points_df(spark, points_pdf):
    df = spark.createDataFrame(points_pdf).repartition(8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def polys():
    return synth.polygons()


@pytest.fixture(scope="module")
def oracle_pairs(points_pdf, polys):
    return brute_pip_join(points_pdf.set_index("pid"), polys)


def _pairs(df):
    return set((r["pid"], r["polygon_id"]) for r in df.select("pid", "polygon_id").collect())


def test_spatial_join_broadcast_matches_oracle(points_df, polys, oracle_pairs):
    got = _pairs(sj.spatial_join(points_df, polys, strategy="broadcast"))
    assert got == oracle_pairs


def test_pip_match_pdf_matches_spatial_join(points_df, points_pdf, polys, oracle_pairs):
    """The driver-side join (hot cell included) returns the Spark
    broadcast join's rows and the brute-force oracle's pairs."""
    got = sj.pip_match_pdf(points_pdf, polys, level=8)
    pairs = list(zip(got["pid"], got["polygon_id"]))
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == oracle_pairs
    assert set(pairs) == _pairs(sj.spatial_join(points_df, polys, strategy="broadcast"))
    assert list(got.columns) == ["pid", "lon", "lat", "polygon_id"]


def test_cover_full_cells_short_circuit(polys):
    cover = sj.polygon_cover_pdf(polys, level=8)
    # big grid boxes must contain some fully-inside cells (refine skipped)
    assert cover["full"].sum() > 100
    assert not cover.duplicated(["cell", "polygon_id"]).any()


def test_spatial_join_salted_matches_broadcast(points_df, polys, oracle_pairs):
    got = _pairs(sj.spatial_join(points_df, polys, strategy="salted", point_key_col="pid"))
    assert got == oracle_pairs
    # and with salting forced off
    got_nosalt = _pairs(sj.spatial_join(points_df, polys, strategy="salted", skew_cells=[], point_key_col="pid"))
    assert got_nosalt == oracle_pairs


def test_hot_cells_detected(points_df, polys):
    pts = sj.with_grid_cell(points_df)
    hot = sj.hot_cells(pts, threshold_fraction=0.05)
    assert len(hot) >= 1  # the alphaville cell concentration


def test_semi_anti(points_df, polys, points_pdf, oracle_pairs):
    covered_pids = {p for p, _ in oracle_pairs}
    matched = sj.spatial_join(points_df, polys, strategy="broadcast").select("pid").distinct()
    semi = points_df.join(matched, "pid", "left_semi")
    anti = points_df.join(matched, "pid", "left_anti")
    semi_ids = {r["pid"] for r in semi.select("pid").collect()}
    anti_ids = {r["pid"] for r in anti.select("pid").collect()}
    assert semi_ids == covered_pids
    assert anti_ids == set(points_pdf["pid"]) - covered_pids
    assert len(semi_ids) + len(anti_ids) == N


def test_loose_bbox_superset(points_df, polys, oracle_pairs):
    loose = _pairs(sj.spatial_join(points_df, polys, strategy="broadcast", refine=False))
    assert loose >= oracle_pairs


def test_distance_join_matches_oracle(points_df, points_pdf):
    queries = pd.DataFrame(
        {"qid": [0, 1, 2], "lon": [2.351, -74.006, 100.0], "lat": [48.857, 40.713, -20.0]}
    )
    got = set(
        (r["qid"], r["pid"])
        for r in sj.distance_join(points_df, queries, radius_m=200_000.0).select("qid", "pid").collect()
    )
    want = brute_dwithin(points_pdf, queries, 200_000.0)
    assert got == want


def test_broadcast_join_plan_is_broadcast_and_pushes_filters(points_df, polys):
    plan = sj.spatial_join(points_df, polys, strategy="broadcast")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_spatial_join_auto_strategy_flips_on_cover_size(points_df, polys, oracle_pairs):
    # small cover → broadcast plan
    auto = sj.spatial_join(points_df, polys, strategy="auto")
    plan_b = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    # force the salted SMJ path by shrinking the broadcast budget
    salted = sj.spatial_join(
        points_df, polys, strategy="auto", broadcast_max_cover=1, point_key_col="pid"
    )
    plan_s = salted._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_s and "BroadcastHashJoin" not in plan_s.split("SortMergeJoin")[0]
    # both strategies produce identical pairs
    assert _pairs(auto) == oracle_pairs
    assert _pairs(salted) == oracle_pairs


def test_unknown_strategy_and_metric_raise(points_df, polys):
    with pytest.raises(ValueError):
        sj.spatial_join(points_df, polys, strategy="merge")
    with pytest.raises(ValueError):
        sj.distance_join(points_df, pd.DataFrame({"qid": [0], "lon": [0.0], "lat": [0.0]}), 1.0, metric="euclid")


def test_hot_cells_sampled_matches_full(points_df):
    pts = sj.with_grid_cell(points_df)
    full = set(sj.hot_cells(pts, threshold_fraction=0.05, sample_fraction=1.0))
    sampled = set(sj.hot_cells(pts, threshold_fraction=0.05, sample_fraction=0.05))
    # the 30%-concentration hot cell must be found by the 5% sample
    assert full and full <= sampled


def test_pip_join_stored_skips_malformed_and_null_wkt(spark, points_df, polys, oracle_pairs):
    """A polygon table row whose WKT does not parse (or is null) covers
    nothing: the stored-table join returns exactly the rows it returns
    without that row, which are the oracle's pairs."""
    from geomesa_spark.functions import geometry as geo

    rows = [(p.polygon_id, geo.wkt_polygon_exact(p.coords, p.ring_offsets)) for p in polys]
    schema = "polygon_id long, wkt string"
    clean = _pairs(sj.pip_join_stored(points_df, spark.createDataFrame(rows, schema)))
    bad = rows + [(10**6, "POLYGON ((0 0, 10 0, ten ten, 0 0))"), (10**6 + 1, None)]
    dirty = _pairs(sj.pip_join_stored(points_df, spark.createDataFrame(bad, schema)))
    assert clean == oracle_pairs
    assert dirty == clean
