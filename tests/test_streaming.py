"""Structured-Streaming tests (SURVEY.md §2.9, FIXTURES.md §9):
micro-batched pages stream → dedupe live view, stream-static gazetteer
join + windowed cell counts, foreachBatch → manifest ingest with
restart idempotence."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geomesa_spark.sources import manifest as M
from geomesa_spark.sources import synth
from geomesa_spark.streaming import live

N_BATCHES = 5
PAGES_PER_BATCH = 60


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """Micro-batch directories with duplicate urls across batches:
    batch k re-emits the last 10 doc_ids of batch k-1 (redelivery)."""
    d = str(tmp_path_factory.mktemp("pages_stream"))
    for k in range(N_BATCHES):
        start = k * PAGES_PER_BATCH
        ids = np.arange(start, start + PAGES_PER_BATCH, dtype=np.uint64)
        if k > 0:
            dup = np.arange(start - 10, start, dtype=np.uint64)
            ids = np.concatenate([dup, ids])
        pdf = synth.pages_pdf(ids)
        pdf.to_parquet(os.path.join(d, f"batch-{k:03d}.parquet"), index=False)
    return d


def _run_stream(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_live_view_dedupes_redeliveries(spark, stream_dir):
    stream = live.read_pages_stream(spark, stream_dir)
    q = _run_stream(live.live_view(stream, ttl="365 days"), "live_view_t")
    out = spark.sql("select * from live_view_t").toPandas()
    total = N_BATCHES * PAGES_PER_BATCH
    assert len(out) == total  # redelivered urls dropped
    assert out["url"].nunique() == total
    q.stop()


def test_replay_window(spark, stream_dir):
    full = live.replay(spark, stream_dir, "2025-01-01", "2026-01-01").toPandas()
    t1, t2 = "2025-03-01", "2025-06-01"
    part = live.replay(spark, stream_dir, t1, t2).toPandas()
    expect = full[(full["warc_ts"] >= pd.Timestamp(t1)) & (full["warc_ts"] <= pd.Timestamp(t2))]
    assert sorted(part["url"]) == sorted(expect["url"])
    assert 0 < len(part) < len(full)


def test_windowed_cell_counts_stream_static_join(spark, stream_dir):
    """Stream-static join: pages stream → explode entities (batch-identical
    extraction UDF) → broadcast gazetteer geocode → windowed cell counts."""
    stream = live.read_pages_stream(spark, stream_dir)
    gaz = F.broadcast(
        spark.createDataFrame(synth.gazetteer_pdf()).withColumnRenamed("name", "entity")
    )
    ents = (
        stream.withColumn(
            "entity",
            F.explode(F.expr(r"regexp_extract_all(cast(html as string), 'data-name=\"([^\"]+)\"', 1)")),
        )
        .join(gaz, "entity")
    )
    counted = live.windowed_cell_counts(ents, window="7 days", level=6, watermark="365 days")
    q = _run_stream(counted, "cell_counts_t", mode="complete")
    out = spark.sql("select * from cell_counts_t").toPandas()
    q.stop()

    # batch oracle: same pipeline, batch read
    batch = spark.read.schema(live.PAGES_SCHEMA).parquet(stream_dir)
    b_ents = (
        batch.withColumn(
            "entity",
            F.explode(F.expr(r"regexp_extract_all(cast(html as string), 'data-name=\"([^\"]+)\"', 1)")),
        )
        .join(gaz, "entity")
    )
    from geomesa_spark.operators.spatial_join import grid_cell_expr

    b = (
        b_ents.withColumn("cell", grid_cell_expr("lon", "lat", 6))
        .groupBy(F.window("warc_ts", "7 days").alias("win"), "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "cell", "n")
        .toPandas()
    )
    a = out[["win_start", "cell", "n"]].sort_values(["win_start", "cell"]).reset_index(drop=True)
    b = b.sort_values(["win_start", "cell"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_stream_to_table_commits_and_restart_is_idempotent(spark, stream_dir, tmp_path):
    root = str(tmp_path / "stream_tbl")
    stream = live.read_pages_stream(spark, stream_dir)
    q = live.stream_to_table(stream.select("url", "warc_ts", "lang"), root, "pages")
    q.awaitTermination(120)
    q.stop()
    parts1 = M.completed_partitions(root, "pages")
    assert len(parts1) == N_BATCHES
    rows1 = M.read_table(spark, root, "pages").count()
    assert rows1 == N_BATCHES * PAGES_PER_BATCH + (N_BATCHES - 1) * 10

    # restart with same checkpoint: no new input → no duplicate commits
    stream2 = live.read_pages_stream(spark, stream_dir)
    q2 = live.stream_to_table(stream2.select("url", "warc_ts", "lang"), root, "pages")
    q2.awaitTermination(60)
    q2.stop()
    assert M.completed_partitions(root, "pages") == parts1
    assert M.read_table(spark, root, "pages").count() == rows1


def test_socket_source_end_to_end(spark):
    """A real network source: TCP server feeds TSV records; the stream
    parses them into the pages schema and a per-cell aggregation runs on
    top — proving the reader swap (socket ↔ kafka) is the only
    source-specific piece."""
    import socket
    import threading
    import time

    from geomesa_spark.streaming import live as L

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    lines = [
        f"http://ex.com/{i}\t{1700000000 + i}\t{2.351 + i * 0.0001}\t{48.857}\n" for i in range(20)
    ] + ["garbage-line-no-tabs\n"]

    def serve():
        conn, _ = srv.accept()
        with conn:
            for ln in lines:
                conn.sendall(ln.encode())
            time.sleep(8)  # keep the pipe open while micro-batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = L.read_events_socket(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("socket_rows")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"stream failed: {q.exception()}")
            n = spark.sql("select count(*) c from socket_rows").collect()[0]["c"]
            if n >= 20:
                break
            time.sleep(1)
        assert n == 20  # garbage line dropped by the parse filter
        got = spark.sql("select * from socket_rows order by url").collect()
        assert got[0]["url"] == "http://ex.com/0"
        assert abs(got[0]["lon"] - 2.351) < 1e-9
        assert got[0]["warc_ts"] is not None
    finally:
        q.stop()
        srv.close()


@pytest.fixture(scope="module")
def session_stream_dir(tmp_path_factory):
    """Three micro-batches of per-user fixes with gaps: user u0 has two
    sessions (fixes at t0..t0+20min, then t0+3h..t0+3h10), u1 one
    session; a final far-future batch advances the watermark so every
    session closes."""
    d = str(tmp_path_factory.mktemp("session_stream"))
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def mk(rows, name):
        pd.DataFrame(rows, columns=["url", "warc_ts"]).to_parquet(
            os.path.join(d, name), index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    mk(
        [("u0", t0 + pd.Timedelta(minutes=m)) for m in (0, 5, 20)]
        + [("u1", t0 + pd.Timedelta(minutes=m)) for m in (2, 9)],
        "b0.parquet",
    )
    mk(
        [("u0", t0 + pd.Timedelta(hours=3) + pd.Timedelta(minutes=m)) for m in (0, 10)],
        "b1.parquet",
    )
    mk([("uz", t0 + pd.Timedelta(days=30))], "b2.parquet")
    return d


SESSION_SCHEMA = "url string, warc_ts timestamp"


def _session_stream(spark, path):
    return (
        spark.readStream.schema(SESSION_SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)
    )


def test_track_sessions_declarative(spark, session_stream_dir):
    stream = _session_stream(spark, session_stream_dir)
    q = _run_stream(live.track_sessions(stream, gap="30 minutes", watermark="10 seconds"), "sess_decl")
    out = spark.sql("select * from sess_decl order by url, session_start").toPandas()
    closed = out[out["url"].isin(["u0", "u1"])]
    assert len(closed) == 3  # u0 x2 sessions, u1 x1
    assert list(closed["n_fixes"]) == [3, 2, 2]
    q.stop()


def test_stateful_track_assembler_matches_declarative(spark, session_stream_dir):
    stream = _session_stream(spark, session_stream_dir)
    q = _run_stream(
        live.stateful_track_assembler(stream, gap_sec=1800, watermark="10 seconds"), "sess_state"
    )
    out = spark.sql("select * from sess_state order by id, session_start").toPandas()
    closed = out[out["id"].isin(["u0", "u1"])]
    assert len(closed) == 3
    assert list(closed["n_fixes"]) == [3, 2, 2]
    # session bounds equal the declarative twin's fix extents
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    assert list(closed["session_start"]) == [
        t0,
        t0 + pd.Timedelta(hours=3),
        t0 + pd.Timedelta(minutes=2),
    ]
    assert list(closed["last_ts"]) == [
        t0 + pd.Timedelta(minutes=20),
        t0 + pd.Timedelta(hours=3, minutes=10),
        t0 + pd.Timedelta(minutes=9),
    ]
    q.stop()


def test_streaming_pip_counts_matches_batch(spark, session_stream_dir, tmp_path):
    """The streaming PIP join (stream-static cover join + refine +
    event-time windows) produces exactly the batch engine's counts."""
    from geomesa_spark.operators.spatial_join import spatial_join

    # points stream: deterministic fixes spread across polygons
    d = str(tmp_path / "pip_stream")
    os.makedirs(d)
    ids = np.arange(4000, dtype=np.uint64)
    lon = -180.0 + (synth.hash64(ids).astype(np.float64) / 2.0**64) * 360.0
    lat = -85.0 + (synth.hash64(ids + np.uint64(3)).astype(np.float64) / 2.0**64) * 170.0
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta((ids % 50).astype(np.int64), unit="m")
    pdf = pd.DataFrame({"url": [f"u{i}" for i in ids], "warc_ts": ts, "lon": lon, "lat": lat})
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(os.path.join(d, "b0.parquet"), index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf.iloc[half:].to_parquet(os.path.join(d, "b1.parquet"), index=False, coerce_timestamps="us", allow_truncated_timestamps=True)

    polys = synth.polygons()
    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = _run_stream(
        live.streaming_pip_counts(stream, polys, window="10 minutes"), "pip_stream_t", mode="complete"
    )
    got = spark.sql("select * from pip_stream_t").toPandas()

    batch = spatial_join(spark.createDataFrame(pdf), polys, strategy="broadcast")
    want = (
        batch.groupBy(
            F.window("warc_ts", "10 minutes").alias("win"), "polygon_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "polygon_id", "n")
        .toPandas()
    )
    key = ["win_start", "polygon_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert got_s.equals(want_s)
    q.stop()


def test_stateful_assembler_out_of_order_late_data(spark, tmp_path):
    """A late (in-watermark) fix that precedes the open session by more
    than the gap becomes its OWN closed session — it must not be folded
    backward into the open session (round-2 review regression)."""
    d = str(tmp_path / "ooo_stream")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-01-01 10:00:00")

    def mk(rows, name):
        pd.DataFrame(rows, columns=["url", "warc_ts"]).to_parquet(
            os.path.join(d, name), index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    mk([("u0", t0)], "b0.parquet")                                   # open session at 10:00
    mk([("u0", t0 - pd.Timedelta(hours=2))], "b1.parquet")           # LATE fix at 08:00
    mk([("uz", t0 + pd.Timedelta(days=30))], "b2.parquet")           # advance watermark
    stream = _session_stream(spark, d)
    q = _run_stream(
        live.stateful_track_assembler(stream, gap_sec=1800, watermark="6 hours"), "sess_ooo"
    )
    out = spark.sql("select * from sess_ooo where id = 'u0' order by session_start").toPandas()
    assert len(out) == 2  # two distinct sessions, not one merged 08:00-10:00
    assert list(out["n_fixes"]) == [1, 1]
    assert out["session_start"].iloc[0] == t0 - pd.Timedelta(hours=2)
    assert out["session_start"].iloc[1] == t0
    q.stop()


def test_stateful_assembler_cross_batch_late_merge(spark, tmp_path):
    """A late fix arriving two micro-batches after its session opened must
    MERGE into that session (watermark-buffered emission), matching
    session_window: nothing is emitted until the watermark finalizes it."""
    d = str(tmp_path / "late_merge_stream")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-01-01 10:00:00")

    def mk(rows, name):
        pd.DataFrame(rows, columns=["url", "warc_ts"]).to_parquet(
            os.path.join(d, name), index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    mk([("u0", t0)], "b0.parquet")                                    # opens session at 10:00
    mk([("u0", t0 + pd.Timedelta(hours=2))], "b1.parquet")            # second session at 12:00
    mk([("u0", t0 + pd.Timedelta(minutes=10))], "b2.parquet")         # LATE fix 10:10 (in watermark)
    mk([("uz", t0 + pd.Timedelta(days=30))], "b3.parquet")            # advance watermark
    stream = _session_stream(spark, d)
    q = _run_stream(
        live.stateful_track_assembler(stream, gap_sec=1800, watermark="6 hours"), "sess_latemerge"
    )
    out = spark.sql("select * from sess_latemerge where id = 'u0' order by session_start").toPandas()
    assert len(out) == 2
    assert list(out["n_fixes"]) == [2, 1]  # 10:00+10:10 merged; 12:00 alone
    assert out["last_ts"].iloc[0] == t0 + pd.Timedelta(minutes=10)
    q.stop()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Round-3: STREAM × STREAM join (track fixes ⋈ events within a time
    bound) — two file-source streams, watermark-bounded interval join,
    output equal to the identical expression over batch reads."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    fix_dir, ev_dir = str(tmp_path / "fixes"), str(tmp_path / "events")
    os.makedirs(fix_dir), os.makedirs(ev_dir)
    rng_ids = [f"u{i % 7}" for i in range(40)]
    fixes_pdf = pd.DataFrame(
        {
            "url": rng_ids,
            "warc_ts": [base + dt.timedelta(seconds=37 * i) for i in range(40)],
            "lon": np.linspace(-10, 10, 40),
            "lat": np.linspace(40, 50, 40),
        }
    )
    events_pdf = pd.DataFrame(
        {
            "url": [f"u{(i * 3) % 7}" for i in range(60)],
            "ev_ts": [base + dt.timedelta(seconds=29 * i - 120) for i in range(60)],
            "event_type": [f"t{i % 4}" for i in range(60)],
        }
    )
    # Spark's parquet reader wants micro-second timestamps, not pandas ns
    fixes_pdf["warc_ts"] = fixes_pdf["warc_ts"].astype("datetime64[us]")
    events_pdf["ev_ts"] = events_pdf["ev_ts"].astype("datetime64[us]")
    # two micro-batch files per side (cross-batch matches must still join)
    fixes_pdf.iloc[:20].to_parquet(os.path.join(fix_dir, "b0.parquet"), index=False)
    fixes_pdf.iloc[20:].to_parquet(os.path.join(fix_dir, "b1.parquet"), index=False)
    events_pdf.iloc[:30].to_parquet(os.path.join(ev_dir, "b0.parquet"), index=False)
    events_pdf.iloc[30:].to_parquet(os.path.join(ev_dir, "b1.parquet"), index=False)

    FIX_SCHEMA = "url string, warc_ts timestamp, lon double, lat double"
    EV_SCHEMA = "url string, ev_ts timestamp, event_type string"
    fx = spark.readStream.schema(FIX_SCHEMA).option("maxFilesPerTrigger", 1).parquet(fix_dir)
    ev = spark.readStream.schema(EV_SCHEMA).option("maxFilesPerTrigger", 1).parquet(ev_dir)
    joined = live.stream_stream_fix_event_join(fx, ev, bound_sec=300, watermark="2 hours")
    q = _run_stream(joined, "ss_join_t")
    out = spark.sql("select * from ss_join_t").toPandas()
    q.stop()

    b = live.stream_stream_fix_event_join(
        spark.read.schema(FIX_SCHEMA).parquet(fix_dir),
        spark.read.schema(EV_SCHEMA).parquet(ev_dir),
        bound_sec=300,
        watermark="2 hours",
    ).toPandas()
    assert len(b) > 0  # fixture actually produces matches
    key = ["url", "warc_ts", "ev_ts", "event_type"]
    a_s = out[key].sort_values(key).reset_index(drop=True)
    b_s = b[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a_s, b_s)


def test_stream_stream_join_prefixes_shared_columns(spark):
    """Passthrough columns present on BOTH sides (or named like the key
    outputs) get side prefixes instead of emitting duplicate column
    names that poison any downstream select/write."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    fx = spark.createDataFrame(
        [("u1", base, 1.0, "f")], "url string, warc_ts timestamp, lat double, src string"
    )
    ev = spark.createDataFrame(
        [("u1", base, 2.0, "e")], "url string, ev_ts timestamp, lat double, src string"
    )
    out = live.stream_stream_fix_event_join(fx, ev, bound_sec=300, watermark="2 hours")
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert {"fx_lat", "ev_lat", "fx_src", "ev_src"} <= set(out.columns)
    row = out.collect()[0]
    assert row["fx_lat"] == 1.0 and row["ev_lat"] == 2.0
    # unambiguous passthroughs keep their bare names
    fx2 = spark.createDataFrame([("u1", base, 9.9)], "url string, warc_ts timestamp, lon double")
    out2 = live.stream_stream_fix_event_join(fx2, ev, bound_sec=300, watermark="2 hours")
    assert "lon" in out2.columns and "ev_lat" not in out2.columns and "lat" in out2.columns


def test_stream_stream_join_prefix_collision_with_literal_prefix(spark):
    """A side that already carries a literally-prefixed column ('ev_lat'
    on the fixes side next to a shared 'lat') still yields unique output
    names — the rename loop re-prefixes until no duplicates remain."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    fx = spark.createDataFrame(
        [("u1", base, 1.0, 3.3)], "url string, warc_ts timestamp, lat double, ev_lat double"
    )
    ev = spark.createDataFrame(
        [("u1", base, 2.0)], "url string, ev_ts timestamp, lat double"
    )
    out = live.stream_stream_fix_event_join(fx, ev, bound_sec=300, watermark="2 hours")
    assert len(out.columns) == len(set(out.columns)), out.columns
    row = out.collect()[0]
    vals = sorted(v for k, v in row.asDict().items() if isinstance(v, float))
    assert vals == [1.0, 2.0, 3.3]


def test_stream_stream_join_same_side_collision(spark):
    """A side carrying BOTH 'lat' and the literal 'fx_lat' (so the rename
    of 'lat' lands on an existing same-side name) still yields unique
    output columns — numeric-suffix resolution, which converges where a
    prefix loop cannot."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    fx = spark.createDataFrame(
        [("u1", base, 1.0, 9.9)], "url string, warc_ts timestamp, lat double, fx_lat double"
    )
    ev = spark.createDataFrame(
        [("u1", base, 2.0)], "url string, ev_ts timestamp, lat double"
    )
    out = live.stream_stream_fix_event_join(fx, ev, bound_sec=300, watermark="2 hours")
    assert len(out.columns) == len(set(out.columns)), out.columns
    row = out.collect()[0]
    vals = sorted(v for v in row.asDict().values() if isinstance(v, float))
    assert vals == [1.0, 2.0, 9.9]
