"""Structured-Streaming surface (SURVEY.md §2.9).

GeoMesa's streaming layer (``geomesa-kafka/.../KafkaDataStore.scala``,
upstream layout per SURVEY.md §0) exposes *snapshot* semantics: a live
view holding the latest SimpleFeature per feature id with TTL expiry,
plus a replay store reading a time window. Re-expressed on Structured
Streaming we keep those semantics and gain event-time windows/watermarks:

- ``live_view``            — latest-state-per-url with TTL (watermark +
                             dedupe; the KafkaDataStore "live consumer")
- ``windowed_cell_counts`` — tumbling/sliding per-cell counts (the
                             streaming analog of DensityScan)
- ``replay``               — batch read of the log between two timestamps
                             (~ geomesa-kafka replay/*)
- ``stream_to_table``      — ``foreachBatch`` sink committing each
                             micro-batch into the Iceberg-style manifest
                             (streaming ingest → indexed table, with the
                             same lineage/resume guarantees as batch)
- ``stream_dedupe``        — ``foreachBatch`` near-dup detection: each
                             micro-batch dedupes against the accumulated
                             MinHash-LSH index (operators/dedup.py),
                             replay-idempotent via per-batch overwrite

Every transformation here is also valid on batch DataFrames — the same
operator registry serves both (the reference's CQL-filter-on-stream
equivalence).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from geomesa_spark.operators.spatial_join import grid_cell_expr
from geomesa_spark.sources import manifest as M

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of pages micro-batch directories (the sandbox
    stand-in for the Kafka topic; same schema, same event-time column)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


SOCKET_WIRE_COLS = ("url", "warc_ts", "lon", "lat")


def read_events_socket(spark: SparkSession, host: str = "127.0.0.1", port: int = 9999) -> DataFrame:
    """NETWORK streaming source (TCP socket) — the offline analog of the
    Kafka consumer: an unbounded feed of records over a connection, one
    TSV record per line (``url\\tepoch_sec\\tlon\\tlat``). Everything
    downstream (live_view / windowed_cell_counts / stream_to_table) is
    source-agnostic, so swapping in ``format("kafka")`` on a real cluster
    changes ONLY this reader."""
    raw = (
        spark.readStream.format("socket").option("host", host).option("port", port).load()
    )
    parts = F.split(F.col("value"), "\t")
    # F.get (not getItem): malformed lines yield NULLs instead of an ANSI
    # INVALID_ARRAY_INDEX error that would kill the stream
    return raw.select(
        F.get(parts, 0).alias("url"),
        F.to_timestamp(F.get(parts, 1).try_cast("double")).alias("warc_ts"),
        F.get(parts, 2).try_cast("double").alias("lon"),
        F.get(parts, 3).try_cast("double").alias("lat"),
    ).where(F.col("warc_ts").isNotNull())


def live_view(stream: DataFrame, ttl: str = "1 hour", id_col: str = "url", ts_col: str = "warc_ts") -> DataFrame:
    """Latest-state-per-id live view with TTL expiry (KafkaDataStore
    semantics): watermark bounds state, duplicates within the watermark
    are dropped, rows older than the watermark age out of state.

    Note the expiry side-effect: a row whose event time is already older
    than ``max(event_time seen) - ttl`` when it ARRIVES is treated as
    expired and never emitted (the watermark drops it as late). That is
    the live view's contract — the reference's expiry-configured Kafka
    consumer behaves the same way for stale messages; use ``replay`` for
    a complete time-window read."""
    return stream.withWatermark(ts_col, ttl).dropDuplicatesWithinWatermark([id_col])


def windowed_cell_counts(
    stream: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    level: int = 8,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) per-cell counts with
    late-data handling: rows later than ``watermark`` are dropped and the
    window finalizes — the streaming DensityScan."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("cell", grid_cell_expr(lon_col, lat_col, level))
        .groupBy(win.alias("win"), "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"), "cell", "n")
    )


def replay(spark: SparkSession, path: str, t1, t2, ts_col: str = "warc_ts") -> DataFrame:
    """Batch read of the stream log between two timestamps
    (geomesa-kafka replay semantics — time-window scan, no state)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path).where(F.col(ts_col).between(t1, t2))


def stream_to_table(
    stream: DataFrame,
    root: str,
    op: str,
    checkpoint_dir: str | None = None,
    cell_col: str | None = None,
):
    """Streaming ingest into the Iceberg-style table: every micro-batch
    commits one manifest partition (op/batch=<id>) with lineage + metrics,
    so a restarted query resumes from the Spark checkpoint AND the table
    remains consistent (uncommitted data is invisible — manifest.py).
    Returns the StreamingQuery."""
    checkpoint_dir = checkpoint_dir or os.path.join(root, "_stream_checkpoint", op)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = f"batch={batch_id}"
        done = M.completed_partitions(root, op)
        if part in done:  # foreachBatch replays after restart: idempotent skip
            return
        out_dir = os.path.join(root, "data", op, f"part={part}")
        batch_df.write.mode("overwrite").parquet(out_dir)
        spark = batch_df.sparkSession
        written = spark.read.parquet(out_dir)
        stats = (
            M.cell_stats(written, cell_col)
            if cell_col and cell_col in written.columns
            else {"rows": written.count()}
        )
        import glob as _glob

        files = sorted(
            os.path.relpath(p, root) for p in _glob.glob(os.path.join(out_dir, "*.parquet"))
        )
        M.commit_partition(root, op, part, {"files": files, "input": f"stream-batch-{batch_id}", **stats})

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


# ---------------------------------------------------------------------------
# track/session assembly on streams (SURVEY.md §2.9 "custom stateful")
# ---------------------------------------------------------------------------


def track_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    id_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Declarative session assembly: per-id session windows that close
    after ``gap`` of event-time silence (built-in session_window +
    watermark). The streaming analog of batch track assembly."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(id_col, F.session_window(ts_col, gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_fixes"))
        .select(
            id_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_fixes",
        )
    )


SESSION_OUTPUT_SCHEMA = "id string, session_start timestamp, last_ts timestamp, n_fixes long"
SESSION_STATE_SCHEMA = "starts array<long>, lasts array<long>, ns array<long>"


def stateful_track_assembler(
    stream: DataFrame,
    gap_sec: int = 1800,
    id_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """CUSTOM stateful session assembly via ``applyInPandasWithState``
    (the escape hatch for operators session_window can't express —
    arbitrary per-key state machines). Per id, state holds
    (session_start, last_ts, n_fixes); an event-time timeout ``gap_sec``
    past the last fix closes the session and emits ONE row. Semantically
    a twin of ``track_sessions`` for gap-based sessions (test-asserted);
    the state machine is the extension point for richer lifecycle logic
    (e.g. emit-on-N-fixes, per-segment geometry accumulation)."""
    import pandas as pd  # noqa: F811 (worker-side import)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_sec * 1000

    def assemble(key, pdfs, state: GroupState):
        """Watermark-buffered session state machine: ALL open sessions
        stay in state (arrays of intervals) and a session is emitted only
        once the event-time watermark passes its last fix + gap — at that
        point no admissible late fix can extend or split it, so output
        matches the declarative session_window twin even for late data
        arriving many micro-batches later."""
        wm = state.getCurrentWatermarkMs()

        def row(start_ms, last_ms, n):
            return pd.DataFrame(
                {
                    "id": [key[0]],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                    "n_fixes": [n],
                }
            )

        intervals: list[list[int]] = []
        if state.exists:
            s_starts, s_lasts, s_ns = state.get
            intervals = [[int(a), int(b), int(c)] for a, b, c in zip(s_starts, s_lasts, s_ns)]
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts = pd.to_datetime(pdf[ts_col])
                intervals.extend([int(v) // 1_000_000, int(v) // 1_000_000, 1] for v in ts.astype("int64"))
        if not intervals:
            if state.exists:
                state.remove()
            return
        intervals.sort(key=lambda g: (g[0], g[1]))
        groups: list[list[int]] = []
        for iv in intervals:
            if groups and iv[0] - groups[-1][1] <= gap_ms:
                groups[-1][1] = max(groups[-1][1], iv[1])
                groups[-1][2] += iv[2]
            else:
                groups.append(iv)
        open_groups: list[list[int]] = []
        for g in groups:
            if g[1] + gap_ms <= wm:  # finalized: nothing admissible can touch it
                yield row(*g)
            else:
                open_groups.append(g)
        if open_groups:
            state.update((
                [g[0] for g in open_groups],
                [g[1] for g in open_groups],
                [g[2] for g in open_groups],
            ))
            # wake when the earliest open session becomes finalizable
            state.setTimeoutTimestamp(max(min(g[1] for g in open_groups) + gap_ms, wm + 1))
        else:
            state.remove()

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(id_col))
        .applyInPandasWithState(
            assemble,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_stream_fix_event_join(
    fixes: DataFrame,
    events: DataFrame,
    bound_sec: int = 600,
    id_col: str = "url",
    fix_ts: str = "warc_ts",
    ev_ts: str = "ev_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval bound: each
    track fix pairs with the same id's events whose timestamp falls in
    [fix_ts − bound, fix_ts + bound]. Both sides carry watermarks, so the
    join-state store retains only rows young enough to still find a match
    (watermark + bound) — the bounded-state form Structured Streaming
    requires of stream×stream joins; unbounded-time joins are rejected by
    the planner at scale, by design.

    The same expression on two batch DataFrames is the exact batch twin
    (tested), mirroring the CQL-on-stream equivalence of the rest of this
    module."""
    f = fixes.withWatermark(fix_ts, watermark).alias("fx")
    e = events.withWatermark(ev_ts, watermark).alias("ev")
    cond = (
        (F.col(f"fx.{id_col}") == F.col(f"ev.{id_col}"))
        & (F.col(f"ev.{ev_ts}") >= F.col(f"fx.{fix_ts}") - F.expr(f"INTERVAL {int(bound_sec)} SECONDS"))
        & (F.col(f"ev.{ev_ts}") <= F.col(f"fx.{fix_ts}") + F.expr(f"INTERVAL {int(bound_sec)} SECONDS"))
    )
    # passthrough columns shared by BOTH sides (or colliding with the
    # key/ts outputs) get a side prefix — otherwise the output frame
    # would carry duplicate names and any select/write downstream fails
    # with an ambiguous-reference error
    fx_extra = [c for c in fixes.columns if c not in (id_col, fix_ts)]
    ev_extra = [c for c in events.columns if c not in (id_col, ev_ts)]
    taken = {id_col, fix_ts, ev_ts}

    def _out_names(cols, other, prefix):
        names = []
        for c in cols:
            name = f"{prefix}_{c}" if (c in other or c in taken) else c
            names.append(name)
        return names

    fx_names = _out_names(fx_extra, set(ev_extra), "fx")
    ev_names = _out_names(ev_extra, set(fx_extra), "ev")
    # a side may already carry a literally-prefixed name (e.g. fixes has
    # both 'lat' and 'fx_lat'): resolve any remaining duplicate — cross-
    # side OR same-side — with a deterministic numeric suffix. A prefix
    # loop cannot converge for same-side duplicates (both copies get the
    # same prefix every pass), so suffixes it is.
    seen: set[str] = set()
    resolved = []
    for n in [id_col, fix_ts, ev_ts] + fx_names + ev_names:
        cand, k = n, 1
        while cand in seen:
            k += 1
            cand = f"{n}_{k}"
        seen.add(cand)
        resolved.append(cand)
    fx_names = resolved[3:3 + len(fx_names)]
    ev_names = resolved[3 + len(fx_names):]
    return f.join(e, cond, "inner").select(
        F.col(f"fx.{id_col}").alias(id_col),
        F.col(f"fx.{fix_ts}").alias(fix_ts),
        F.col(f"ev.{ev_ts}").alias(ev_ts),
        *[F.col(f"fx.{c}").alias(n) for c, n in zip(fx_extra, fx_names)],
        *[F.col(f"ev.{c}").alias(n) for c, n in zip(ev_extra, ev_names)],
    )


def streaming_pip_counts(
    stream: DataFrame,
    polys,
    window: str = "10 minutes",
    level: int = 8,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "warc_ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming spatial join: the SAME two-phase PIP operator the batch
    engine uses (cell equi-join against the broadcast polygon cover +
    vectorized refine), applied to a stream, rolled into event-time
    windows — the "CQL filter on stream" equivalence, per-polygon.
    Stream-static joins need no state; only the windowed count does."""
    from geomesa_spark.operators.spatial_join import spatial_join

    # broadcast, never salted: the salted path samples its input for hot cells
    matched = spatial_join(stream.withWatermark(ts_col, watermark), polys, "broadcast", lon_col, lat_col, level)
    return (
        matched.groupBy(F.window(ts_col, window).alias("win"), "polygon_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "polygon_id", "n")
    )


def stream_dedupe(
    stream_docs: DataFrame,
    index_root: str,
    pairs_root: str,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = None,
    bucket_cap: int | None = None,
):
    """Streaming near-dup detection: every micro-batch of documents
    dedupes against the accumulated MinHash-LSH index
    (operators/dedup.py) and writes its verified pairs to
    ``pairs_root/batch-<id>/``. The batch twin is two (or N) direct
    ``dedupe_and_append`` calls — twin-equality tested.

    Replay-safe: the per-batch ``partition=`` mode excludes the batch's
    own (possibly partial) prior write from the stored-index read and
    overwrites both index components and the pairs dir, so a foreachBatch
    replay after restart reproduces identical state — no marker files,
    no double-append. Returns the StreamingQuery."""
    from geomesa_spark.operators import dedup

    checkpoint_dir = checkpoint_dir or os.path.join(index_root, "_stream_checkpoint")

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = f"batch-{batch_id}"
        pairs = dedup.dedupe_and_append(
            batch_df,
            index_root,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            bucket_cap=bucket_cap,
            partition=part,
        )
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_root, part))

    return (
        stream_docs.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
