"""The workloads. Each one is a closed loop with one client (the driver):
the next operation starts when the previous one has returned and its
output has been checked. ``pages_geotag`` and ``overlay_udf`` are run by
``run.py``; ``SpatialQueries`` and ``DedupIngest`` run only as probes of
their traced runs (``Workload.probe``).

A workload provides
- ``make_inputs(seed, work)``: build the seeded inputs that need no Spark
  session (run.py runs it while the session starts);
- ``setup(made)``: build the rest, compute the reference answers and warm
  up (all of it counts in ``setup_s``);
- ``prepare(i)`` (untimed) and ``op(i)`` (timed): the i-th operation,
  returning ``(items, ok, reason)``;
- ``round``: operations per round; a run stops only at a round boundary,
  so every run measures the same mix;
- ``traced_op_metrics`` and ``layer_probe()``: the per-layer numbers of
  the traced run.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

from collections import defaultdict

import numpy as np
import pandas as pd

from perfbench import checks, inputs, sparkenv, stats


class Context:
    def __init__(self, spark, seed: int, work: str, repo_root: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.repo_root = repo_root
        self.tracer = tracer
        self.jobs = sparkenv.JobCounter(spark)
        # plan metrics and job counts are read only in the traced run
        self.probe_plans = False


class Workload:
    name = ""
    round = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.layer = defaultdict(list)  # per-layer samples of the traced run
        self.setup_phases: dict[str, float] = {}
        self.probe_counter = stats.OpCounter()  # checked operations of layer_probe()

    @staticmethod
    def make_inputs(seed: int, work: str):
        return None

    def prepare(self, i: int) -> None:
        pass

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one step of ``setup()``; run.py prints the breakdown."""
        t = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t

    def _run_df(self, label: str, make_df):
        """Build a DataFrame, collect it and, in the traced run, record the
        call's span, its Spark job count and its executed plan metrics."""
        ctx = self.ctx
        if not ctx.probe_plans:
            df = make_df()
            return df.collect()
        group = ctx.jobs.begin(label)
        with ctx.tracer.span(label):
            df = make_df()
            rows = df.collect()
        with ctx.tracer.span("perfbench.plan_metrics"):
            for k, v in sparkenv.plan_metrics(df).items():
                self.layer[k].append(v)
        self.layer[f"jobs:{label}"].append(ctx.jobs.count(group))
        return rows

    def traced_op_metrics(self) -> dict[str, float]:
        """Plan metrics per operation (means over the traced window)."""
        return {k: float(np.mean(self.layer[k])) if self.layer[k] else 0.0 for k in sparkenv.PLAN_LAYERS}

    def layer_probe(self) -> dict[str, float]:
        return {}

    def probe(self, counter) -> list[float]:
        """Run this workload inside another one's traced run: set up with
        the tracer off (its cold work stays out of the span table), then
        one traced round, each operation checked and recorded in
        ``counter``. Returns the operation times."""
        tr = self.ctx.tracer
        tr.enabled = False
        try:
            self.setup(self.make_inputs(self.ctx.seed, self.ctx.work))
        finally:
            tr.enabled = True
        self.layer.clear()
        times = []
        for i in range(self.round):
            self.prepare(i)
            tr.new_trace()
            t = time.perf_counter()
            try:
                with tr.span("perfbench.probe_op", workload=self.name, i=i):
                    _, ok, reason = self.op(i)
            except Exception as e:
                ok, reason = False, f"{type(e).__name__}: {e}"
            times.append(time.perf_counter() - t)
            counter.record(ok, reason)
        return times


# ---------------------------------------------------------------------------
# pages_geotag
# ---------------------------------------------------------------------------


class PagesGeotag(Workload):
    name = "pages_geotag"
    PROBE_BATCHES = 3

    make_inputs = staticmethod(inputs.pages_table)

    def setup(self, made) -> None:
        from geomesa_spark import contract

        ctx = self.ctx
        self.path, self.n_pages = made
        with self.phase("reference"):  # also starts the Python workers
            ref = contract.pages_pipeline(ctx.spark, pages_df=ctx.spark.read.parquet(self.path), fused=False)
            self.ref = checks.digest(checks.spark_records(ref.collect()))
        with self.phase("warmup"):
            self.op(-1)  # fused-stage imports in the workers, codegen, JIT

    def op(self, i: int):
        from geomesa_spark import contract

        spark = self.ctx.spark
        rows = self._run_df(
            "contract.pages_pipeline",
            lambda: contract.pages_pipeline(spark, pages_df=spark.read.parquet(self.path)),
        )
        with self.ctx.tracer.span("perfbench.check"):
            ok = checks.digest(checks.spark_records(rows)) == self.ref
        return self.n_pages, ok, "" if ok else "per-polygon counts differ from the unfused pipeline"

    def layer_probe(self) -> dict[str, float]:
        """Time the fused stage and its kernels in process on the same
        20k-page Arrow batches of the stored table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from geomesa_spark import contract
        from geomesa_spark.functions import cells as C
        from geomesa_spark.functions import geometry as geo
        from geomesa_spark.operators import spatial_join as SJ
        from geomesa_spark.sources import synth
        from geomesa_spark.sources.extract import extract_entities_arrow

        tr = self.ctx.tracer
        level = contract.GRID_LEVEL
        fused = contract.fused_pip_stage(level)
        gaz_idx = synth.gazetteer_pdf().set_index("name")
        covers = SJ.polygon_cover_pdf(synth.polygons(), level)
        geoms = {p.polygon_id: (p.coords, p.ring_offsets) for p in synth.polygons()}
        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        rows_needed = 20_000 * self.PROBE_BATCHES
        tbl = pq.read_table(files[: 1 + rows_needed * len(files) // self.n_pages], columns=["url", "html"])
        batches = tbl.slice(0, rows_needed).combine_chunks().to_batches(max_chunksize=20_000)
        for _ in fused(iter(batches[:1])):  # warm-up call: regex compile, first allocations
            pass
        s = defaultdict(float)
        for batch in batches:
            tr.new_trace()
            t = time.perf_counter()
            with tr.span("contract.fused_pip_stage", rows=batch.num_rows):
                out_rows = sum(b.num_rows for b in fused(iter([batch])))
            s["fused"] += time.perf_counter() - t
            with tr.span("perfbench.fused_decomposed"):
                t = time.perf_counter()
                with tr.span("sources.extract.extract_entities_arrow"):
                    rows, names = extract_entities_arrow(batch.column("html"))
                s["extract"] += time.perf_counter() - t
                s["matches"] += len(names)
                s["pages"] += batch.num_rows
                e = pd.DataFrame(
                    {"url": batch.column("url").take(pa.array(rows)).to_pandas(), "entity": names}
                )
                j = e.join(gaz_idx, on="entity", how="inner")
                t = time.perf_counter()
                with tr.span("functions.cells.grid_encode"):
                    cell = C.grid_encode(j["lon"].to_numpy(np.float64), j["lat"].to_numpy(np.float64), level)
                s["encode"] += time.perf_counter() - t
                j = j.assign(cell=cell).merge(covers, on="cell", how="inner")
                lon, lat = j["lon"].to_numpy(np.float64), j["lat"].to_numpy(np.float64)
                pid, full = j["polygon_id"].to_numpy(np.int64), j["full"].to_numpy(bool)
                keep = full.copy()
                t = time.perf_counter()
                with tr.span("functions.geometry.points_in_polygon"):
                    for p in np.unique(pid[~full]):
                        m = (~full) & (pid == p)
                        c, o = geoms[int(p)]
                        keep[m] = geo.points_in_polygon(lon[m], lat[m], c, o)
                s["refine"] += time.perf_counter() - t
                s["candidates"] += int((~full).sum())
                s["kept"] += int((keep & ~full).sum())
            if int(keep.sum()) != out_rows:
                raise RuntimeError("decomposed fused stage disagrees with contract.fused_pip_stage")
        n = len(batches)
        kernels = s["extract"] + s["encode"] + s["refine"]
        return {
            **SpatialQueries(self.ctx).probe_metrics(self.probe_counter),
            "fused.s_per_batch": s["fused"] / n,
            "extract.s_per_batch": s["extract"] / n,
            "extract.matches_per_page": s["matches"] / s["pages"],
            "cells.encode_s_per_batch": s["encode"] / n,
            "pip.refine_s_per_batch": s["refine"] / n,
            "pip.candidates": s["candidates"] / n,
            "pip.kept_ratio": s["kept"] / s["candidates"] if s["candidates"] else 0.0,
            "fused.glue_s_per_batch": (s["fused"] - kernels) / n,
        }


# ---------------------------------------------------------------------------
# spatial query mix: run inside the pages_geotag traced run
# ---------------------------------------------------------------------------

QUERY_MIX = (
    "pip_count_broadcast",
    "pip_count_salted",
    "pip_count_bigpoly",
    "dwithin_planar",
    "tile_counts_webmercator",
    "tile_rollup",
    "density_grid",
    "z3_week_histogram",
)


class SpatialQueries(Workload):
    """One query of a seed-shuffled fixed mix an operation, the whole mix a
    round, over a generated events table; run from the pages_geotag
    traced run."""

    name = "spatial_queries"
    round = len(QUERY_MIX)

    def setup(self, made) -> None:
        import duckdb

        from geomesa_spark import contract

        ctx = self.ctx
        with self.phase("inputs"):
            self.sf_dir = inputs.events_dir(ctx.seed, ctx.work)
        self.order = list(np.random.default_rng(ctx.seed).permutation(QUERY_MIX))
        self.fns = contract.queries()
        oracle = contract.oracle_sql()
        con = duckdb.connect()
        with self.phase("reference"), contextlib.closing(con):
            con.execute(f"create view events as select * from read_parquet('{self.sf_dir}/events.parquet')")
            by_sql: dict[str, str] = {}
            self.ref = {}
            for name in QUERY_MIX:
                sql = oracle[name]
                if sql not in by_sql:  # the three pip_count queries share one oracle
                    by_sql[sql] = checks.digest(checks.pandas_records(con.sql(sql).df()))
                self.ref[name] = by_sql[sql]
        with self.phase("warmup"):
            for i in range(self.round):  # one checked warm-up round
                _, ok, reason = self.op(i)
                if not ok:
                    raise RuntimeError(f"warm-up: {reason}")

    def op(self, i: int):
        name = self.order[i % self.round]
        rows = self._run_df(f"contract.queries.{name}", lambda: self.fns[name](self.ctx.spark, self.sf_dir))
        with self.ctx.tracer.span("perfbench.check"):
            ok = checks.digest(checks.spark_records(rows)) == self.ref[name]
        return 1, ok, "" if ok else f"{name} differs from its DuckDB oracle"

    def probe_metrics(self, counter) -> dict[str, float]:
        """Spark jobs per query over one traced round (run.py reads each
        query's time from its span)."""
        self.probe(counter)
        return {f"q.{name}.jobs": float(np.mean(self.layer[f"jobs:contract.queries.{name}"])) for name in QUERY_MIX}


# ---------------------------------------------------------------------------
# overlay_udf
# ---------------------------------------------------------------------------

OVERLAY_UDFS = {
    "intersection": "st_intersection",
    "union": "st_union",
    "difference": "st_difference",
    "symdifference": "st_symDifference",
    "buffer": "st_buffer",
}


class OverlayUdf(Workload):
    name = "overlay_udf"
    round = inputs.OVERLAY_SLICES
    PARTITIONS = 8

    SQL = (
        "select pair_id, st_intersection(a, b) intersection, st_union(a, b) union_, "
        "st_difference(a, b) difference, st_symDifference(a, b) symdifference, "
        "st_buffer(b, r) buffer from {view}"
    )

    make_inputs = staticmethod(lambda seed, work: inputs.overlay_pairs(seed))

    def setup(self, made) -> None:
        from geomesa_spark.functions import st_functions as sf

        spark = self.ctx.spark
        for fn in OVERLAY_UDFS.values():
            spark.udf.register(fn, getattr(sf, fn))
        self.pairs = made
        with self.phase("inputs"):
            # each slice (half of every class) cached in 8 partitions,
            # so the 4 cores share an operation's kernel work
            for k in range(self.round):
                part = self.pairs[self.pairs["slice"] == k].drop(columns="slice")
                table = spark.createDataFrame(part).repartition(self.PARTITIONS, "pair_id").cache()
                table.count()
                table.createOrReplaceTempView(f"overlay_pairs_{k}")
            spark.createDataFrame(self.pairs).createOrReplaceTempView("overlay_pairs")
        with self.phase("reference"):  # the cold pass over every pair also warms up
            rows = spark.sql(self.SQL.format(view="overlay_pairs")).collect()
        with self.phase("probe_check"):
            self._probe_check(rows)
        slice_of = dict(zip(self.pairs["pair_id"], self.pairs["slice"]))
        self.ref = [
            checks.digest([r.asDict() for r in rows if slice_of[r["pair_id"]] == k]) for k in range(self.round)
        ]
        self.slice_pairs = self.pairs.groupby("slice").size().to_dict()

    def _probe_check(self, rows) -> None:
        """Every non-null result must pass its seeded probes."""
        rng = np.random.default_rng(self.ctx.seed)
        by_id = self.pairs.set_index("pair_id")
        nulls = 0
        for row in rows:
            p = by_id.loc[row["pair_id"]]
            for op in OVERLAY_UDFS:
                res = row["union_" if op == "union" else op]
                nulls += res is None
                if not checks.overlay_ok(op, p["a"], p["b"], float(p["r"]), res, rng):
                    raise RuntimeError(f"reference {op} of pair {row['pair_id']} fails its probes")
        self.null_frac = nulls / (len(rows) * len(OVERLAY_UDFS))

    def op(self, i: int):
        k = i % self.round
        rows = self._run_df(
            "functions.st_functions.sql", lambda: self.ctx.spark.sql(self.SQL.format(view=f"overlay_pairs_{k}"))
        )
        with self.ctx.tracer.span("perfbench.check"):
            ok = checks.digest(checks.spark_records(rows)) == self.ref[k]
        return self.slice_pairs[k], ok, "" if ok else f"slice {k} differs from the probe-checked reference"

    def layer_probe(self) -> dict[str, float]:
        """Each UDF's ``.func`` in process, per class, on the same pairs."""
        from geomesa_spark.functions import st_functions as sf

        tr = self.ctx.tracer
        out = {}
        cls_s = defaultdict(float)
        for op, fn_name in OVERLAY_UDFS.items():
            fn = getattr(sf, fn_name).func
            total, nulls = 0.0, 0
            for cls, grp in self.pairs.groupby("cls", sort=True):
                tr.new_trace()
                a = grp["a"].reset_index(drop=True)
                b = grp["b"].reset_index(drop=True)
                t = time.perf_counter()
                with tr.span(f"functions.st_functions.{fn_name}", cls=cls):
                    res = fn(b, grp["r"].reset_index(drop=True)) if op == "buffer" else fn(a, b)
                dt = time.perf_counter() - t
                total += dt
                cls_s[cls] += dt
                nulls += int(res.isna().sum())
            out[f"overlay.{op}.ms_per_pair"] = 1e3 * total / len(self.pairs)
            out[f"overlay.{op}.nulls"] = float(nulls)
        for cls in inputs.OVERLAY_CLASSES:
            out[f"overlay.class.{cls}.ms_per_pair"] = 1e3 * cls_s[cls] / inputs.OVERLAY_PER_CLASS
        out["overlay.null_frac"] = self.null_frac
        out.update(DedupIngest(self.ctx).probe_metrics(self.probe_counter))
        return out


# ---------------------------------------------------------------------------
# dedup ingest: run inside the overlay_udf traced run
# ---------------------------------------------------------------------------


class DedupIngest(Workload):
    """Seeded document batches through ``dedup.dedupe_and_append`` (pairs
    collected) and ``manifest.commit_partition``, one batch an operation,
    ``inputs.DEDUP_BATCHES`` batches into a fresh index a round; run from
    the overlay_udf traced run."""

    name = "dedup_ingest"
    round = inputs.DEDUP_BATCHES

    def setup(self, made) -> None:
        spark = self.ctx.spark
        with self.phase("inputs"):
            self.batches = inputs.dedup_batches(self.ctx.seed)
            self.dfs = [spark.createDataFrame(b) for b in self.batches]
            self.texts = {i: t for b in self.batches for i, t in zip(b["doc_id"], b["text"])}
        self.roots = 0
        with self.phase("reference"):  # the reference round is also the warm-up
            got = []
            for i in range(self.round):
                self.prepare(i)
                got.append(self._ingest(i))
        with self.phase("reference_check"):
            self.ref = [checks.digest(rows) for rows in got]
            self._check_reference([r for rows in got for r in rows])

    def _check_reference(self, pairs: list[dict]) -> None:
        """Every reference pair's Jaccard must be the exact char-3-gram
        Jaccard of its two texts, at or above the threshold, and every
        batch must find near-duplicates."""
        from geomesa_spark import contract

        for p in pairs:
            ga, gb = (checks.char_trigrams(self.texts[p[k]]) for k in ("da", "db"))
            jac = len(ga & gb) / len(ga | gb)
            if abs(jac - p["jac"]) > 1e-12 or jac < contract.NGRAM_JACCARD_THRESHOLD:
                raise RuntimeError(f"reference pair {p['da']}, {p['db']}: jac {p['jac']} vs exact {jac}")
        if {p["db"] // 1_000_000 for p in pairs} != set(range(self.round)):
            raise RuntimeError("a reference batch found no near-duplicate pairs")

    def prepare(self, i: int) -> None:
        if i % self.round == 0:  # a fresh, empty index for each round
            shutil.rmtree(os.path.join(self.ctx.work, f"index-{self.roots}"), ignore_errors=True)
            self.roots += 1
        self.root = os.path.join(self.ctx.work, f"index-{self.roots}")

    def _ingest(self, i: int) -> list[dict]:
        from geomesa_spark.operators import dedup
        from geomesa_spark.sources import manifest

        b = i % self.round
        part = f"b{b}"
        rows = self._run_df(
            "operators.dedup.dedupe_and_append",
            lambda: dedup.dedupe_and_append(self.dfs[b], self.root, partition=part),
        )
        files = {
            comp: sorted(glob.glob(os.path.join(self.root, comp, part, "*.parquet"))) for comp in ("bands", "gsets")
        }
        nbytes = sum(os.path.getsize(f) for fs in files.values() for f in fs)
        entry = {"files": files, "rows": len(self.batches[b]), "pairs": len(rows), "bytes": nbytes}
        with self.ctx.tracer.span("sources.manifest.commit_partition"):
            t = time.perf_counter()
            snap = manifest.commit_partition(self.root, "dedup", part, entry)
            self.layer["manifest.commit_s"].append(time.perf_counter() - t)
        name = f"snap-{snap['snapshot_id']:05d}.json"
        self.layer["manifest.bytes_per_commit"].append(
            os.path.getsize(os.path.join(self.root, manifest.MANIFEST_DIR, name))
        )
        self.layer["index.bytes_written"].append(nbytes)
        self.layer["dedup.pairs"].append(len(rows))
        return checks.spark_records(rows)

    def op(self, i: int):
        records = self._ingest(i)
        b = i % self.round
        with self.ctx.tracer.span("perfbench.check"):
            ok = checks.digest(records) == self.ref[b]
        return len(self.batches[b]), ok, "" if ok else f"batch {b} pairs differ from the reference round"

    def _candidates(self, b: int) -> int:
        """Candidate pairs batch ``b`` formed: distinct pairs that share a
        (band, bsig) bucket of at most the cap, over the bands of batches
        0..b in the last round's index, with at least one side in batch
        ``b``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from geomesa_spark import contract

        paths = [os.path.join(self.root, "bands", f"b{k}") for k in range(b + 1)]
        bands = self.ctx.spark.read.parquet(*paths)
        w = Window.partitionBy("band", "bsig")
        sized = bands.withColumn("bn", F.count(F.lit(1)).over(w)).where(F.col("bn") <= contract.MINHASH_BUCKET_CAP)
        x, y = sized.alias("x"), sized.alias("y")
        cand = x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bsig") == F.col("y.bsig"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("y.doc_id") >= b * 1_000_000),
        )
        return cand.select("x.doc_id", "y.doc_id").distinct().count()

    def probe_metrics(self, counter) -> dict[str, float]:
        times = self.probe(counter)
        with self.ctx.tracer.span("perfbench.candidates"):
            cand = float(np.mean([self._candidates(b) for b in range(self.round)]))
        mean = {k: float(np.mean(v)) for k, v in self.layer.items()}
        return {
            "dedup.docs_per_s": inputs.DEDUP_DOCS * self.round / sum(times),
            "dedup.batch_s": float(np.median(times)),
            "dedup.setup_s": sum(self.setup_phases.values()),
            "dedup.jobs_per_batch": mean["jobs:operators.dedup.dedupe_and_append"],
            "dedup.candidates": cand,
            "dedup.verified_ratio": mean["dedup.pairs"] / cand,
            "index.bytes_written": mean["index.bytes_written"],
            "index.bytes_per_doc": mean["index.bytes_written"] / inputs.DEDUP_DOCS,
            "manifest.commit_s": mean["manifest.commit_s"],
            "manifest.bytes_per_commit": mean["manifest.bytes_per_commit"],
        }


WORKLOADS = {w.name: w for w in (PagesGeotag, OverlayUdf)}
