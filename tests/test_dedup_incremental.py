"""Incremental MinHash-LSH dedup index (operators/dedup.py): the
corpus-growth shape. Twin equality: ingesting the documents table in two
batches and unioning the per-batch pair outputs must reproduce EXACTLY
the one-shot ngram_minhash_dedup output over the full table (valid
whenever no LSH bucket exceeds the cap — asserted)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from geomesa_spark import contract
from geomesa_spark.operators import dedup

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _pairs_pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["da", "db"]).reset_index(drop=True)


def test_single_call_matches_oracle_checked_query(spark, tmp_path):
    """One dedupe_and_append over the whole table reproduces the
    oracle-checked ngram_minhash_dedup output exactly (identical cap,
    bucket counts over the same full population)."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    got = _pairs_pdf(dedup.dedupe_and_append(docs, str(tmp_path / "idx_all")))
    want = _pairs_pdf(entry_mod.queries()["ngram_minhash_dedup"](spark, SF_DIR))
    assert len(want) > 0, "fixture produced no near-dup pairs — twin test is vacuous"
    assert got[["da", "db"]].values.tolist() == want[["da", "db"]].values.tolist()
    assert (got["jac"].to_numpy() == want["jac"].to_numpy()).all()


def test_incremental_two_batches_equals_one_shot(spark, tmp_path):
    """With a cap that never binds (the fixture has a 160-doc bucket, so
    the default cap's per-evaluation semantics would differ), the union
    of per-batch outputs equals the one-shot output exactly."""
    cap = 1_000_000
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "dedup_index")

    p1 = _pairs_pdf(dedup.dedupe_and_append(b1, root, bucket_cap=cap))
    p2 = _pairs_pdf(dedup.dedupe_and_append(b2, root, bucket_cap=cap))
    assert dedup.max_bucket_size(spark, root) < cap

    got = (
        pd.concat([p1, p2], ignore_index=True)
        .drop_duplicates(["da", "db"])
        .sort_values(["da", "db"])
        .reset_index(drop=True)
    )
    want = _pairs_pdf(dedup.dedupe_and_append(docs, str(tmp_path / "idx_oneshot"), bucket_cap=cap))
    assert len(want) > 0
    assert got[["da", "db"]].values.tolist() == want[["da", "db"]].values.tolist()
    assert (got["jac"].to_numpy() == want["jac"].to_numpy()).all()
    # batch-2 pairs never re-report batch-1-internal pairs
    b1_ids = set(b1.select("doc_id").toPandas()["doc_id"])
    assert not ((p2["da"].isin(b1_ids)) & (p2["db"].isin(b1_ids))).any()


def test_incremental_redelivery_of_duplicate_content(spark, tmp_path):
    """A near-duplicate document arriving in a later batch is caught
    against the STORED index (old x new pair), not just within-batch."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = docs.orderBy("doc_id").limit(1).toPandas()
    clone = base.copy()
    clone["doc_id"] = int(base["doc_id"][0]) + 1_000_000  # same text, new id
    root = str(tmp_path / "dedup_index2")
    p1 = dedup.dedupe_and_append(docs, root).toPandas()
    p2 = dedup.dedupe_and_append(spark.createDataFrame(clone), root).toPandas()
    hit = p2[(p2["da"] == int(base["doc_id"][0])) & (p2["db"] == int(clone["doc_id"][0]))]
    assert len(hit) == 1 and float(hit["jac"].iloc[0]) == 1.0


def test_stream_dedupe_twin_and_replay(spark, tmp_path):
    """stream_dedupe over a 2-file feed == one-shot batch output (cap
    unbound), and replaying a batch (foreachBatch restart semantics)
    reproduces identical index state and pairs."""
    import glob
    import shutil
    import time

    from geomesa_spark.streaming import live

    cap = 1_000_000
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(F.col("doc_id").cast("long"), "text")
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    # two feed files with forced mtime order -> two deterministic batches
    for i, batch in enumerate([docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)]):
        stage = str(tmp_path / f"stage{i}")
        batch.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = str(feed / f"f{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

    idx_root = str(tmp_path / "sidx")
    pairs_root = str(tmp_path / "spairs")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = live.stream_dedupe(stream, idx_root, pairs_root, bucket_cap=cap)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert dedup.max_bucket_size(spark, idx_root) < cap

    batch_dirs = sorted(glob.glob(os.path.join(pairs_root, "batch-*")))
    assert len(batch_dirs) == 2
    got = (
        pd.concat([spark.read.parquet(d).toPandas() for d in batch_dirs], ignore_index=True)
        .drop_duplicates(["da", "db"])
        .sort_values(["da", "db"])
        .reset_index(drop=True)
    )
    want = _pairs_pdf(dedup.dedupe_and_append(docs, str(tmp_path / "idx_batch_twin"), bucket_cap=cap))
    assert len(want) > 0
    assert got[["da", "db"]].values.tolist() == want[["da", "db"]].values.tolist()
    assert (got["jac"].to_numpy() == want["jac"].to_numpy()).all()

    # replay batch 1: recover its doc set from the index subdir, re-run
    # the same partitioned call, and require bit-identical pairs + index
    replay_ids = spark.read.parquet(os.path.join(idx_root, "bands", "batch-1")).select("doc_id").distinct()
    replay_docs = docs.join(replay_ids, "doc_id", "left_semi")
    before_pairs = _pairs_pdf(spark.read.parquet(os.path.join(pairs_root, "batch-1")))
    before_max = dedup.max_bucket_size(spark, idx_root)
    replayed = _pairs_pdf(
        dedup.dedupe_and_append(replay_docs, idx_root, bucket_cap=cap, partition="batch-1")
    )
    assert replayed[["da", "db"]].values.tolist() == before_pairs[["da", "db"]].values.tolist()
    assert (replayed["jac"].to_numpy() == before_pairs["jac"].to_numpy()).all()
    assert dedup.max_bucket_size(spark, idx_root) == before_max


def test_compact_index_preserves_semantics(spark, tmp_path):
    """Compacting the per-batch index layout (small-files cleanup) changes
    no dedupe output: a later batch sees identical band/gram-set
    populations on the compacted and uncompacted index."""
    import glob

    cap = 1_000_000
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").cast("long"), "text"
    )
    batches = [docs.where(F.col("doc_id") % 3 == r) for r in range(3)]
    roots = [str(tmp_path / "idx_compact"), str(tmp_path / "idx_control")]
    for root in roots:
        for i, b in enumerate(batches[:2]):
            dedup.dedupe_and_append(b, root, bucket_cap=cap, partition=f"batch-{i}")

    stats = dedup.compact_index(spark, roots[0], target_files=2)
    control_bands = dedup._read_or_empty(spark, os.path.join(roots[1], "bands"), dedup.BANDS_SCHEMA)
    assert stats["bands_rows"] == control_bands.count()
    assert stats["gsets_rows"] > 0
    # layout really consolidated: no per-batch subdirs remain
    assert not glob.glob(os.path.join(roots[0], "bands", "batch-*"))
    assert len(glob.glob(os.path.join(roots[0], "bands", "*.parquet"))) <= 2

    got = _pairs_pdf(dedup.dedupe_and_append(batches[2], roots[0], bucket_cap=cap))
    want = _pairs_pdf(dedup.dedupe_and_append(batches[2], roots[1], bucket_cap=cap))
    assert len(want) > 0
    assert got[["da", "db"]].values.tolist() == want[["da", "db"]].values.tolist()
    assert (got["jac"].to_numpy() == want["jac"].to_numpy()).all()
    assert dedup.max_bucket_size(spark, roots[0]) == dedup.max_bucket_size(spark, roots[1])


def test_prune_and_direct_plans_identical(spark, tmp_path):
    """The two physical plans (pruned corpus-growth vs direct
    comparable-sizes) produce bit-identical pairs on the same stored
    index + batch."""
    import shutil

    cap = 1_000_000
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").cast("long"), "text"
    )
    r1 = str(tmp_path / "idx_pruned")
    dedup.dedupe_and_append(docs.where(F.col("doc_id") % 2 == 0), r1, bucket_cap=cap)
    r2 = str(tmp_path / "idx_direct")
    shutil.copytree(r1, r2)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    p_pruned = _pairs_pdf(dedup.dedupe_and_append(odd, r1, bucket_cap=cap, prune=True))
    p_direct = _pairs_pdf(dedup.dedupe_and_append(odd, r2, bucket_cap=cap, prune=False))
    assert len(p_pruned) > 0
    assert p_pruned[["da", "db"]].values.tolist() == p_direct[["da", "db"]].values.tolist()
    assert (p_pruned["jac"].to_numpy() == p_direct["jac"].to_numpy()).all()


def test_replay_after_compaction_is_idempotent(spark, tmp_path):
    """foreachBatch replay AFTER compact_index folded the batch into
    consolidated files: the replay must exclude its own prior rows by
    doc id (no subdir left to exclude), emit identical pairs, and skip
    the index write (no duplicated rows)."""
    import glob

    cap = 1_000_000
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").cast("long"), "text"
    )
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    root = str(tmp_path / "idx_rc")
    dedup.dedupe_and_append(b0, root, bucket_cap=cap, partition="batch-0")
    before = _pairs_pdf(dedup.dedupe_and_append(b1, root, bucket_cap=cap, partition="batch-1"))
    bands_path = os.path.join(root, "bands")
    rows_before = dedup._read_or_empty(spark, bands_path, dedup.BANDS_SCHEMA).count()

    dedup.compact_index(spark, root, target_files=2)
    assert "batch-1" in dedup._absorbed_partitions(root)

    replayed = _pairs_pdf(dedup.dedupe_and_append(b1, root, bucket_cap=cap, partition="batch-1"))
    assert replayed[["da", "db"]].values.tolist() == before[["da", "db"]].values.tolist()
    assert (replayed["jac"].to_numpy() == before["jac"].to_numpy()).all()
    # write skipped: no per-batch subdir reappears, no duplicated rows
    assert not glob.glob(os.path.join(bands_path, "batch-*"))
    assert dedup._read_or_empty(spark, bands_path, dedup.BANDS_SCHEMA).count() == rows_before


def test_compact_carries_over_half_committed_batch(spark, tmp_path):
    """Crash between a partitioned batch's bands and gsets writes, then
    compaction: the batch is committed in ONE component only, so it must
    NOT be marked absorbed (a replay would skip the missing half's write
    and lose its gram sets permanently — every future pair against those
    docs would silently drop at the verify join). The committed half
    carries over as a subdir; the replay overwrites both; a later batch
    sees populations identical to a never-crashed control index."""
    import glob
    import shutil as sh

    cap = 1_000_000
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").cast("long"), "text"
    )
    batches = [docs.where(F.col("doc_id") % 3 == r) for r in range(3)]
    crash_root = str(tmp_path / "idx_crash")
    control_root = str(tmp_path / "idx_ctrl")
    for root in (crash_root, control_root):
        for i, b in enumerate(batches[:2]):
            dedup.dedupe_and_append(b, root, bucket_cap=cap, partition=f"batch-{i}")
    # simulate the crash: batch-1's gsets write never happened
    sh.rmtree(os.path.join(crash_root, "gsets", "batch-1"))

    dedup.compact_index(spark, crash_root, target_files=2)
    assert "batch-1" not in dedup._absorbed_partitions(crash_root)
    assert "batch-0" in dedup._absorbed_partitions(crash_root)
    # committed half carried over verbatim, not folded into consolidated files
    assert os.path.exists(os.path.join(crash_root, "bands", "batch-1", "_SUCCESS"))

    # replay heals both halves
    dedup.dedupe_and_append(batches[1], crash_root, bucket_cap=cap, partition="batch-1")
    dedup.compact_index(spark, control_root, target_files=2)
    for comp, schema in (("bands", dedup.BANDS_SCHEMA), ("gsets", dedup.GSETS_SCHEMA)):
        got = dedup._read_or_empty(spark, os.path.join(crash_root, comp), schema)
        want = dedup._read_or_empty(spark, os.path.join(control_root, comp), schema)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    # and a later batch produces identical pairs on both indexes
    got = _pairs_pdf(dedup.dedupe_and_append(batches[2], crash_root, bucket_cap=cap))
    want = _pairs_pdf(dedup.dedupe_and_append(batches[2], control_root, bucket_cap=cap))
    assert len(want) > 0
    assert got[["da", "db"]].values.tolist() == want[["da", "db"]].values.tolist()


def test_dedup_job_entrypoint_resume(spark, tmp_path, monkeypatch, capsys):
    """jobs/dedup_job.py end-to-end in-process: first submit commits the
    batch's pairs to the manifest; an identical re-submit is a no-op
    (resume semantics)."""
    import importlib.util
    import sys

    from pyspark.sql import SparkSession

    from geomesa_spark.sources import manifest as M

    spec = importlib.util.spec_from_file_location(
        "dedup_job", os.path.join(os.path.dirname(__file__), "..", "jobs", "dedup_job.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    docs_path = str(tmp_path / "batch0.parquet")
    (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(F.col("doc_id").cast("long"), "text")
        .write.parquet(docs_path)
    )
    idx = str(tmp_path / "jidx")
    out = str(tmp_path / "jpairs")
    argv = [
        "dedup_job.py", "--docs", docs_path, "--index-root", idx,
        "--pairs-out", out, "--batch", "batch-0", "--compact-every", "1",
    ]
    monkeypatch.setattr(sys, "argv", argv)
    # the job stops its session on exit; keep the shared test session alive
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    job.main()
    assert "batch-0" in M.completed_partitions(out, "neardup_pairs")
    n_pairs = spark.read.parquet(os.path.join(out, "data", "neardup_pairs", "part=batch-0")).count()
    assert n_pairs > 0
    assert "compacted index" in capsys.readouterr().out

    job.main()  # resume: already committed
    assert "already committed" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# connected components (large-star/small-star)
# ---------------------------------------------------------------------------


def test_lsh_pairs_cap_boundary(spark):
    """A bucket of exactly ``cap`` members produces all its pairs; a
    bucket of ``cap + 1`` produces none. Docs sharing several buckets
    are reported once, always as da < db."""
    cap = 3
    rows = [
        # band 0: "full" holds exactly cap docs, "over" holds cap + 1
        (3, 0, "full"), (1, 0, "full"), (2, 0, "full"),
        (7, 0, "over"), (4, 0, "over"), (6, 0, "over"), (5, 0, "over"),
        # docs 1 and 2 also share bands 1 and 2; 5 and 4 share band 1
        (2, 1, "x"), (1, 1, "x"), (2, 2, "y"), (1, 2, "y"),
        (5, 1, "z"), (4, 1, "z"),
        # same key in another band is another bucket
        (6, 1, "full"), (8, 1, "full"),
        (9, 3, "solo"),
    ]
    banded = spark.createDataFrame(rows, "doc_id long, band int, bsig string")
    got = [(r.da, r.db) for r in dedup.lsh_pairs(banded, "bsig", cap).collect()]
    assert sorted(got) == [(1, 2), (1, 3), (2, 3), (4, 5), (6, 8)]
    assert len(got) == len(set(got))
    assert all(da < db for da, db in got)
    # the same rows under another id column name
    renamed = banded.withColumnRenamed("doc_id", "vec_id")
    assert sorted((r.da, r.db) for r in dedup.lsh_pairs(renamed, "bsig", cap, "vec_id").collect()) == sorted(got)


def _cc(spark, edge_list):
    from geomesa_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edge_list, "src long, dst long")
    out = connected_components(df)
    return {r.node: r.component for r in out.collect()}


def test_cc_chain_and_islands(spark):
    # a 12-node chain (worst case for naive label propagation), a
    # triangle, an isolated pair; edge directions deliberately mixed
    chain = [(i + 1, i) if i % 2 else (i, i + 1) for i in range(11)]
    tri = [(100, 101), (101, 102), (102, 100)]
    pair = [(201, 200)]
    got = _cc(spark, chain + tri + pair)
    assert {n: c for n, c in got.items() if n < 100} == {i: 0 for i in range(12)}
    assert {n: c for n, c in got.items() if 100 <= n < 200} == {n: 100 for n in (100, 101, 102)}
    assert got[200] == 200 and got[201] == 200


def test_cc_duplicate_and_self_edges(spark):
    # node 7 appears ONLY as a self-loop: still labeled (as a singleton)
    got = _cc(spark, [(1, 2), (2, 1), (1, 1), (2, 3), (2, 3), (3, 3), (7, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 7: 7}


def test_cc_empty(spark):
    from geomesa_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_star_already_converged(spark):
    got = _cc(spark, [(0, i) for i in range(1, 6)])
    assert got == {i: 0 for i in range(6)}


@pytest.mark.parametrize("local_finish_edges", [0, 2_000_000])
def test_cc_random_graphs_vs_union_find(spark, local_finish_edges):
    # deterministic pseudo-random graphs (seeded), checked against a
    # plain union-find oracle — exercises multi-round convergence on
    # shapes the fixture graph doesn't have (chains of chains, forests);
    # run once forcing the pure iterative path (threshold 0) and once
    # with the executor-side union-find local finish, proving equality
    import random

    from geomesa_spark.operators.dedup import connected_components

    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        n = rng.randrange(20, 120)
        m = rng.randrange(10, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))  # self-loop-only nodes are singletons
            if a != b:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in touched}
        df = spark.createDataFrame([(a, b) for a, b in edges], "src long, dst long")
        got = {
            r.node: r.component
            for r in connected_components(
                df, local_finish_edges=local_finish_edges
            ).collect()
        }
        assert got == want, f"trial {trial}: n={n} m={m}"
