"""Near-duplicate detection stages and the incremental n-gram
MinHash-LSH dedup index (SURVEY.md §8.10 scale path).

Every near-dup query in the engine has one shape — shingle or word →
hash → signature → banded LSH buckets, capped → candidate pairs → exact
verify — and each stage is written once, here:

  ``hash60``          60-bit int64 identity: first 15 hex digits of md5
                      (the DuckDB oracles' ``('0x' || substring(md5(x),
                      1, 15))::bigint``)
  ``gram_table``      (doc_id, g): distinct char-3-gram hashes per doc
  ``words``           (doc_id, w, g): distinct non-empty words + hashes
  ``minhash_sig``     (doc_id, m0..m15): ONE wide 16-min aggregation
  ``band_table``      (doc_id, band, bsig): minhash_sig + 4×4 band explode
  ``lsh_pairs``       (da, db): capped (band, key) bucket self-join
  ``gram_sets``       (doc_id, gset): gram-set arrays for the verify
  ``verify_jaccard``  (da, db, jac): exact ``array_intersect`` Jaccard
  ``simhash_sig``     (doc_id, sh): per-bit ±1 vote sums, bit-packed

The one-shot queries in :mod:`geomesa_spark.contract` (MinHash, SimHash,
n-gram dedup) and ``ann.embed_neardup_pairs_lsh`` compose these stages;
so does the incremental index below, so one-shot/incremental twin
equality cannot drift.

The one-shot ``ngram_minhash_dedup`` dedupes a corpus against itself.
At 100 TB the real workload is INCREMENTAL: a new crawl batch must
dedupe against everything already ingested without re-shingling the
whole corpus. ``dedupe_and_append`` stores the per-document LSH band
keys and exact gram sets as a persistent index; each new batch

  1. shingles/hashes only its own documents (``gram_table`` +
     ``band_table``),
  2. equi-joins its band keys against (stored ∪ new) band keys — bucket
     sizes computed over the union, capped like the one-shot path,
  3. exact-verifies candidates with ``verify_jaccard`` (stored gram sets
     read by doc-id join, never re-derived),
  4. appends its own bands + gram sets to the index.

When no bucket ever exceeds the cap, the union of per-batch outputs is
EXACTLY the one-shot output over the full corpus (twin-equality test in
tests/test_dedup_incremental.py). Buckets that grow past the cap stop
generating new candidates — the same bounded-work guarantee the
one-shot path makes, applied cumulatively.

Index layout (plain parquet, manifest-friendly):
  <root>/bands/   (doc_id long, band int, bsig string)
  <root>/gsets/   (doc_id long, gset array<long>)
Appends land as loose files at the component root; calls with
``partition=`` (the streaming mode — see streaming.live.stream_dedupe)
land in per-batch subdirs written with overwrite, which makes replays
idempotent. Reads always cover both layouts.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F

BANDS_SCHEMA = "doc_id long, band int, bsig string"
GSETS_SCHEMA = "doc_id long, gset array<long>"


def _c():
    # lazy: contract owns the shared MinHash/SimHash constants (oracle-pinned)
    from geomesa_spark import contract

    return contract


def hash60(col: Column) -> Column:
    """int64 identity of a string column: its md5's first 15 hex digits
    (60 bits, never negative) — hex-identical in both engines."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def gram_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, g): distinct char-3-gram int64 identities per document —
    row-local array_distinct, then ``hash60``."""
    gram_arr = (
        f"array_distinct(filter(transform(sequence(1, greatest(length({text_col}), 1)), "
        f"i -> substring({text_col}, i, 3)), x -> length(x) = 3))"
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(F.expr(gram_arr)).alias("gs")).select(
        "doc_id", hash60(F.col("gs")).alias("g")
    )


def words(docs: DataFrame) -> DataFrame:
    """(doc_id, w, g): each document's distinct non-empty space-separated
    words and their ``hash60`` — the word-level twin of ``gram_table``."""
    distinct_words = "array_distinct(filter(split(text, ' '), x -> x <> ''))"
    return docs.select("doc_id", F.explode(F.expr(distinct_words)).alias("w")).select(
        "doc_id", "w", hash60(F.col("w")).alias("g")
    )


def minhash_sig(grams: DataFrame) -> DataFrame:
    """(doc_id, m0..m15): MinHash over (doc_id, g) with h = g % P and
    m_i = min((a_i*h + b_i) % P) — ONE wide aggregation, so the gram rows
    shuffle once instead of 16× through a coefficient cross-join."""
    C = _c()
    mins = [
        F.min((F.lit(int(C.MINHASH_A[i])) * F.col("h") + F.lit(int(C.MINHASH_B[i]))) % C.MINHASH_P).alias(f"m{i}")
        for i in range(C.MINHASH_N)
    ]
    return grams.withColumn("h", F.col("g") % C.MINHASH_P).groupBy("doc_id").agg(*mins)


def band_table(grams: DataFrame) -> DataFrame:
    """(doc_id, band, bsig): 4×4 banded MinHash keys from a (doc_id, g)
    table — ``minhash_sig``, then a row-local band explode."""
    C = _c()
    n_bands = C.MINHASH_N // C.MINHASH_BAND_ROWS
    return minhash_sig(grams).select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.concat_ws(
                        ",", *[F.col(f"m{C.MINHASH_BAND_ROWS*b + j}") for j in range(C.MINHASH_BAND_ROWS)]
                    ).alias("bsig"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bsig").alias("bsig"))


def lsh_pairs(banded: DataFrame, key: str, cap: int, id_col: str = "doc_id") -> DataFrame:
    """(da, db) with da < db, once per pair: ids sharing a (band, key)
    bucket of at most ``cap`` members. Larger buckets carry no near-dup
    signal (boilerplate) and are skipped — the cap bounds the otherwise
    quadratic pair blowup."""
    w = Window.partitionBy("band", key)
    sized = banded.withColumn("bn", F.count(F.lit(1)).over(w)).where(F.col("bn") <= cap)
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("da"), F.col(f"b.{id_col}").alias("db"))
        .distinct()
    )


def gram_sets(grams: DataFrame) -> DataFrame:
    return grams.groupBy("doc_id").agg(F.collect_set("g").alias("gset"))


def verify_jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """(da, db, jac) for the candidate pairs whose exact gram-set Jaccard
    is at least ``threshold``. Each pair costs one in-memory
    ``array_intersect`` over the two (doc_id, gset) arrays, joined by doc
    id — no gram-level shuffle."""
    sa = sets.select(F.col("doc_id").alias("da"), F.col("gset").alias("ga_set"))
    sb = sets.select(F.col("doc_id").alias("db"), F.col("gset").alias("gb_set"))
    inter = F.size(F.array_intersect("ga_set", "gb_set"))
    jac = inter.cast("double") / (F.size("ga_set") + F.size("gb_set") - inter)
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .withColumn("jac", jac)
        .where(F.col("jac") >= threshold)
        .select("da", "db", "jac")
    )


def simhash_sig(hashed: DataFrame, bits: int) -> DataFrame:
    """(doc_id, sh): SimHash over (doc_id, g) — bit b of ``sh`` is set
    when more of the doc's hashes have bit b set than clear. All ``bits``
    vote sums run as ONE wide aggregation (no ``bits``× row explode)."""
    votes = [
        F.sum(F.when(F.shiftright("g", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    pack = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        pack = term if pack is None else pack + term
    return hashed.groupBy("doc_id").agg(*votes).select("doc_id", pack.alias("sh"))


def simhash_pairs_df(docs: DataFrame) -> DataFrame:
    """Unordered (da, db, hamming) SimHash near-dup pairs over 60-bit word
    fingerprints: a band equi-join (4 bands × 15 bits — any pair within
    Hamming ≤ 3 shares an intact band by pigeonhole, so the banding is
    lossless), then the exact popcount refine. The fingerprints ride
    through the join, so the refine needs no second lookup."""
    C = _c()
    sig = simhash_sig(words(docs), C.SIMHASH_PAIR_BITS)
    n_bands = C.SIMHASH_PAIR_BITS // C.SIMHASH_BAND_BITS
    mask = (1 << C.SIMHASH_BAND_BITS) - 1
    bands = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("sh", b * C.SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask)).alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.sh").alias("sa"),
            F.col("b.sh").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("cast(bit_count(sa ^ sb) as bigint)"))
        .where(F.col("hamming") <= C.SIMHASH_HAMMING_MAX)
        .select("da", "db", "hamming")
    )


def _recover_component(path: str) -> None:
    """Crash recovery for compact_index's rename swap: if the component
    dir is missing but its ``__old`` sibling exists, the process died
    between the two renames — the old layout is still complete, so put
    it back. (When both exist, the swap finished; ``__old`` is stale.)"""
    old = path + "__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def _read_or_empty(
    spark, path: str, schema: str, exclude: str | set[str] | None = None
) -> DataFrame:
    """Read an index component dir (loose root files from append-mode
    calls plus per-batch subdirs from partitioned calls). ``exclude``
    drops the named subdir(s) — a replayed streaming batch must not see
    its own partial prior write in the "stored" population, and
    compaction must not fold in batches it is carrying over.

    Hidden entries (``_*``/``.*`` — e.g. a crashed append's
    ``_temporary`` task-attempt dir, ``_SUCCESS`` markers) are never
    read, and per-batch subdirs without a ``_SUCCESS`` marker are
    skipped: an interrupted partitioned write is invisible until its
    replay overwrites it."""
    _recover_component(path)
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    excluded = {exclude} if isinstance(exclude, str) else (exclude or set())
    entries = []
    for e in sorted(os.listdir(path)):
        full = os.path.join(path, e)
        if e in excluded or e.startswith(("_", ".")):
            continue
        if os.path.isdir(full):
            if os.path.exists(os.path.join(full, "_SUCCESS")):
                entries.append(full)
        elif e.endswith(".parquet"):
            entries.append(full)
    if not entries:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*entries)


def _absorbed_partitions(index_root: str) -> set[str]:
    """Per-batch subdir names folded into consolidated files by
    compact_index (provenance for replay correctness)."""
    marker = os.path.join(index_root, "_compacted.txt")
    if not os.path.exists(marker):
        return set()
    with open(marker) as f:
        return {ln.strip() for ln in f if ln.strip()}


def dedupe_and_append(
    new_docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = None,
    bucket_cap: int | None = None,
    partition: str | None = None,
    prune: bool | None = None,
) -> DataFrame:
    """Dedupe a new batch against the stored index ∪ itself, then append
    the batch to the index. Returns the verified near-dup pairs
    (da, db, jac) with da < db and AT LEAST ONE side in the new batch —
    pairs wholly inside earlier batches were emitted by earlier calls.

    ``partition`` names a per-batch subdir for the index writes and makes
    the call IDEMPOTENT (streaming replay safety): the batch's own subdir
    is excluded from the stored-index read and both writes are
    mode=overwrite, so re-running the same batch — even over a partial
    crashed write — reproduces identical state and output. Replay stays
    idempotent ACROSS ``compact_index`` runs: when the batch's subdir was
    already folded into consolidated files (the ``_compacted.txt``
    provenance marker), its prior rows are excluded by doc-id anti-join
    instead, and the index write is skipped — this relies on a doc id
    belonging to exactly one batch (re-ingesting an id IS a replay).

    ``prune`` picks the plan (StrategyDecider pattern, same as
    spatial_join's auto mode). True = the corpus-growth regime: the
    stored band table is pruned to buckets the batch touches (broadcast
    semi-join on the batch's keys) before bucket counting, and the
    stored gram-set table is pruned to candidate participants before the
    verify joins — per-batch work is O(|batch| + |stored rows touched|),
    never a full-corpus shuffle. False = the comparable-sizes regime
    (initial bulk loads): skip the prune passes, whose broadcast
    barriers only add overhead when there is little to prune. None
    (default) decides from the measured row counts (stored > 4× new).
    BOTH plans produce identical output — within a touched bucket every
    stored row survives the semi-join, so bucket counts equal the
    full-population counts (twin-equality tested for both).

    The returned DataFrame is materialized (the index append would
    otherwise race its own lineage)."""
    C = _c()
    spark = new_docs.sparkSession
    threshold = C.NGRAM_JACCARD_THRESHOLD if threshold is None else threshold
    bucket_cap = C.MINHASH_BUCKET_CAP if bucket_cap is None else bucket_cap
    bands_path = os.path.join(index_root, "bands")
    gsets_path = os.path.join(index_root, "gsets")

    grams = gram_table(new_docs, id_col, text_col).persist()
    new_bands = band_table(grams).persist()
    # persisted: consumed by BOTH the verify join and the index write
    new_sets = gram_sets(grams).persist()
    # any exception must still release executor cache (a long-lived
    # driver retrying failed batches would otherwise leak persisted
    # tables with no handle left to unpersist)
    to_unpersist = [grams, new_bands, new_sets]
    try:
        new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
        # replay after compaction: the batch's prior rows live in
        # consolidated files (no subdir to exclude) — drop them by doc id
        replay_absorbed = partition is not None and partition in _absorbed_partitions(index_root)

        def _stored(path, schema):
            df = _read_or_empty(spark, path, schema, exclude=partition)
            if replay_absorbed:
                df = df.join(F.broadcast(new_ids), "doc_id", "left_anti")
            return df

        stored_bands = _stored(bands_path, BANDS_SCHEMA)
        n_bands = C.MINHASH_N // C.MINHASH_BAND_ROWS
        ndocs = new_docs.count() if prune is not False else 0
        if prune is None:
            # decide from cheap counts WITHOUT forcing the band build:
            # each new doc yields n_bands band rows, so the batch's
            # band-row count is n_bands × |docs| (docs shorter than one
            # gram are the only, negligible, overestimate). The absolute
            # floor is measured, not guessed: the sf0.1 curve in
            # BENCH/dedup_incremental_curve.json (stored 480k band rows,
            # 8× the batch) shows the prune's broadcast barriers costing
            # 23.5 s vs 14.5 s for the full shuffle — below ~2M stored
            # rows the whole index shuffles faster than the prune passes
            # amortize.
            stored_n = stored_bands.count()
            prune = stored_n > max(4 * n_bands * ndocs, int(C.DEDUP_PRUNE_MIN_STORED))
        if prune:
            # Only buckets TOUCHED by the new batch can produce
            # candidates (both sides of a pair share the bucket key and
            # one side is always new), so the stored table is pruned to
            # those buckets FIRST — no full-corpus shuffle per batch.
            new_keys = new_bands.select("band", "bsig").distinct()
            scan = stored_bands
            if n_bands * ndocs <= 20_000:
                # micro-batch: collect the key list and push a literal
                # IN-filter on bsig into the parquet scan — actual
                # row-group min/max skipping on compact_index's
                # bsig-sorted files (a semi-join alone pushes no scan
                # predicate). Superset filter; the exact (band, bsig)
                # semi-join below preserves exactness.
                keys = [r["bsig"] for r in new_keys.collect()]
                scan = scan.where(F.col("bsig").isin(keys))
            relevant_stored = scan.join(F.broadcast(new_keys), ["band", "bsig"], "left_semi")
            relevant = relevant_stored.unionByName(new_bands)
        else:
            relevant = stored_bands.unionByName(new_bands)
        w = Window.partitionBy("band", "bsig")
        sized = relevant.withColumn("bn", F.count(F.lit(1)).over(w)).where(F.col("bn") <= bucket_cap)
        sized_new = sized.join(F.broadcast(new_ids), "doc_id", "left_semi")
        a, b = sized.alias("a"), sized_new.alias("b")
        # candidate pairs where the NEW side participates; least/greatest
        # + distinct dedupes the symmetric new×new matches, and old×old
        # pairs never form because one side is always new
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bsig") == F.col("b.bsig"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("da"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("db"),
            )
            .distinct()
        )
        all_sets = _stored(gsets_path, GSETS_SCHEMA).unionByName(new_sets)
        if prune:
            # prune the corpus-size gram-set table to candidate
            # participants BEFORE the attach joins (candidates are
            # bounded by cap × batch, so their id list broadcasts) —
            # stored gram sets are read by doc-id join only, never
            # shuffled wholesale per batch
            cand = cand.persist()  # reused by the id-prune AND the verify join
            to_unpersist.append(cand)
            cand_ids = (
                cand.select(F.col("da").alias("doc_id"))
                .union(cand.select(F.col("db").alias("doc_id")))
                .distinct()
            )
            sets_rel = all_sets.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        else:
            sets_rel = all_sets
        # eager: sever lineage from the pre-append index state
        pairs = verify_jaccard(cand, sets_rel, threshold).localCheckpoint(eager=True)
        if replay_absorbed:
            pass  # rows already folded into consolidated files — no write
        elif partition is not None:
            new_bands.write.mode("overwrite").parquet(os.path.join(bands_path, partition))
            new_sets.write.mode("overwrite").parquet(os.path.join(gsets_path, partition))
        else:
            new_bands.write.mode("append").parquet(bands_path)
            new_sets.write.mode("append").parquet(gsets_path)
        return pairs
    finally:
        for df in to_unpersist:
            df.unpersist()


def max_bucket_size(spark, index_root: str) -> int:
    """Largest (band, bsig) bucket in the stored index — the cap-margin
    diagnostic (when max < cap, incremental output provably equals the
    one-shot output over the accumulated corpus)."""
    bands = _read_or_empty(spark, os.path.join(index_root, "bands"), BANDS_SCHEMA)
    row = bands.groupBy("band", "bsig").count().agg(F.max("count").alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def compact_index(spark, index_root: str, target_files: int = 8) -> dict:
    """Rewrite the accumulated index into consolidated parquet files.

    The streaming mode accrues one subdir per micro-batch — at corpus
    scale that is the classic small-files problem (a year of 1-minute
    batches is ~500k subdirs; open/list cost dominates the band join).
    Compaction reads every layout the index supports (loose append files
    + complete per-batch subdirs), rewrites each component as
    ``target_files`` files repartitioned AND sorted by its join key (so
    row groups carry tight min/max stats for the prune path's pushed
    IN-filter), and swaps the new layout in via rename. Content is
    preserved exactly — every subsequent ``dedupe_and_append`` sees
    identical band/gram-set populations (equality-tested in
    tests/test_dedup_incremental.py).

    Crash safety: a batch subdir is folded in ONLY when it is
    ``_SUCCESS``-committed in BOTH components — a half-committed batch
    (dedupe_and_append crashed between the bands and gsets writes) is
    carried over untouched in both components for its replay to
    overwrite; folding its committed half and marking it absorbed would
    make the replay skip the other half's write, losing those rows
    permanently. Absorbed batch names are recorded in ``_compacted.txt``
    BEFORE the swap (a replay anti-joins by doc id and skips its write —
    correct whether or not the swap completed), a crash between the two
    renames is healed by ``_recover_component`` on the next read, and
    incomplete (crashed, ``_SUCCESS``-less) batch subdirs are likewise
    carried over untouched. NOT safe concurrently with an in-flight
    write to the same index.

    Returns {"bands_rows": n, "gsets_rows": n} for lineage logging."""
    import shutil as _shutil

    stats = {}
    committed: dict[str, set[str]] = {}
    present: dict[str, set[str]] = {}
    for comp in ("bands", "gsets"):
        path = os.path.join(index_root, comp)
        _recover_component(path)
        _shutil.rmtree(path + "__compacting", ignore_errors=True)  # stale crashed staging
        _shutil.rmtree(path + "__old", ignore_errors=True)  # stale post-swap leftover
        committed[comp], present[comp] = set(), set()
        if os.path.exists(path):
            for e in sorted(os.listdir(path)):
                if os.path.isdir(os.path.join(path, e)) and not e.startswith(("_", ".")):
                    present[comp].add(e)
                    if os.path.exists(os.path.join(path, e, "_SUCCESS")):
                        committed[comp].add(e)
    # fold in only batches committed in BOTH components; every other
    # subdir (crashed write, half-committed batch) carries over verbatim
    absorbed = committed["bands"] & committed["gsets"]
    carry_over = {comp: sorted(present[comp] - absorbed) for comp in present}
    for comp, schema, key in (("bands", BANDS_SCHEMA, "bsig"), ("gsets", GSETS_SCHEMA, "doc_id")):
        path = os.path.join(index_root, comp)
        df = _read_or_empty(spark, path, schema, exclude=set(carry_over[comp]))
        staging = path + "__compacting"
        df.repartition(target_files, key).sortWithinPartitions(key).write.mode("overwrite").parquet(staging)
        stats[f"{comp}_rows"] = spark.read.schema(schema).parquet(staging).count()
    # provenance FIRST: once a batch might be folded in, its replay must
    # switch to doc-id exclusion + write-skip (safe in every crash order)
    if absorbed:
        with open(os.path.join(index_root, "_compacted.txt"), "a") as f:
            for e in sorted(absorbed):
                f.write(e + "\n")
    for comp in ("bands", "gsets"):
        path = os.path.join(index_root, comp)
        old = path + "__old"
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(path + "__compacting", path)
        for e in carry_over[comp]:
            os.rename(os.path.join(old, e), os.path.join(path, e))
        _shutil.rmtree(old, ignore_errors=True)
    return stats


# ---------------------------------------------------------------------------
# connected components over the near-dup pair graph (cluster assignment)
# ---------------------------------------------------------------------------


def _cc_local_finish(e: DataFrame) -> DataFrame:
    """Union-find over an edge set small enough for ONE executor task.

    Any number of large-star/small-star rounds preserves the node set and
    the component structure of the canonical edge set, so components of
    the contracted graph ARE the answer — and once it fits one task, a
    single union-find pass (path compression + union-by-min, so the root
    is always the component's min node id) replaces every remaining
    round's fixed job overhead. Runs executor-side via
    coalesce(1).mapInPandas — the driver never sees an edge."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        nodes = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
        comps = np.fromiter((find(int(x)) for x in nodes), dtype=np.int64, count=len(nodes))
        yield pd.DataFrame({"node": nodes, "component": comps})

    return e.coalesce(1).mapInPandas(fn, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    local_finish_edges: int = 2_000_000,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the last stage of a corpus dedup pipeline: near-dup PAIRS become a
    cluster assignment (one canonical doc per component).

    Returns (node long, component long) for every node that appears in
    ``edges``; ``component`` is the minimum node id in the component.

    Scale shape: each round is groupBy(min) + an equi-join + distinct —
    pure shuffles on node id, no driver-side graph state; the edge set
    only shrinks toward a star forest and the alternation converges in
    O(log^2 n) rounds (1-2 in practice for dense near-dup clusters, vs
    O(diameter) for naive label propagation on chain-shaped clusters).
    Lineage is truncated per round with an eager localCheckpoint, so the
    plan stays constant-size regardless of round count. Termination is
    an EXACT star-forest test (each node is a pure root or a
    single-edge child) checked before each round — one tiny aggregation
    job, no wasted confirm-round, and a loud error instead of silently
    wrong labels if max_iter is ever hit. The driver sees one scalar
    per round.

    ``local_finish_edges``: once the contracted edge set is at most this
    many edges, finish with one executor-side union-find task
    (``_cc_local_finish``) instead of iterating down the tail — the
    standard hybrid (GraphFrames does the same): rounds shrink the graph
    geometrically, so the last few rounds are fixed shuffle overhead on
    a tiny edge set. 2M edges ≈ 32 MB in one task, a few seconds of
    union-find vs 3-4 Spark jobs per saved round. 0 disables (pure
    iterative path, exercised by tests)."""
    # canonical undirected edge (u <= v); ONE distinct shuffle, keeping
    # self-loops so their nodes can be labeled (contract: every node that
    # appears in ``edges`` gets a label)
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes whose ONLY edges are self-loops become singletons at the end
    # (tiny independent checkpoint — usually empty); the rounds never see
    # self-loops
    loop_nodes = (
        canon.where(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .localCheckpoint(eager=True)
    )
    e = canon.where(F.col("u") != F.col("v"))

    def _with_loop_singletons(labels: DataFrame) -> DataFrame:
        extra = loop_nodes.join(labels, "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
        return labels.unionByName(extra)

    def _is_star_forest(edge_df: DataFrame) -> bool:
        # star forest <=> every node is a pure root (never a child) or a
        # pure child of exactly one edge; labels below are only valid then
        roles = edge_df.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("n"), F.lit(1).alias("c")),
                    F.struct(F.col("u").alias("n"), F.lit(0).alias("c")),
                )
            ).alias("x")
        ).select("x.n", "x.c")
        per = roles.groupBy("n").agg(F.sum("c").alias("c"), F.count(F.lit(1)).alias("t"))
        viol = per.where(~((F.col("c") == 0) | ((F.col("c") == 1) & (F.col("t") == 1))))
        return len(viol.take(1)) == 0

    converged = False
    for _ in range(max_iter):
        if local_finish_edges > 0 and e.count() <= local_finish_edges:
            out = _with_loop_singletons(_cc_local_finish(e))
            out = out.localCheckpoint(eager=True)
            e.unpersist()
            canon.unpersist()
            loop_nodes.unpersist()
            return out
        if _is_star_forest(e):
            converged = True
            break
        # large-star: for each node a with m = min(a, N(a)), link every
        # LARGER neighbor b > a to m  (edge (m, b), m <= a < b)
        sym = e.selectExpr("u a", "v b").unionByName(e.selectExpr("v a", "u b"))
        mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
        mins = mins.select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
        e1 = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("m").alias("u"), F.col("b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: link every neighbor b < a (plus a itself) to m
        sym1 = e1.selectExpr("u a", "v b").unionByName(e1.selectExpr("v a", "u b"))
        mins1 = sym1.groupBy("a").agg(F.min("b").alias("mb"))
        mins1 = mins1.select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
        e2 = (
            sym1.join(mins1, "a")
            .where(F.col("b") < F.col("a"))
            .select(F.col("m").alias("u"), F.col("b").alias("v"))
            .unionByName(
                mins1.where(F.col("m") != F.col("a")).select(
                    F.col("m").alias("u"), F.col("a").alias("v")
                )
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        old = e
        e = e2.localCheckpoint(eager=True)
        old.unpersist()
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    labels = e.selectExpr("v node", "u component").unionByName(
        e.selectExpr("u node", "u component")
    )
    # materialize BEFORE releasing the checkpoints the labels derive from
    # (an unpersisted localCheckpoint cannot recompute — lineage is cut);
    # eager checkpoint + unpersist also stops per-call block accumulation
    # in long-lived sessions that run CC once per compaction cycle
    out = _with_loop_singletons(labels.distinct()).localCheckpoint(eager=True)
    e.unpersist()
    canon.unpersist()
    loop_nodes.unpersist()
    return out


# ---------------------------------------------------------------------------
# Exact shared-substring dedup (Lee et al. 2022 "ExactSubstr", Spark shape)
# ---------------------------------------------------------------------------

def _esub_anchors(docs: DataFrame, k: int, id_col: str, text_col: str) -> DataFrame:
    """Positional K-char anchor table (id, i, g): one 60-bit md5-prefix
    hash per character position (row-local transform/filter — no per-row
    Python, no shuffle). Same anchor identity as the DuckDB oracle."""
    expr = F.expr(
        f"filter(transform(sequence(1, greatest(length({text_col}), 1)), "
        f"i -> struct(i as i, substring({text_col}, i, {k}) as s)), "
        f"x -> length(x.s) = {k})"
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(expr).alias("ps")).select(
        "doc_id", F.col("ps.i").alias("i"), hash60(F.col("ps.s")).alias("g")
    )


def _esub_best_spans(m: DataFrame, k: int, step: int) -> DataFrame:
    """Merge aligned anchor matches (da, db, ia, ib) into maximal runs,
    gaps-and-islands style: consecutive ia (spaced exactly ``step``) on
    one (da, db, ia-ib) diagonal form one island of c anchors covering a
    span of (c-1)*step + k characters. Returns per-pair (da, db, ms, ns):
    longest span and number of distinct maximal runs."""
    isl = m.select("da", "db", (F.col("ia") - F.col("ib")).alias("diag"), "ia").withColumn(
        "iid",
        F.col("ia")
        - F.lit(step) * F.row_number().over(Window.partitionBy("da", "db", "diag").orderBy("ia")),
    )
    runs = isl.groupBy("da", "db", "diag", "iid").agg(
        ((F.count(F.lit(1)) - 1) * F.lit(step) + F.lit(k)).alias("span")
    )
    return runs.groupBy("da", "db").agg(F.max("span").alias("ms"), F.count(F.lit(1)).alias("ns"))


# Dense-vs-strided crossover floor (total corpus chars). Measured curve
# in BENCH/esub_crossover.json (analysis in BENCH/BASELINE.md): across
# the entire single-box-measurable range (1.5M-12M chars,
# disjoint-replica scaling) DENSE wins at every point
# (strided ≈ 1.3× dense; at the full bench run's settings 4.1×) — the
# strided config's candidate barriers + dense re-verify cost
# proportionally more than the ~50% probe-anchor shuffle reduction
# saves while the anchor self-join is shuffle-cheap. The crossover
# only arrives when the dense anchor shuffle dominates the job (the
# multi-TB regime the stride knob exists for), so the floor sits above
# everything benchable here: auto mode keeps the measured-faster dense
# plan at every testable scale and reserves strided for cluster scale.
ESUB_AUTO_FLOOR_CHARS = 1_500_000_000


def _esub_choose_stride(total_chars: int, k: int, floor_chars: int) -> int:
    """stride='auto' decision: dense (1) below the measured crossover
    floor, k//2 (the recall-guaranteed maximum for dup_span >= 2k-1)
    above it."""
    return max(k // 2, 1) if total_chars >= floor_chars else 1


def exact_substring_pairs(
    docs: DataFrame,
    k: int = 20,
    dup_span: int = 40,
    stride: int | str = 1,
    anchor_df_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    auto_floor_chars: int | None = None,
) -> DataFrame:
    """Doc pairs sharing a verbatim character run, with exact longest-run
    length — the suffix-array ExactSubstr dedup re-expressed as anchor
    equi-join + run merge (no suffix array, no per-row Python).

    Output: (da, db, max_span, n_spans, is_dup) with da < db.

    ``stride=1`` (default): EXACT — every pair sharing a run >= k chars,
    true max_span/n_spans. This is the oracle twin the driver checks.

    ``stride=t > 1`` (the 100-TB knob): the join's probe side keeps only
    anchors at positions 1, 1+t, 1+2t, ... (index side stays dense), so
    the anchor join shuffles ~(1+1/t)/2 of the dense volume. Any shared
    run of span s contains a probe anchor iff s >= k + t - 1, and its
    detected span is >= s - 2(t-1); candidates are therefore taken at
    detected >= dup_span - 2(t-1) and then EXACTLY re-verified with
    dense anchors restricted (broadcast) to the candidate pairs. Result:
    exactly the stride=1 rows with max_span >= dup_span — guaranteed
    recall for dup pairs (requires dup_span >= k + t - 1, asserted),
    exact spans, sub-dup_span pairs not reported.

    ``anchor_df_cap=c``: drop anchors appearing in > c documents before
    the join (hot boilerplate anchors dominate shuffle volume exactly
    like hot LSH buckets). Lossy ONLY for pairs whose every shared run
    consists solely of capped anchors; recall preservation on real
    corpora is an empirical property (tested on the fixture), not a
    guarantee — same contract as the LSH bucket cap.
    ``stride="auto"``: pick the config from the corpus size (one cheap
    sum-of-lengths scan), mirroring ``dedupe_and_append``'s measured
    prune floor: dense below ``ESUB_AUTO_FLOOR_CHARS`` total characters
    (the strided machinery's fixed barriers cost more than they save
    there — 4.1× at sf0.1), strided ``k//2`` + df-cap 64 above it.
    """
    if stride == "auto":
        total_chars = (
            docs.agg(F.sum(F.length(text_col)).alias("c")).first()["c"] or 0
        )
        stride = _esub_choose_stride(
            total_chars, k, auto_floor_chars
            if auto_floor_chars is not None else ESUB_AUTO_FLOOR_CHARS,
        )
        if stride > 1 and anchor_df_cap is None:
            anchor_df_cap = 64
    if stride > 1 and dup_span < k + stride - 1:
        raise ValueError(
            f"recall guarantee needs dup_span >= k + stride - 1 "
            f"(got dup_span={dup_span}, k={k}, stride={stride})"
        )
    # materialize once (eager localCheckpoint): both join sides read the
    # anchor table instead of re-deriving md5 anchors, and the join gets
    # real size stats (A/B-measured ~2x; see contract.q_exact_substring_pairs)
    pg = _esub_anchors(docs, k, id_col, text_col).localCheckpoint(eager=True)
    pg_dense = pg  # uncapped: the strided re-verify needs TRUE spans
    if anchor_df_cap is not None:
        hot = (
            pg.groupBy("g")
            .agg(F.count_distinct("doc_id").alias("df"))
            .where(F.col("df") > anchor_df_cap)
            .select("g")
        )
        # hot set is tiny by construction (only boilerplate anchors repeat
        # across > cap docs) -> broadcast anti-join, no extra shuffle of pg
        pg = pg.join(F.broadcast(hot), "g", "left_anti")

    probe = pg if stride == 1 else pg.where((F.col("i") - 1) % stride == 0)
    m = (
        probe.alias("a")
        .join(
            pg.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.i").alias("ia"),
            F.col("b.i").alias("ib"),
        )
    )
    if stride == 1:
        best = _esub_best_spans(m, k, 1)
    else:
        # probe anchors within one run sit at consecutive strided
        # positions, but their diagonal partners pin ia steps to exactly
        # `stride` only when both docs advance together — which aligned
        # runs do. Candidate pairs, then dense re-verify:
        cand = (
            _esub_best_spans(m, k, stride)
            .where(F.col("ms") >= dup_span - 2 * (stride - 1))
            .select("da", "db")
        ).localCheckpoint(eager=True)  # consumed three times below
        # prune the dense anchor table to candidate PARTICIPANTS before
        # the verify join — without this the b side reshuffles the WHOLE
        # corpus anchor table per verify (the same mistake the dedup
        # index prune exists to avoid); candidates are assumed
        # broadcast-small, the premise of the broadcast(cand) hint too.
        # pgc MUST come from the UNCAPPED table (pg_dense): the df-cap is
        # a candidate-generation filter only — spans computed with hot
        # anchors removed split runs containing a capped anchor into
        # shorter islands, deflating max_span below the true value.
        cand_ids = (
            cand.select(F.col("da").alias("doc_id"))
            .union(cand.select(F.col("db").alias("doc_id")))
            .distinct()
        )
        pgc = pg_dense.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        pa = (
            pgc.join(F.broadcast(cand), pgc.doc_id == cand.da)
            .select("da", "db", F.col("i").alias("ia"), "g")
            .alias("p")
        )
        m_exact = pa.join(
            pgc.alias("b"), (F.col("b.g") == F.col("p.g")) & (F.col("b.doc_id") == F.col("p.db"))
        ).select("da", "db", "ia", F.col("b.i").alias("ib"))
        best = _esub_best_spans(m_exact, k, 1).where(F.col("ms") >= dup_span)
    return best.select(
        "da",
        "db",
        F.col("ms").cast("long").alias("max_span"),
        F.col("ns").cast("long").alias("n_spans"),
        (F.col("ms") >= dup_span).cast("long").alias("is_dup"),
    )
