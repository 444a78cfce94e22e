"""Approximate nearest neighbors over embedding columns (driver mandate:
similarity search with a brute-force baseline and LSH / IVF bucketed
scale paths).

``ann_lsh_topk``: random-hyperplane LSH (SimHash for cosine) — each
vector gets an ``nbits``-bit signature from deterministic hyperplanes;
signatures split into bands; vectors sharing any band bucket with a
query become candidates; exact cosine re-ranks the top-k. At 100 TB the
band join is an equi-join on (band, key) — shuffle-partitioned, no
pairwise blowup — while brute force is O(n·q).

``ann_ivf_topk``: IVF (inverted-file) — a coarse k-means quantizer is
trained on a deterministic hash-based sample (bounded driver collect,
independent of table size), every vector is assigned its nearest
centroid executor-side (one Arrow-batched matmul), and each query probes
only its ``nprobe`` closest cells via a broadcast (qid, cluster) join.
The cluster id doubles as a storage partitioning key at scale: writing
the table bucketed by cluster turns every probe into a partition-pruned
scan.

Hyperplanes and sampling are counter-based-deterministic
(synth.hash64 → Box-Muller), so results are reproducible across runs and
cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from geomesa_spark.operators.dedup import lsh_pairs
from geomesa_spark.sources import synth


def _dot(x, y):
    """Codegen fold dot product — ONE definition shared by the brute,
    LSH, IVF, and near-dup cosine expressions so their scores stay
    bit-identical (the twin-equality and shared-oracle claims depend on
    the expression never drifting between paths)."""
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)


def _hyperplanes(dim: int, nbits: int) -> np.ndarray:
    """(nbits, dim) deterministic standard-normal hyperplanes."""
    n = dim * nbits
    i = np.arange(n, dtype=np.uint64)
    u1 = (synth.hash64(i + np.uint64(31)).astype(np.float64) + 1.0) / 2.0**64
    u2 = (synth.hash64(i + np.uint64(77)).astype(np.float64) + 1.0) / 2.0**64
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    return z.reshape(nbits, dim)


def with_lsh_bands(
    df: DataFrame,
    emb_col: str = "embedding",
    nbits: int = 16,
    band_bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Add exploded (band, band_key) rows per vector (the LSH index)."""
    if dim is None:
        first = df.select(F.size(emb_col)).first()
        if first is None or first[0] is None:  # empty input: no bands to build
            return df.withColumn("band", F.lit(0)).withColumn("band_key", F.lit(0)).limit(0)
        dim = int(first[0])
    planes = _hyperplanes(dim, nbits)
    n_bands = nbits // band_bits

    @F.pandas_udf("array<long>")
    def band_keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(emb.to_numpy())  # (batch, dim) float32
        bits = (m.astype(np.float64) @ planes.T) > 0.0  # (batch, nbits)
        keys = np.zeros((len(m), n_bands), dtype=np.int64)
        for b in range(n_bands):
            chunk = bits[:, b * band_bits : (b + 1) * band_bits]
            keys[:, b] = (chunk * (1 << np.arange(band_bits))).sum(axis=1)
        return pd.Series(list(keys))

    out = df.withColumn("bkeys", band_keys(F.col(emb_col)))
    return (
        out.select("*", F.posexplode("bkeys").alias("band", "band_key"))
        .drop("bkeys")
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nbits: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per query (query set = lowest n_queries
    ids), candidates restricted to LSH band-bucket collisions.

    Shuffle discipline: the band join and the candidate ``distinct`` run
    on bare (qid, id) pairs — embedding arrays are attached AFTER dedupe
    (data side by one id equi-join, query side broadcast), so no stage
    shuffles full vectors for rows that dedupe away."""
    e = embeddings.select(id_col, F.col(emb_col).cast("array<double>").alias("de"))
    banded = with_lsh_bands(e, "de", nbits, band_bits)
    q_bands = banded.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), "band", "band_key"
    )
    cand_ids = (
        banded.select(id_col, "band", "band_key")
        .join(F.broadcast(q_bands), ["band", "band_key"])
        .where(F.col(id_col) != F.col("qid"))
        .select("qid", id_col)
        .distinct()
    )
    q_emb = e.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col("de").alias("qe")
    )
    cand = cand_ids.join(e, id_col).join(F.broadcast(q_emb), "qid")
    dot = _dot
    scored = cand.withColumn(
        "score",
        F.round(dot(F.col("de"), F.col("qe")) / (F.sqrt(dot(F.col("de"), F.col("de"))) * F.sqrt(dot(F.col("qe"), F.col("qe")))), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("qid", id_col, "score", "rnk")
        .orderBy("qid", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: coarse k-means quantizer + probe join
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 32,
    sample_max: int = 20_000,
    iters: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> np.ndarray:
    """(n_centroids, dim) L2-normalized k-means centroids (spherical
    k-means — the cosine-similarity quantizer), trained on a
    deterministic hash-based sample. The collect is bounded by
    ``sample_max`` regardless of table size; Lloyd iterations run as
    vectorized numpy on the driver (centroid table is tiny and ships to
    executors by closure broadcast)."""
    n_total = embeddings.count()
    frac_pm = min(1_000_000, int(1_000_000 * sample_max / max(1, n_total)))
    sample = (
        embeddings.select(id_col, emb_col)
        .where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(frac_pm))
        .limit(sample_max)
        .toPandas()
    )
    m = np.stack(sample[emb_col].to_numpy()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(m))
    # deterministic init: spread over the hash-ordered sample
    order = np.argsort(synth.hash64(sample[id_col].to_numpy(np.int64).astype(np.uint64)))
    cent = m[order[np.linspace(0, len(m) - 1, k).astype(int)]].copy()
    for _ in range(iters):
        sims = m @ cent.T                      # (n, k) cosine (all normalized)
        assign = sims.argmax(axis=1)
        for c in range(k):
            sel = m[assign == c]
            if len(sel):
                v = sel.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def with_ivf_cluster(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Assign each vector its nearest (max-cosine) centroid id — one
    Arrow-batched matmul per batch, centroids broadcast by closure.

    mapInPandas, not a pandas_udf expression: when the cluster id feeds a
    join key, Catalyst wraps the key in isnotnull and DUPLICATES an
    expression-UDF to evaluate the filter — two Arrow passes over every
    embedding. A mapInPandas stage is opaque to that rewrite, so the
    matmul runs exactly once (plan audited in PLANS.md)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    schema = StructType(list(df.schema.fields) + [StructField(out_col, IntegerType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: np.array([], dtype=np.int32)})
                continue
            m = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            yield pdf.assign(**{out_col: (m @ cent.T).argmax(axis=1).astype(np.int32)})

    return df.mapInPandas(gen, schema)


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_centroids: int = 32,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per query (query set = lowest n_queries
    ids), candidates restricted to each query's ``nprobe`` nearest IVF
    cells. Same output schema as ``ann_lsh_topk``: (qid, id, score, rnk).

    Shuffle discipline mirrors the LSH path: the probe join runs on
    (cluster) with the tiny (qid, cluster) side broadcast; embeddings
    never shuffle — the data side is already carrying its vector, and
    query vectors attach by broadcast."""
    e = embeddings.select(id_col, F.col(emb_col).cast("array<double>").alias("de"))
    cent = train_ivf_centroids(embeddings, n_centroids, id_col=id_col, emb_col=emb_col)
    clustered = with_ivf_cluster(e, cent, "de")

    q_pdf = e.where(F.col(id_col) < n_queries).toPandas()
    qm = np.stack(q_pdf["de"].to_numpy()).astype(np.float64)
    qm_n = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    probe = np.argsort(-(qm_n @ cent.T), axis=1)[:, : min(nprobe, len(cent))]
    spark = embeddings.sparkSession
    probe_pdf = pd.DataFrame(
        {
            "qid": np.repeat(q_pdf[id_col].to_numpy(), probe.shape[1]),
            "cluster": probe.ravel().astype(np.int32),
        }
    )
    probes = F.broadcast(spark.createDataFrame(probe_pdf))
    q_emb = spark.createDataFrame(q_pdf.rename(columns={id_col: "qid", "de": "qe"}))

    cand = (
        clustered.join(probes, "cluster")
        .where(F.col(id_col) != F.col("qid"))
        .join(F.broadcast(q_emb), "qid")
    )
    dot = _dot
    scored = cand.withColumn(
        "score",
        F.round(dot(F.col("de"), F.col("qe")) / (F.sqrt(dot(F.col("de"), F.col("de"))) * F.sqrt(dot(F.col("qe"), F.col("qe")))), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("qid", id_col, "score", "rnk")
        .orderBy("qid", "rnk")
    )


def embed_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    nbits: int = 16,
    band_bits: int = 4,
    bucket_cap: int = 256,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Corpus-self embedding near-dup pairs, LSH-bucketed — the scale
    twin of the brute O(n²) ``embed_neardup_pairs`` contract query.

    Candidates are id pairs sharing any random-hyperplane band bucket
    (equi-join on (band, band_key); buckets over the cap stop producing
    candidates, the same bounded-work guarantee as the MinHash dedup);
    exact cosine verification runs on candidates only, with the same
    rounded-cosine expression as the brute twin, so every emitted pair
    is bit-identical to a brute pair (precision 1.0 by construction —
    recall measured in tests/test_ann.py against the brute output)."""
    e = embeddings.select(id_col, F.col(emb_col).cast("array<double>").alias("de"))
    banded = with_lsh_bands(e, "de", nbits, band_bits).select(id_col, "band", "band_key")
    cand = lsh_pairs(banded, "band_key", bucket_cap, id_col).select(
        F.col("da").alias("va"), F.col("db").alias("vb")
    )
    dot = _dot
    n = e.withColumn("nrm", F.sqrt(dot(F.col("de"), F.col("de"))))
    sa = n.select(F.col(id_col).alias("va"), F.col("de").alias("ea"), F.col("nrm").alias("na"))
    sb = n.select(F.col(id_col).alias("vb"), F.col("de").alias("eb"), F.col("nrm").alias("nb"))
    cos = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.join(sa, "va")
        .join(sb, "vb")
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("va", "vb", "cos")
        .orderBy("va", "vb")
    )
