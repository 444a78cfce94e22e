#!/usr/bin/env python
"""Production-shaped entrypoint: the pages → geo-entities → PIP-join →
tiles pipeline as a spark-submit job (north_rule: "ships via
spark-submit --py-files").

    python geomesa_spark/package_zip.py               # builds dist/geomesa_spark.zip
    spark-submit --master local[32] \
        --py-files dist/geomesa_spark.zip \
        jobs/pip_join_job.py --pages 120000 --out /tmp/pip_out \
        --checkpoint-root /tmp/pip_ckpt --chunks 8

The job is checkpointed: pages are processed in ``--chunks`` id-range
chunks, each committed to the Iceberg-style manifest at
``--checkpoint-root``; a killed run re-submitted with the same arguments
resumes at the first uncommitted chunk (see sources/manifest.py).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=120000)
    ap.add_argument("--out", default="/tmp/pip_join_out")
    ap.add_argument("--checkpoint-root", default="/tmp/pip_join_ckpt")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--level", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("geomesa-spark-pip-join").getOrCreate()

    from geomesa_spark import contract
    from geomesa_spark.operators import spatial_join as SJ
    from geomesa_spark.sources import manifest as M
    from geomesa_spark.sources import synth

    contract.ensure_py_files(spark)

    chunk_size = args.pages // args.chunks

    def make_chunk(spark_, part: str):
        k = int(part)
        pages = synth.pages(spark_, chunk_size).withColumn(
            "url", F.concat(F.lit(f"c{k}-"), F.col("url"))
        )
        ents = contract.extract_entities_df(pages)
        gaz = F.broadcast(
            spark_.createDataFrame(synth.gazetteer_pdf()).withColumnRenamed("name", "entity")
        )
        located = ents.join(gaz, "entity", "inner")
        return SJ.with_grid_cell(located, level=args.level)

    parts = [str(k) for k in range(args.chunks)]
    entities = M.run_checkpointed(
        spark, args.checkpoint_root, "entities", parts, make_chunk, input_desc=f"synth:{chunk_size}"
    )

    joined = SJ.spatial_join(entities, synth.polygons(), strategy="broadcast", level=args.level)
    counts = joined.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_mentions"), F.countDistinct("url").alias("n_pages")
    )
    counts.write.mode("overwrite").parquet(args.out)
    print(f"wrote {counts.count()} polygon rows to {args.out}")
    for row in M.lineage(args.checkpoint_root)[:3]:
        print("lineage:", {k: row[k] for k in ("op", "partition", "rows")})
    spark.stop()


if __name__ == "__main__":
    main()
