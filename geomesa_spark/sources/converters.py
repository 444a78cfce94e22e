"""Config-driven ingest converters (SURVEY.md §2.1 — the analog of
GeoMesa's converter framework, upstream layout
``geomesa-convert/…/convert/{DelimitedText,Json,…}Converter.scala``).

A converter SPEC is a plain dict (the declarative replacement for the
reference's HOCON configs); everything it produces is Catalyst
expressions — no per-row Python anywhere:

    spec = {
        "format": "csv",                       # csv | json | xml | parquet
        "options": {"header": "true"},         # passed to the reader
                                               # (xml: {"rowTag": "site"} —
                                               # Spark 4's native XML source)
        "fields": [                            # SQL exprs over raw columns
            {"name": "name", "expr": "upper(site)"},
            {"name": "lon",  "expr": "cast(x as double)"},
            {"name": "lat",  "expr": "cast(y as double)"},
            {"name": "ts",   "expr": "to_timestamp(seen)"},
        ],
        "id_expr": "md5(concat_ws('|', name, cast(ts as string)))",
        "validate": "lon between -180 and 180 and lat between -90 and 90",
        "geometry": {"lon": "lon", "lat": "lat", "cell_level": 8},
    }

``convert`` → typed DataFrame with ``fid`` + declared fields + derived
index columns (``cell`` at the spec's grid level, ``z2``); invalid rows
are dropped (mode="skip") or routed to a quarantine flag (mode="flag"),
mirroring the reference's validators. ``ingest`` commits the result into
the Iceberg-style manifest table (lineage + cell histogram + resume).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from geomesa_spark.operators.spatial_join import grid_cell_expr


def convert(
    spark: SparkSession,
    path: str,
    spec: dict,
    mode: str = "skip",
) -> DataFrame:
    """Raw files → typed, validated, geo-indexed DataFrame (pure Catalyst;
    the avro fallback path adds one Arrow-batched decode stage)."""
    fmt = spec.get("format", "csv")
    if fmt == "avro":
        raw = _avro_df(spark, path, spec)
    else:
        reader = spark.read.options(**spec.get("options", {}))
        raw = getattr(reader, fmt)(path)
    cols = [F.expr(f["expr"]).alias(f["name"]) for f in spec["fields"]]
    df = raw.select(*cols)
    if "id_expr" in spec:
        df = df.withColumn("fid", F.expr(spec["id_expr"]))
    valid = spec.get("validate")
    if valid:
        if mode == "skip":
            df = df.where(F.expr(valid))
        elif mode == "flag":
            df = df.withColumn("_valid", F.expr(valid))
        else:
            raise ValueError(f"unknown validation mode: {mode}")
    geom = spec.get("geometry")
    if geom:
        level = int(geom.get("cell_level", 8))
        df = df.withColumn("cell", grid_cell_expr(geom["lon"], geom["lat"], level))
        from geomesa_spark.functions.st_functions import st_z2

        df = df.withColumn("z2", st_z2(F.col(geom["lon"]), F.col(geom["lat"])))
    front = ["fid"] if "id_expr" in spec else []
    return df.select(*front, *[c for c in df.columns if c not in front])


def _avro_df(spark: SparkSession, path: str, spec: dict) -> DataFrame:
    """Avro object-container files → DataFrame.

    Probes the native ``spark-avro`` datasource first (the production
    path — one ``--packages org.apache.spark:spark-avro`` away on a real
    cluster); when the module jar is not deployed (this sandbox), falls
    back to the from-scratch decoder in sources/avro_io.py over
    ``binaryFile`` + ``mapInPandas`` — one executor task per container
    file, the unit real Avro ingest parallelizes on.

    Schema comes from ``spec["avro_schema"]`` when given; otherwise ONE
    file's header is read driver-side (bounded: a single file)."""
    try:
        return spark.read.format("avro").load(path)
    except AnalysisException as e:  # "Failed to find data source: avro"
        if "data source" not in str(e).lower():
            raise

    import pandas as pd

    from geomesa_spark.contract import ensure_py_files
    from geomesa_spark.sources import avro_io as A

    ensure_py_files(spark)  # the decode closure imports avro_io on executors
    binary = spark.read.format("binaryFile").load(path).select("path", "content")
    schema = spec.get("avro_schema")
    if schema is None:
        head = binary.select("content").head()
        if head is None:
            raise ValueError(f"no avro files at {path}")
        schema, _ = A.parse_container(bytes(head[0]))
    ddl = A.record_spark_schema(schema)
    field_names = [f["name"] for f in schema["fields"]]

    def decode(batches):
        for pdf in batches:
            frames = [
                pd.DataFrame(A.parse_container(bytes(buf))[1], columns=field_names)
                for buf in pdf["content"]
            ]
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(columns=field_names)
            )

    return binary.mapInPandas(decode, ddl)


_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
}


def avro_schema_for(df: DataFrame, name: str = "export") -> dict:
    """Spark schema → Avro record schema (nullable columns become
    union-with-null), for the export sink."""
    fields = []
    for f in df.schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(f"no avro mapping for column {f.name}: {f.dataType}")
        fields.append({"name": f.name, "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": name, "fields": fields}


def export_avro(df: DataFrame, out_dir: str, codec: str = "deflate") -> int:
    """Export sink (reference parity: ``export --format avro``): each
    Spark partition packs into ONE container file's bytes executor-side
    (Arrow-batched; the blobs DataFrame is fully distributed), then the
    driver streams blobs to ``out_dir`` via ``toLocalIterator`` — one
    partition in memory at a time, the same boundedness any single-
    destination export has. Returns the number of files written."""
    import pandas as pd

    from geomesa_spark.contract import ensure_py_files
    from geomesa_spark.sources import avro_io as A

    ensure_py_files(df.sparkSession)  # pack closure imports avro_io on executors
    schema = avro_schema_for(df)
    cols = [f.name for f in df.schema.fields]

    def _clean(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)  # pandas hands bytearray; the codec wants bytes
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        return v

    def pack(batches):
        rows: list[dict] = []
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                rows.append({c: _clean(rec[c]) for c in cols})
        if rows:
            yield pd.DataFrame({"avro": [A.write_container(schema, rows, codec=codec)]})

    blobs = df.mapInPandas(pack, "avro binary")
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for row in blobs.toLocalIterator():
        with open(os.path.join(out_dir, f"part-{n:05d}.avro"), "wb") as f:
            f.write(bytes(row["avro"]))
        n += 1
    return n


def ingest(
    spark: SparkSession,
    path: str,
    spec: dict,
    root: str,
    op: str,
    partition: str = "0",
) -> DataFrame:
    """convert + manifest-commit: the converted rows land as a committed
    partition of the Iceberg-style table (lineage, cell histogram, resume
    semantics all inherited from sources/manifest)."""
    import glob as _glob

    from geomesa_spark.sources import manifest as M

    if partition in M.completed_partitions(root, op):
        return M.read_table(spark, root, op)
    df = convert(spark, path, spec)
    out_dir = os.path.join(root, "data", op, f"part={partition}")
    df.write.mode("overwrite").parquet(out_dir)
    written = spark.read.parquet(out_dir)
    stats = M.cell_stats(written) if "cell" in written.columns else {"rows": written.count()}
    files = sorted(
        os.path.relpath(p, root) for p in _glob.glob(os.path.join(out_dir, "*.parquet"))
    )
    M.commit_partition(root, op, partition, {"files": files, "input": path, **stats})
    return M.read_table(spark, root, op)
