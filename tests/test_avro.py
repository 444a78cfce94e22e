"""Avro codec + converter/export tests (SURVEY §2.1 converter-format
parity: delimited/JSON/XML/AVRO; §2.1 export formats).

The from-scratch codec (sources/avro_io.py) is adversarially
cross-validated against the JVM's OWN Apache Avro implementation
(avro-1.12.1.jar ships in Spark's classpath even though the spark-avro
datasource module does not): containers written by our encoder must be
readable by ``org.apache.avro.file.DataFileReader`` with identical
values, and containers written by the JVM must decode identically with
ours — an independent oracle, not a round-trip tautology.
"""

from __future__ import annotations

import json
import os

from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from geomesa_spark.sources import avro_io as A
from geomesa_spark.sources import converters as CV

SITE_SCHEMA = {
    "type": "record",
    "name": "site",
    "fields": [
        {"name": "site", "type": "string"},
        {"name": "x", "type": "double"},
        {"name": "y", "type": "double"},
        {"name": "seen", "type": "string"},
        {"name": "visits", "type": ["null", "long"]},
    ],
}

SITE_ROWS = [
    {"site": "paris", "x": 2.351, "y": 48.857, "seen": "2024-01-01 10:00:00", "visits": 12},
    {"site": "nyc", "x": -74.006, "y": 40.713, "seen": "2024-01-02 11:00:00", "visits": None},
    {"site": "badrow", "x": 999.0, "y": 91.0, "seen": "2024-01-03 12:00:00", "visits": -3},
]


def test_container_roundtrip_all_types():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "opt", "type": ["null", "double"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "meta", "type": {"type": "map", "values": "long"}},
            {"name": "kind", "type": {"type": "enum", "name": "k", "symbols": ["a", "b"]}},
        ],
    }
    rows = [
        {
            "s": f"s{i}",
            "d": i * 1.5,
            "f": 0.5,
            "i": -i,
            "l": i * (1 << 40),
            "b": i % 2 == 0,
            "raw": bytes([i % 256, 7]),
            "opt": None if i % 3 == 0 else i * 0.25,
            "tags": [f"t{i}"],
            "meta": {"n": i, "neg": -i},
            "kind": "a" if i % 2 else "b",
        }
        for i in range(500)
    ]
    for codec in ("null", "deflate"):
        schema2, rows2 = A.parse_container(A.write_container(schema, rows, codec=codec))
        assert schema2 == schema and rows2 == rows
    # deterministic bytes (stable export artifacts)
    assert A.write_container(schema, rows) == A.write_container(schema, rows)
    # empty container round-trips
    assert A.parse_container(A.write_container(schema, []))[1] == []


def test_zigzag_negative_longs():
    schema = {"type": "record", "name": "n", "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, -2, 63, -64, 64, 2**62, -(2**62), -(2**63), 2**63 - 1]
    rows = [{"v": v} for v in vals]
    _, out = A.parse_container(A.write_container(schema, rows, codec="null"))
    assert [r["v"] for r in out] == vals


@pytest.fixture()
def jvm_avro(spark):
    """The JVM-side Apache Avro implementation via the py4j gateway."""
    jvm = spark.sparkContext._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.avro.file.DataFileReader")
    except Exception:
        pytest.skip("avro core jar not on Spark classpath")
    return jvm


def _jvm_read(jvm, path: str) -> tuple[dict, list[str]]:
    """Read a container with org.apache.avro; rows as toString (Avro's
    GenericRecord JSON-ish rendering — enough to compare values)."""
    reader = jvm.org.apache.avro.file.DataFileReader.openReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    schema = json.loads(reader.getSchema().toString())
    rows = []
    while reader.hasNext():
        rows.append(json.loads(str(reader.next())))
    reader.close()
    return schema, rows


def test_our_writer_reads_with_jvm_avro(jvm_avro, tmp_path):
    """Adversarial oracle 1: files WE write must parse with Apache Avro."""
    for codec in ("null", "deflate"):
        p = os.path.join(str(tmp_path), f"ours_{codec}.avro")
        with open(p, "wb") as f:
            f.write(A.write_container(SITE_SCHEMA, SITE_ROWS, codec=codec))
        schema, rows = _jvm_read(jvm_avro, p)
        assert [f["name"] for f in schema["fields"]] == [
            f["name"] for f in SITE_SCHEMA["fields"]
        ]
        assert len(rows) == len(SITE_ROWS)
        assert [r["site"] for r in rows] == [r["site"] for r in SITE_ROWS]
        assert [r["x"] for r in rows] == [r["x"] for r in SITE_ROWS]
        assert [r["visits"] for r in rows] == [r["visits"] for r in SITE_ROWS]


def test_jvm_writer_reads_with_our_decoder(jvm_avro, tmp_path):
    """Adversarial oracle 2: files Apache Avro writes must decode with ours."""
    jvm = jvm_avro
    schema_j = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SITE_SCHEMA))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema_j)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = os.path.join(str(tmp_path), "jvm.avro")
    writer.create(schema_j, jvm.java.io.File(p))
    # Build records JVM-side from Avro-JSON (py4j boxes python ints as
    # Integer, which Avro's union resolver rejects for "long" branches;
    # JsonDecoder keeps the whole value path inside Apache Avro)
    reader_j = jvm.org.apache.avro.generic.GenericDatumReader(schema_j)
    decoder_factory = jvm.org.apache.avro.io.DecoderFactory.get()
    for r in SITE_ROWS:
        avro_json = dict(r)
        if r["visits"] is not None:
            avro_json["visits"] = {"long": r["visits"]}  # union JSON encoding
        dec = decoder_factory.jsonDecoder(schema_j, json.dumps(avro_json))
        writer.append(reader_j.read(None, dec))
    writer.close()
    with open(p, "rb") as f:
        schema, rows = A.parse_container(f.read())
    assert rows == SITE_ROWS


AVRO_SPEC = {
    "format": "avro",
    "fields": [
        {"name": "name", "expr": "upper(site)"},
        {"name": "lon", "expr": "cast(x as double)"},
        {"name": "lat", "expr": "cast(y as double)"},
        {"name": "ts", "expr": "to_timestamp(seen)"},
    ],
    "id_expr": "md5(concat_ws('|', name, cast(ts as string)))",
    "validate": "lon between -180 and 180 and lat between -90 and 90",
    "geometry": {"lon": "lon", "lat": "lat", "cell_level": 8},
}


def test_avro_convert_matches_csv_spec(spark, tmp_path):
    """Converter-format parity: the same logical rows through the avro
    spec give the same fids/cells as the CSV spec (multi-file input →
    one decode task per file)."""
    d = os.path.join(str(tmp_path), "avro_in")
    os.makedirs(d)
    for i, chunk in enumerate([SITE_ROWS[:2], SITE_ROWS[2:]]):
        with open(os.path.join(d, f"chunk{i}.avro"), "wb") as f:
            f.write(A.write_container(SITE_SCHEMA, chunk))
    out = CV.convert(spark, d, AVRO_SPEC).toPandas().sort_values("name")
    assert list(out["name"]) == ["NYC", "PARIS"]  # bad row skipped
    assert {"fid", "cell", "z2"} <= set(out.columns)

    csv_p = os.path.join(str(tmp_path), "sites.csv")
    with open(csv_p, "w") as f:
        f.write("site,x,y,seen\n")
        for r in SITE_ROWS[:2]:
            f.write(f"{r['site']},{r['x']},{r['y']},{r['seen']}\n")
    from tests.test_converters import CSV_SPEC

    via_csv = CV.convert(spark, csv_p, CSV_SPEC).toPandas().sort_values("name")
    assert list(out["fid"]) == list(via_csv["fid"])
    # explicit-schema variant skips the driver-side header peek
    out2 = CV.convert(spark, d, {**AVRO_SPEC, "avro_schema": SITE_SCHEMA}).toPandas()
    assert len(out2) == 2


@pytest.mark.parametrize(
    "exc",
    [
        RuntimeError("executor lost"),
        RuntimeError("lost the connection to the data source"),
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: file:/nowhere"),
    ],
    ids=["other_class", "other_class_same_words", "other_analysis_error"],
)
def test_avro_probe_propagates_other_errors(exc):
    """Only a missing avro datasource falls back to the from-scratch
    decoder; any other failure of the native read propagates."""

    class Reader:
        def format(self, _name):
            return self

        def load(self, _path):
            raise exc

    with pytest.raises(type(exc)) as got:
        CV._avro_df(SimpleNamespace(read=Reader()), "/nowhere", {})
    assert got.value is exc


def test_export_avro_roundtrip(spark, tmp_path, jvm_avro):
    """Export sink: DataFrame → container files → identical DataFrame
    back through the converter; files also parse with Apache Avro."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .selectExpr(
            "event_id",
            "user_id",
            "event_type",
            "cast(value as double) value",
            "cast(ts as string) ts",
        )
        .limit(200)
        .repartition(3)
    )
    out_dir = os.path.join(str(tmp_path), "avro_out")
    n_files = CV.export_avro(df, out_dir)
    assert n_files >= 1
    back = CV._avro_df(spark, out_dir, {}).toPandas().sort_values("event_id")
    orig = df.toPandas().sort_values("event_id")
    assert len(back) == len(orig) == 200
    for c in ["event_id", "user_id", "event_type", "value", "ts"]:
        assert list(back[c]) == list(orig[c]), c
    # independent parse of one exported file with the JVM implementation
    first = sorted(os.listdir(out_dir))[0]
    schema, rows = _jvm_read(jvm_avro, os.path.join(out_dir, first))
    assert len(rows) > 0 and {f["name"] for f in schema["fields"]} == set(orig.columns)
