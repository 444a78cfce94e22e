"""Fused vs declarative pages pipeline equality (operator-fusion safety),
and the pieces the fused Catalyst plan rests on: JVM extraction equal to
the Python kernel, the driver-side entity→polygon table equal to the
distributed PIP join, and no Python worker on the executed plan."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from geomesa_spark import contract
from geomesa_spark.operators import spatial_join as SJ
from geomesa_spark.sources import synth
from geomesa_spark.sources.extract import GEO_SPAN_PATTERN, extract_entities_series

PINNED_CITIES = ["city0000", "city0001", "city0002", "city0003", "city0004"]  # equator, antimeridian ×2, poles
HOT_NAMES = [n for n, _, _ in synth.HOT_CITIES]


def test_fused_equals_declarative(spark):
    a = contract.pages_pipeline(spark, 800, fused=True).toPandas()
    b = contract.pages_pipeline(spark, 800, fused=False).toPandas()
    a = a.sort_values("polygon_id").reset_index(drop=True)
    b = b.sort_values("polygon_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


@pytest.fixture(scope="module")
def stored_pages(spark, tmp_path_factory):
    """A stored pages parquet table: synthesized pages (a sixth of them
    mention nothing) plus pages with no span at all, a mention of a name
    missing from the gazetteer, and a missing name beside a real one."""
    pdf = synth.pages_pdf(np.arange(400))
    extra = pdf.iloc[:3].copy()
    extra["url"] = [f"https://extra.example/{k}" for k in range(3)]
    extra["html"] = [
        b"<html><body><p>nothing to geotag</p></body></html>",
        b'<p><span class="geo" data-name="Atlantis">Atlantis</span></p>',
        b'<span class="geo" data-name="Atlantis">a</span><span class="geo" data-name="alphaville">b</span>',
    ]
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pq.write_table(pa.Table.from_pandas(pd.concat([pdf, extra], ignore_index=True), preserve_index=False), path)
    return spark.read.parquet(path)


def test_fused_equals_declarative_stored(spark, stored_pages):
    n_ment = extract_entities_series(stored_pages.select("html").toPandas()["html"]).str.len()
    assert (n_ment == 0).sum() > 1  # zero-mention pages are in the table
    a = contract.pages_pipeline(spark, pages_df=stored_pages, fused=True).collect()
    b = contract.pages_pipeline(spark, pages_df=stored_pages, fused=False).collect()
    assert a == b and len(a) > 0


def _plan_nodes(df) -> list[str]:
    """Node names of the executed physical plan, descending through AQE's
    final plan and its query stages."""
    out: list[str] = []

    def walk(p):
        out.append(p.nodeName())
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_fused_plan_has_no_python_worker(spark, stored_pages):
    python_nodes = {"MapInArrow", "ArrowEvalPython", "BatchEvalPython"}
    df = contract.pages_pipeline(spark, pages_df=stored_pages, fused=True)
    df.collect()
    nodes = _plan_nodes(df)
    assert not python_nodes & set(nodes), nodes
    assert nodes.count("BroadcastHashJoin") == 1, nodes
    # the walker does see Python nodes: the oracle composition has them
    ref = contract.pages_pipeline(spark, pages_df=stored_pages, fused=False)
    ref.collect()
    assert {"MapInArrow", "ArrowEvalPython"} <= set(_plan_nodes(ref))


def test_jvm_extraction_equals_series(spark):
    """``regexp_extract_all`` over ``cast(html as string)`` (the fused
    plan's extraction) agrees row for row with extract_entities_series,
    on the pages of tests/test_extract_synth.py's Arrow-vs-Series test
    plus the edge cases below. The one known divergence — a UTF-16
    surrogate byte run decodes to one U+FFFD in Java and one per byte in
    Python — is pinned: both sides carry U+FFFD, neither matches the
    gazetteer."""
    pages = [
        b'x<span class="geo" data-name="Paris">y</span>z',
        b"no entities here",
        b'<span class="geo" data-name="Tokyo">a'
        b'<span class="geo" data-name="S\xc3\xa3o Paulo">b',
        b"",
        b'tail <span class="geo" data-na',
        b'me="Ghost"> head',
        b'<span class="geo" data-name="K\xffv">bad-utf8 name',
        b'<span class="geo" data-name="">empty name',
        b'<span class="geo" data-name="New\nYork">newline',
        b'<span class="geo" data-name="O"Hare">stray quote</span> "x"'
        b'<span class="geo" data-name="Lyon">',
        None,
        b'<SPAN class="geo" data-name="Rome">upper',
        b'\xe2\x82<span class="geo" data-name="Oslo">truncated multi-byte before',
    ]
    surrogate = b'<span class="geo" data-name="X\xed\xa0\x80Y">'
    df = spark.createDataFrame(list(enumerate(pages + [surrogate])), "id long, html binary")
    got = (
        df.select(
            "id",
            F.posexplode(
                F.regexp_extract_all(F.col("html").cast("string"), F.lit(GEO_SPAN_PATTERN), F.lit(1))
            ),
        )
        .orderBy("id", "pos")
        .collect()
    )
    jvm = [(r["id"], r["col"]) for r in got]
    want = extract_entities_series(pd.Series(pages + [surrogate], dtype=object))
    py = [(i, n) for i, lst in want.items() if isinstance(lst, list) for n in lst]
    k = len(pages)
    assert [r for r in jvm if r[0] != k] == [r for r in py if r[0] != k]
    assert "New\nYork" in [n for _, n in py] and "Oslo" in [n for _, n in py]
    assert not {"Ghost", "", "Rome"} & {n for _, n in py}
    (jvm_s,) = [n for i, n in jvm if i == k]
    (py_s,) = [n for i, n in py if i == k]
    assert jvm_s != py_s and "\ufffd" in jvm_s and "\ufffd" in py_s
    tags = set(contract.entity_polygon_pdf(contract.GRID_LEVEL)["entity"])
    assert jvm_s not in tags and py_s not in tags


def test_entity_polygon_pdf_equals_pip_join(spark):
    """The hoisted driver-side table equals the distributed broadcast PIP
    join over the gazetteer points, row multiplicity included, and the
    numpy cell encoding it uses equals the Catalyst one on every
    gazetteer point (the pinned antimeridian, pole and equator cities
    and the hot cities among them)."""
    from geomesa_spark.functions import cells as C

    level = contract.GRID_LEVEL
    tags = contract.entity_polygon_pdf(level)
    gaz = synth.gazetteer_pdf().rename(columns={"name": "entity"})
    pts = spark.createDataFrame(gaz)
    joined = SJ.spatial_join(pts, synth.polygons(), strategy="broadcast", level=level).select("entity", "polygon_id").collect()
    want = sorted((r["entity"], r["polygon_id"]) for r in joined)
    assert sorted(tags.itertuples(index=False, name=None)) == want
    assert not tags.duplicated().any()
    assert {e for e, _ in want} >= set(HOT_NAMES)
    for name in PINNED_CITIES + HOT_NAMES:
        assert sorted(tags.loc[tags["entity"] == name, "polygon_id"]) == sorted(p for e, p in want if e == name)
    cells = SJ.with_grid_cell(pts, level=level).orderBy("entity").select("entity", "cell").toPandas()
    mine = gaz.assign(cell=C.grid_encode(gaz["lon"].to_numpy(), gaz["lat"].to_numpy(), level))
    mine = mine.sort_values("entity")[["entity", "cell"]].reset_index(drop=True)
    assert mine["entity"].isin(PINNED_CITIES).sum() == len(PINNED_CITIES)
    pd.testing.assert_frame_equal(mine, cells, check_dtype=False)
