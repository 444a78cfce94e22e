"""Deterministic synthesis of the north-rule input table and fixtures.

BASELINE.json input_hint pins the input shape:
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
— Common-Crawl-style web pages. No external data exists in the sandbox, so
pages/gazetteer/polygons are synthesized deterministically (seed 42,
counter-based splitmix64 keyed on doc_id — never wall-clock, never global
RNG state), per FIXTURES.md §1/§2/§4. Re-generation is byte-identical,
which is what makes the "byte-identical extracted text per url" invariant
testable across runs and implementations.

Generation is distributed: ``pages(spark, n)`` builds the table via
``spark.range(n).mapInArrow`` so the same code synthesizes 10^3 rows for
tests or (on a real cluster) arbitrarily many — each batch depends only on
its doc_ids.
"""

from __future__ import annotations

import functools

from dataclasses import dataclass

import numpy as np
import pandas as pd

from geomesa_spark.functions import geometry as geo
from geomesa_spark.sources.extract import extract_text_series

# ---------------------------------------------------------------------------
# counter-based deterministic hashing (splitmix64)
# ---------------------------------------------------------------------------


def hash64(x) -> np.ndarray:
    """splitmix64 over uint64 (vectorized, wraps silently)."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x


def _uniform(x, lo: float, hi: float) -> np.ndarray:
    return lo + (hi - lo) * (hash64(x).astype(np.float64) / 2.0**64)


# ---------------------------------------------------------------------------
# gazetteer (FIXTURES.md §2)
# ---------------------------------------------------------------------------

HOT_CITIES = [
    ("alphaville", 2.351, 48.857),   # one hot S2 cell each — skew fixtures
    ("betatown", -74.006, 40.713),
    ("gammaburg", 139.692, 35.69),
]
N_CITIES = 1000


def gazetteer_pdf() -> pd.DataFrame:
    i = np.arange(N_CITIES, dtype=np.uint64)
    lon = np.clip(_uniform(i, -180.0, 180.0), -179.9, 179.9)
    lat = _uniform(i + np.uint64(7000), -85.0, 85.0)
    # pin a few for antimeridian / pole / equator edge tests
    lon[0], lat[0] = 0.0005, 0.0005
    lon[1], lat[1] = 179.95, 12.0
    lon[2], lat[2] = -179.95, 12.0
    lon[3], lat[3] = 10.0, 84.9
    lon[4], lat[4] = 10.0, -84.9
    names = [f"city{k:04d}" for k in range(N_CITIES)]
    pdf = pd.DataFrame({"name": names, "lon": lon, "lat": lat})
    hot = pd.DataFrame(
        {"name": [n for n, _, _ in HOT_CITIES],
         "lon": [x for _, x, _ in HOT_CITIES],
         "lat": [y for _, _, y in HOT_CITIES]}
    )
    return pd.concat([pdf, hot], ignore_index=True)


# ---------------------------------------------------------------------------
# polygons (FIXTURES.md §4) — the broadcastable dim side of the PIP join
# ---------------------------------------------------------------------------


@dataclass
class Polygon:
    polygon_id: int
    name: str
    category: str
    coords: np.ndarray        # (n, 2) float64, rings closed
    ring_offsets: np.ndarray  # int64, ends with n

    def wkt(self) -> str:
        return geo.wkt_polygon(self.coords, self.ring_offsets)


def _ring(pts) -> np.ndarray:
    a = np.asarray(pts, dtype=np.float64)
    return np.vstack([a, a[:1]])


def _box(lon0, lat0, w, h) -> np.ndarray:
    return geo.make_bbox_ring(lon0, lat0, lon0 + w, lat0 + h)


@functools.lru_cache(maxsize=1)
def polygons() -> list[Polygon]:
    """Deterministic fixture polygon set: 150 grid boxes (GeoMesa
    SparkSQLSpatialRelationshipsTest box-grid shape), 25 concave U-shapes,
    10 with holes, 3 hot-city covers (skew), 6 edge cases.

    Cached (same list object per process) so downstream cover computations
    can memoize on identity. Callers must not mutate the result."""
    out: list[Polygon] = []
    pid = 0

    def add(category, coords, offsets=None):
        nonlocal pid
        if offsets is None:
            offsets = np.asarray([0, len(coords)], dtype=np.int64)
        out.append(Polygon(pid, f"zone{pid}", category, np.asarray(coords, dtype=np.float64), np.asarray(offsets, dtype=np.int64)))
        pid += 1

    # 150 separated grid boxes, 15 cols x 10 rows, 16 x 9 degrees
    for i in range(150):
        c, r = i % 15, i // 15
        add("grid", _box(-170.0 + c * 22.0, -60.0 + r * 12.0, 16.0, 9.0))

    # 25 concave U shapes, 9x9 outline with a 3-wide notch
    for i in range(25):
        lon0 = -160.0 + (i % 13) * 24.0
        lat0 = -75.0 + (i // 13) * 145.0  # two bands well clear of the grid
        u = np.asarray(
            [
                [0, 0], [9, 0], [9, 9], [6, 9], [6, 3], [3, 3], [3, 9], [0, 9], [0, 0]
            ],
            dtype=np.float64,
        )
        add("concave", u + np.asarray([lon0, lat0]))

    # 10 boxes with centered holes
    for i in range(10):
        lon0 = -150.0 + i * 30.0
        lat0 = 62.0
        outer = _box(lon0, lat0, 8.0, 8.0)
        hole = _box(lon0 + 3.0, lat0 + 3.0, 2.5, 2.5)[::-1]  # reversed winding
        add("hole", np.vstack([outer, hole]), [0, 5, 10])

    # 3 hot-city covers (2 x 2 degrees) — exercise salting
    for name, lon, lat in HOT_CITIES:
        add("hot", _box(lon - 1.0, lat - 1.0, 2.0, 2.0))

    # edge cases: pole-adjacent, thin sliver, antimeridian halves, vertex probe
    add("edge", _box(-30.0, 84.0, 20.0, 5.9))          # near north pole
    add("edge", _box(50.0, -89.9, 20.0, 5.0))          # near south pole
    add("edge", _box(100.0, -20.0, 0.01, 30.0))        # degenerate-thin
    add("edge", _box(179.0, -10.0, 1.0, 20.0))         # east antimeridian half
    add("edge", _box(-180.0, -10.0, 1.0, 20.0))        # west antimeridian half
    add("edge", _ring([[20, -40], [30, -40], [20, -30]]))  # triangle (vertex probes)
    return out


# ---------------------------------------------------------------------------
# pages (FIXTURES.md §1) — the north-rule input table
# ---------------------------------------------------------------------------

_VOCAB = np.asarray(
    (
        "the quick brown fox jumps over lazy dog while seven wizards brew "
        "quartz elixirs beneath glowing archways every morning villagers "
        "trade copper beads for woven baskets along river terraces where "
        "ancient mills grind amber grain into flour merchants carry maps "
        "signals drift across harbor towers during winter festivals children "
        "chase paper lanterns through narrow streets past marble fountains"
    ).split()
)

_LANGS = np.asarray(["en", "de", "fr", "es", "pt", "zh"])
_LANG_CUM = np.asarray([55, 67, 77, 86, 94, 100])  # zipf-ish toward en

WARC_EPOCH = 1735689600  # 2025-01-01T00:00:00Z
_GAZ = gazetteer_pdf()
_GAZ_NAMES = _GAZ["name"].to_numpy()
_N_GAZ_REG = N_CITIES  # regular cities; hot are the trailing 3


def pages_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Generate a batch of pages for the given doc_ids (deterministic)."""
    ids = np.asarray(ids, dtype=np.uint64)
    n = len(ids)
    urls = pd.array([f"https://site{int(i) % 1000}.example/p/{int(i)}" for i in ids], dtype="string")
    ts = WARC_EPOCH + (hash64(ids * np.uint64(17)) % np.uint64(365 * 86400)).astype(np.int64)
    lang_draw = (hash64(ids * np.uint64(13) + np.uint64(1)) % np.uint64(100)).astype(np.int64)
    lang = _LANGS[np.searchsorted(_LANG_CUM, lang_draw, side="right")]

    n_para = 1 + (hash64(ids * np.uint64(3)) % np.uint64(8)).astype(np.int64)
    n_ment = (hash64(ids * np.uint64(7) + np.uint64(3)) % np.uint64(6)).astype(np.int64)

    htmls = []
    for k in range(n):
        i = int(ids[k])
        parts = [
            f"<html><head><title>Page {i}</title>",
            "<style>body { font: 12px serif; }</style>",
            '<script>var tracker = "no";</script></head>\r\n<body>',
        ]
        for p in range(int(n_para[k])):
            nw = 8 + int(hash64(np.uint64(i * 131 + p * 7 + 11))[()] % np.uint64(13))
            widx = (
                hash64(np.uint64(i) * np.uint64(1009) + np.uint64(p) * np.uint64(97) + np.arange(nw, dtype=np.uint64))
                % np.uint64(len(_VOCAB))
            ).astype(np.int64)
            words = " ".join(_VOCAB[widx])
            deco = "<b><i>" + words + "</i></b>" if p % 3 == 2 else words
            parts.append(f"<p>{deco} &amp; more.</p>\r\n")
        for m in range(int(n_ment[k])):
            hsel = int(hash64(np.uint64(i * 11 + m))[()] % np.uint64(10))
            if hsel < 2:  # 20% hot-city skew (FIXTURES.md §1)
                name = _GAZ_NAMES[_N_GAZ_REG + int(hash64(np.uint64(i * 29 + m))[()] % np.uint64(3))]
            else:
                name = _GAZ_NAMES[int(hash64(np.uint64(i * 31 + m + 5))[()] % np.uint64(_N_GAZ_REG))]
            parts.append(f'<p>visit <span class="geo" data-name="{name}">{name}</span> soon</p>\n')
        parts.append("</body></html>")
        htmls.append("".join(parts).encode("utf-8"))

    pdf = pd.DataFrame(
        {
            "url": urls.astype(object),
            "warc_ts": pd.to_datetime(ts, unit="s").astype("datetime64[us]"),
            "html": htmls,
            "lang": lang,
        }
    )
    pdf["text"] = extract_text_series(pdf["html"])
    return pdf[["url", "warc_ts", "html", "text", "lang"]]


PAGES_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages(spark, n: int, partitions: int | None = None):
    """Distributed deterministic pages table as a Spark DataFrame."""
    import pyarrow as pa

    parts = partitions or max(1, min(200, n // 5000))

    def gen(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy()
            pdf = pages_pdf(ids)
            yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    return (
        spark.range(0, n, 1, parts)
        .mapInArrow(gen, PAGES_SCHEMA_DDL)
    )
