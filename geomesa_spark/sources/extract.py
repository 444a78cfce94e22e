"""Spec-pinned HTML→text extraction (BASELINE.json input_hint:
"byte-identical extracted text per url vs the reference").

No runnable reference exists in this sandbox (SURVEY.md §0), so the
invariant is operationalized as a pure, deterministic spec (FIXTURES.md §3)
that any reimplementation can match byte-for-byte:

1. decode UTF-8 with errors="replace";
2. drop <script>/<style> subtrees; strip all other tags; unescape the five
   XML entities (&lt; &gt; &quot; &apos; &amp;) plus &nbsp; with
   single-pass (left-to-right, non-recursive) semantics — i.e. "&amp;lt;"
   becomes the literal text "&lt;";
3. collapse runs of [ \\t\\r\\n] to a single space, strip ends,
   NFC-normalize.

All operations are pandas C-level string/regex kernels over Arrow batches —
no per-row Python. ``extract_text`` (scalar) exists for goldens/tests and is
definitionally identical.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

_SCRIPT_RE = re.compile(r"(?is)<script\b[^>]*>.*?</script>")
_STYLE_RE = re.compile(r"(?is)<style\b[^>]*>.*?</style>")
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"[ \t\r\n]+")

# order matters: &amp; must be unescaped LAST for single-pass semantics
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized extraction over a pandas Series of bytes (or str)."""
    if html.dtype == object and len(html) and isinstance(html.iloc[0], (bytes, bytearray)):
        s = html.str.decode("utf-8", errors="replace")
    else:
        s = html.astype("string").astype(object)
    s = s.str.replace(_SCRIPT_RE, "", regex=True)
    s = s.str.replace(_STYLE_RE, "", regex=True)
    s = s.str.replace(_TAG_RE, "", regex=True)
    for ent, rep in _ENTITIES:
        s = s.str.replace(ent, rep, regex=False)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    s = s.str.normalize("NFC")
    return s


def extract_text(html: bytes | str) -> str:
    """Scalar reference implementation (golden tests); identical spec."""
    if isinstance(html, (bytes, bytearray)):
        s = bytes(html).decode("utf-8", errors="replace")
    else:
        s = html
    s = _SCRIPT_RE.sub("", s)
    s = _STYLE_RE.sub("", s)
    s = _TAG_RE.sub("", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    s = _WS_RE.sub(" ", s).strip()
    return unicodedata.normalize("NFC", s)


# The one geo-entity pattern: the Python regexes below and the JVM plan
# (``regexp_extract_all`` in contract.pages_pipeline) all compile this
# string. It uses no construct whose meaning differs between Python's
# ``re`` and ``java.util.regex``: literals and one negated class, which
# matches newlines in both.
GEO_SPAN_PATTERN = r'<span class="geo" data-name="([^"]+)">'

_GEO_SPAN_RE = re.compile(GEO_SPAN_PATTERN)


def extract_entities_series(html: pd.Series) -> pd.Series:
    """All gazetteer mentions per page (list[str]); C-level findall.

    This is the engine's geo-entity extraction step as a pandas kernel —
    the UDTF-shaped 0..n-per-row emitter (SURVEY.md §2.10), exploded by
    the caller. It is the reference the JVM form
    (``regexp_extract_all`` over ``cast(html as string)``) is tested
    against row for row; the two decode malformed UTF-8 differently
    only inside names that contain U+FFFD.
    """
    if html.dtype == object and len(html) and isinstance(html.iloc[0], (bytes, bytearray)):
        s = html.str.decode("utf-8", errors="replace")
    else:
        s = html.astype("string").astype(object)
    return s.str.findall(_GEO_SPAN_RE)


_GEO_SPAN_B = re.compile(GEO_SPAN_PATTERN.encode())


def extract_entities_arrow(col):
    """(row_indices, names) from an Arrow string/binary array in ONE
    regex pass over the array's contiguous DATA BUFFER — no per-row
    Python objects, no utf-8 decode of page bodies.

    Why: the Series form materializes a decoded str copy of every page
    (~1 KB allocation each) before the C regex even runs; on this
    memory-bandwidth-bound VM that allocation traffic is the scaling
    ceiling. An Arrow binary array is already ONE contiguous buffer +
    offsets, so the scan runs over it directly and only the (rare)
    matches allocate. Matches that straddle a row boundary (possible in
    principle: one page ends mid-pattern, the next completes it) are
    discarded by the end-within-row check — semantics identical to the
    per-row findall, asserted in tests against extract_entities_series.
    Entity names decode utf-8/replace per match: byte-equal to decoding
    the page first, because 0x22 ('\"') never occurs inside a multi-byte
    UTF-8 sequence, so the bounded [^\"]+ span covers the same bytes."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    typ = col.type
    wide = pa.types.is_large_binary(typ) or pa.types.is_large_string(typ)
    off_dtype, width = (np.int64, 8) if wide else (np.int32, 4)
    bufs = col.buffers()
    offsets = np.frombuffer(
        bufs[1], dtype=off_dtype, count=len(col) + 1, offset=col.offset * width
    ).astype(np.int64)
    lo, hi = int(offsets[0]), int(offsets[-1])
    mv = memoryview(bufs[2])[lo:hi]
    ms = list(_GEO_SPAN_B.finditer(mv))
    if not ms:
        return np.empty(0, dtype=np.int64), []
    starts = np.fromiter((m.start() for m in ms), dtype=np.int64, count=len(ms)) + lo
    ends = np.fromiter((m.end() for m in ms), dtype=np.int64, count=len(ms)) + lo
    rows = np.searchsorted(offsets, starts, side="right") - 1
    ok = ends <= offsets[rows + 1]
    names = [m.group(1).decode("utf-8", "replace") for m in ms]
    return rows[ok], [n for n, k in zip(names, ok) if k]
