"""Seeded inputs. The same ``--seed`` gives the same inputs; the program
under test only ever receives the generated tables."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# pages_geotag: a stored pages parquet table
# ---------------------------------------------------------------------------

PAGES_UNIQUE = 12_000  # synthesized pages (synth.pages_pdf), seed-chosen id range
PAGES_COPIES = 10      # stored copies of each page, each under its own url
PAGES_FILES = 8


def pages_table(seed: int, work: str) -> tuple[str, int]:
    """Synthesize ``PAGES_UNIQUE`` pages over a seed-chosen id range, store
    ``PAGES_COPIES`` copies of each (url suffixed ``#c<k>``, so every
    stored row is a distinct page) in ``PAGES_FILES`` parquet files, and
    return the path and row count. Copies keep synthesis cheap while the
    pipeline still does full per-row work: nothing in it caches across
    rows. Needs no Spark session, so it runs while the session starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geomesa_spark.sources import synth

    base = int(np.random.default_rng(seed).integers(0, 50_000_000))
    pdf = synth.pages_pdf(np.arange(base, base + PAGES_UNIQUE))
    table = pa.concat_tables(
        pa.Table.from_pandas(pdf.assign(url=pdf["url"] + f"#c{k}"), preserve_index=False)
        for k in range(PAGES_COPIES)
    )
    path = os.path.join(work, "pages")
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PAGES_FILES)
    for f in range(PAGES_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:05d}.parquet"))
    return path, table.num_rows


# ---------------------------------------------------------------------------
# spatial query mix (the pages_geotag traced run): an events table shaped
# like the sf0.1 events table
# ---------------------------------------------------------------------------

# The sf0.1 events table of the contract tests: 100k events over 30 days
# of January 2024 in time order, 1,500 users, five event types, values
# roughly exponential with mean 50 (rounded to cents), props {"k": 0..99}.
EVENTS_ROWS = 100_000
EVENTS_USERS = 1_500
EVENTS_DAYS = 30
_EVENT_TYPES = np.asarray(["view", "click", "purchase", "signup", "error"])


def events_dir(seed: int, work: str) -> str:
    """Write ``<dir>/events.parquet`` (event_id, ts, user_id, event_type,
    value, props) and return ``<dir>``. Point coordinates are derived
    from event_id by the contract's spatialization rule, so a seed-chosen
    id range gives a seed-specific point set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = EVENTS_ROWS
    base = int(rng.integers(0, 5_000_000))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, EVENTS_DAYS * 86400 * 1_000_000, n).astype("timedelta64[us]")
    tbl = pa.table(
        {
            "event_id": pa.array(base + np.arange(n, dtype=np.int64)),
            "ts": pa.array(np.sort(ts)),
            "user_id": pa.array(rng.integers(0, EVENTS_USERS, n).astype(np.int64)),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    d = os.path.join(work, "sf")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    return d


# ---------------------------------------------------------------------------
# overlay_udf: distinct operand pairs from the five null-rate classes
# ---------------------------------------------------------------------------

OVERLAY_CLASSES = ("holed_generic", "holed_snapped", "rect_grid", "gc_overlap", "gc_mixed")
OVERLAY_PER_CLASS = 40
OVERLAY_SLICES = 2


def overlay_pairs(seed: int) -> pd.DataFrame:
    """(pair_id, cls, a, b, r, slice): ``OVERLAY_PER_CLASS`` distinct
    pairs from each class of ``jobs/overlay_null_rate.py``'s generator.
    ``r`` is the st_buffer radius applied to operand b (a plain or holed
    polygon in every class). ``slice`` splits the pairs into
    ``OVERLAY_SLICES`` equal parts with the same class mix."""
    from jobs.overlay_null_rate import gen_pair

    rng = np.random.default_rng(seed)
    per_cls = {c: [] for c in OVERLAY_CLASSES}
    seen = set()
    for cls in OVERLAY_CLASSES:
        while len(per_cls[cls]) < OVERLAY_PER_CLASS:
            p = gen_pair(rng, cls)
            if p and p not in seen:
                seen.add(p)
                per_cls[cls].append(p)
    rows = []
    for i in range(OVERLAY_PER_CLASS):
        for cls in OVERLAY_CLASSES:
            a, b = per_cls[cls][i]
            rows.append((len(rows), cls, a, b, round(float(rng.uniform(0.2, 0.8)), 3), i % OVERLAY_SLICES))
    return pd.DataFrame(rows, columns=["pair_id", "cls", "a", "b", "r", "slice"])


# ---------------------------------------------------------------------------
# dedup ingest (the overlay_udf traced run): Caesar-shifted document
# batches, the bench_dedup_curve.py construction
# ---------------------------------------------------------------------------

DEDUP_DOCS = 400      # base documents; each batch is all of them, shifted
DEDUP_BATCHES = 3
DEDUP_NEAR = 0.1      # share of base documents that near-copy an earlier one
DEDUP_WORDS = 2_000   # vocabulary of seeded pseudo-words
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _shift(text: str, k: int) -> str:
    return text.translate(str.maketrans(_ALPHA, _ALPHA[k:] + _ALPHA[:k]))


def dedup_batches(seed: int) -> list[pd.DataFrame]:
    """``DEDUP_BATCHES`` batches of (doc_id, text), the construction of
    ``bench_dedup_curve.py`` over seeded documents: batch i is every base
    document Caesar-shifted by its own seed-chosen offset (every letter
    trigram changes, so batches are new material to each other), except
    a 5% slice that repeats the previous batch's shift verbatim, so every
    later batch also matches against the stored index. A tenth of the
    base documents near-copy an earlier one (one or two words replaced),
    so every batch has near-duplicates within itself too."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(
        ["".join(rng.choice(list(_ALPHA), int(k))) for k in rng.integers(3, 9, DEDUP_WORDS)]
    )
    docs: list[list[str]] = []
    for j in range(DEDUP_DOCS):
        if j > 0 and rng.random() < DEDUP_NEAR:
            words = list(docs[int(rng.integers(0, j))])
            for pos in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[pos] = str(rng.choice(vocab))
        else:
            words = [str(w) for w in rng.choice(vocab, int(rng.integers(30, 80)))]
        docs.append(words)
    base = [" ".join(w) for w in docs]
    shifts = [int(k) for k in rng.permutation(np.arange(1, 26))[:DEDUP_BATCHES]]
    out = []
    for i, k in enumerate(shifts):
        text = [
            _shift(t, shifts[i - 1] if i > 0 and j % 20 == 3 else k) for j, t in enumerate(base)
        ]
        ids = i * 1_000_000 + np.arange(DEDUP_DOCS, dtype=np.int64)
        out.append(pd.DataFrame({"doc_id": ids, "text": text}))
    return out
