"""geomesa_spark — a from-scratch, PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of GeoMesa
(reference: Afterglow375/geomesa, a fork of locationtech/geomesa — see
SURVEY.md for the operator inventory and upstream-layout citations) as
idiomatic Spark DataFrame operators:

- ``functions.cells``    — pure-numpy space-filling-curve cell math
  (Z2/Z3 Morton, GeoHash base-32, S2 level-12, equirectangular grid)
  replacing GeoMesa's ``geomesa-z3`` curve package and
  ``geomesa-utils`` GeoHash (SURVEY.md §2.3).
- ``functions.geometry`` — vectorized numpy WKT/PIP/haversine replacing
  JTS (no shapely in this environment; SURVEY.md §0).
- ``operators``          — spatial_join (broadcast + sort-merge + salted),
  kNN expand-ring join, tiling/mosaic, stats sketches, dedup,
  similarity search (SURVEY.md §2.4–2.8).
- ``sources``            — deterministic pages/gazetteer/polygon
  synthesis, spec-pinned text extraction, Iceberg-style manifest
  (partitioned parquet + JSON snapshots with per-partition lineage,
  stats, and resume).
- ``streaming``          — Structured Streaming live-view / replay
  semantics of geomesa-kafka (SURVEY.md §2.9).

All heavy math is JVM-side Catalyst expressions where possible and
Arrow-vectorized pandas UDFs otherwise; no per-row Python anywhere
(BASELINE.json input_hint mandate).

Importing the package also installs, once per process, a stat guard on
``zipimport.zipimporter.invalidate_caches`` (see
``_guard_zip_invalidation``).
"""

import os as _os
import sys as _sys
import zipimport as _zipimport

__version__ = "0.1.0"


def _guard_zip_invalidation() -> None:
    """Re-read a zip archive's directory on ``importlib.invalidate_caches()``
    only when the archive changed on disk.

    A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task. Before Python 3.12, which made it lazy,
    ``zipimporter.invalidate_caches`` re-parses the whole archive
    directory at once, and a worker holds one zipimporter per package
    directory it imported from a zip, so every task re-parses
    ``pyspark.zip``'s directory once per such package (``PLANS.md`` note
    6 has the measured cost). The guard keeps the eager re-read for an
    archive whose ``(st_mtime_ns, st_size, st_ino)`` moved since its last
    read (the inode catches an ``os.replace`` rebuild) and otherwise hands
    the importer the directory already in
    ``zipimport._zip_directory_cache``. Any Python worker that unpickles a
    ``geomesa_spark`` function imports this module, and workers are
    reused, so every later task pays a few ``stat`` calls instead."""
    eager = _zipimport.zipimporter.invalidate_caches
    if _sys.version_info >= (3, 12) or getattr(eager, "stat_guarded", False):
        return
    read_at: dict[str, tuple] = {}  # archive -> stat signature of its last read

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        files = _zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        eager(self)  # stat first: a change during the read shows next time
        read_at[self.archive] = sig

    invalidate_caches.stat_guarded = True
    _zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()
