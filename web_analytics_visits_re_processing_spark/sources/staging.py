"""Staged intermediates: the one place a derived table or driver-side
value shared by several queries is keyed, refreshed and freed.

Two entry points:

- ``staged(spark, sf_dir, name, build)`` writes ``build()`` to parquet
  under the process's stage root and returns the read-back frame.
  Staging is write-once + read back, NOT ``persist()``: a DataFrame
  DAG prints (and analyzes) as a TREE, so every ``InMemoryTableScan``
  re-prints its full cached build plan (the wedge queries' audited
  plans once reached ~2000 exchange lines), and a persisted frame
  dies with the SparkContext that cached it. A parquet leaf truncates
  lineage for real and outlives a session restart. This is also the
  100 TB shape: a many-consumer intermediate becomes a staging table
  rather than being re-derived per consumer. ``localCheckpoint()`` is
  avoided because its blocks cannot be released by ``unpersist`` and
  are lost with their executor.
- ``memo(spark, sf_dir, name, fn)`` caches a value computed on the
  driver (a corpus count, a centroid sample, a table-name tuple).

Both share one cache key, ``(name, applicationId, abspath(sf_dir),
fixture fingerprint)``, and one slot per name: a new key (another
fixture, a regenerated fixture, or a new SparkContext after
``spark.stop()``) rebuilds, and the superseded entry and its directory
are deleted. The application id, unlike a session object's address,
is never recycled, and a stopped context's entries are dropped
without calling into its JVM. Nothing persists across processes:
the stage root is one ``mkdtemp`` removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_ROOT: str | None = None
# cache key → (value, staged directory or None)
_ENTRIES: dict = {}
_SEQ = itertools.count()


def stage_root() -> str:
    """The process's single stage root, created on first use and
    removed at interpreter exit."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="wavrp_stage_")
        atexit.register(shutil.rmtree, _ROOT, True)
    return _ROOT


def fixture_fingerprint(sf_dir: str) -> tuple:
    """(relpath, mtime_ns, size) of every data file under ``sf_dir``
    — the freshness part of the key: fixtures regenerate between
    rounds, and an entry derived from the PREVIOUS file set must not
    answer reads against the new one (the oracle reads the new files
    directly, so a stale hit is a spurious gate failure)."""
    out = []
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out.append((os.path.relpath(p, sf_dir), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def _cached(spark: SparkSession, sf_dir: str, name: str, make):
    key = (
        name,
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        fixture_fingerprint(sf_dir),
    )
    hit = _ENTRIES.get(key)
    if hit is not None:
        return hit[0]
    for old in [k for k in _ENTRIES if k[0] == name]:
        path = _ENTRIES.pop(old)[1]
        if path is not None:
            shutil.rmtree(path, ignore_errors=True)
    value, path = make()
    _ENTRIES[key] = (value, path)
    return value


def staged(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """``build()`` written once per key as parquet and read back."""

    def make():
        path = os.path.join(stage_root(), str(next(_SEQ)), name)
        build().write.parquet(path)
        return spark.read.parquet(path), os.path.dirname(path)

    return _cached(spark, sf_dir, name, make)


def memo(spark: SparkSession, sf_dir: str, name: str, fn):
    """``fn()`` computed once per key on the driver."""
    return _cached(spark, sf_dir, name, lambda: (fn(), None))
