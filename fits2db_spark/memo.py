"""One memo for per-session intermediates, keyed on data identity.

Operators that share an expensive intermediate across calls (a persisted
edge list, a trained codebook, a drained memory sink, a staged scratch
file) get it through :func:`memo`. The contract, for every such result:

* **Key.** ``(applicationId, sf_dir, name)``. ``name`` carries any build
  parameters, e.g. ``"ivf-lloyd:k16:i3"``.
* **Validity.** Each entry stores a fingerprint of ``sf_dir``:
  ``(relpath, size, mtime_ns)`` for every file under it. It is filesystem
  metadata only, so checking it launches no Spark job. A lookup whose
  fingerprint differs from the stored one rebuilds, so data rewritten in
  place under the same path is never answered from the old result.
* **Displacement.** Inserting an entry releases every entry that belongs to
  another ``(applicationId, sf_dir)`` or to an older fingerprint of this
  one, so a session holds memos for one data dir at a time.
* **Release.** Unpersist the value, free its ``localCheckpoint`` blocks, and
  drop the memory-sink view when the value is a :class:`SinkView`.
  :func:`evict` releases every entry.

:func:`stats` reports hits, misses and build seconds per key; the counts
outlive releases.
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# key -> (fingerprint, value, session that built it)
_ENTRIES: dict[tuple[str, str, str], tuple[tuple, object, SparkSession]] = {}
_STATS: dict[tuple[str, str, str], dict] = {}


class SinkView(str):
    """Name of a memory-sink temp view; releasing its entry drops the view."""


def fingerprint(sf_dir: str) -> tuple:
    """``(relpath, size, mtime_ns)`` of every file under ``sf_dir``, sorted."""
    out = []
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(root, f)
            st = os.stat(path)
            out.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(out)


def digest(sf_dir: str) -> str:
    """Short hex digest of :func:`fingerprint`, for paths derived from data."""
    return hashlib.sha1(repr(fingerprint(sf_dir)).encode()).hexdigest()[:12]


def free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame.  ``DataFrame.unpersist()`` only talks to the cache manager and
    leaves checkpoint blocks alone (they belong to the internal RDD wrapped
    by the ``LogicalRDD`` leaf), so iterative operators that cut lineage per
    round would otherwise leak one block set per cut until the JVM
    ContextCleaner happens to run.  The frame is unreadable afterwards —
    only call on superseded intermediates."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # non-LogicalRDD plan or already cleaned — nothing to free


def _release(value: object, spark: SparkSession) -> None:
    try:
        if isinstance(value, DataFrame):
            value.unpersist()
            free_local_checkpoint(value)
        elif isinstance(value, SinkView):
            spark.catalog.dropTempView(value)
    except Exception:
        pass  # session already stopped: nothing left to free


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    """Return the entry for ``(applicationId, sf_dir, name)``, calling
    ``build()`` when it is missing or its data changed (module docstring)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    fp = fingerprint(sf_dir)
    st = _STATS.setdefault(key, {"hits": 0, "misses": 0, "build_s": 0.0})
    entry = _ENTRIES.get(key)
    if entry is not None and entry[0] == fp:
        st["hits"] += 1
        return entry[1]
    for k in [k for k, e in _ENTRIES.items() if k[:2] != key[:2] or e[0] != fp]:
        _release(*_ENTRIES.pop(k)[1:])
    st["misses"] += 1
    t0 = time.perf_counter()
    value = build()
    st["build_s"] += time.perf_counter() - t0
    _ENTRIES[key] = (fp, value, spark)
    return value


def evict() -> None:
    """Release every entry."""
    while _ENTRIES:
        _release(*_ENTRIES.popitem()[1][1:])


def stats() -> dict[tuple[str, str, str], dict]:
    """``{(applicationId, sf_dir, name): {"hits", "misses", "build_s"}}``."""
    return {k: dict(v) for k, v in _STATS.items()}
