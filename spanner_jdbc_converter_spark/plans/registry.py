"""Shared registry for the driver-checked query corpus.

Modules (queries.py, extensions.py, streaming.py) register entries here;
__spark_entry__ and the oracle harness read the combined dicts.  The
session stores several entries share also live here (``session_store``).
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

#: Names in the order register() first saw them — unlike QUERIES, this
#: list is NEVER reordered by the gate-window rotation, so tooling that
#: needs true registration order (scripts/gate_history.py) reads it here.
REGISTRATION_ORDER: list[str] = []


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the corpus.
    ``oracle=None`` ⇒ the driver records a weaker rows-only check."""

    def deco(fn):
        if name not in QUERIES:
            REGISTRATION_ORDER.append(name)
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


class SessionStore:
    """A derivation several corpus entries share, built once per key.

    The key is (Spark application id, absolute fixture dir).  Only the
    current key is kept: a call with a new key first releases every
    other payload, so a long-lived process sweeping fixture dirs or
    restarting its SparkSession does not pin dead persisted frames.
    A per-store lock is held across the build, so concurrent callers
    build once; stores may call other stores from their build as long
    as those calls form no cycle.  A build that raises stores nothing.
    """

    def __init__(self, build: Callable[[SparkSession, str], object]):
        functools.update_wrapper(self, build)
        self.build = build
        #: key -> payload; at most one entry outside a call.
        self.entries: dict[tuple[str, str], object] = {}
        self._lock = threading.Lock()

    def __call__(self, spark: SparkSession, sf_dir: str):
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
        with self._lock:
            for stale in [k for k in self.entries if k != key]:
                _release(self.entries.pop(stale))
            if key not in self.entries:
                self.entries[key] = self.build(spark, sf_dir)
            return self.entries[key]

    def clear(self) -> None:
        """Release and drop every payload."""
        with self._lock:
            while self.entries:
                _release(self.entries.popitem()[1])


def _release(payload: object) -> None:
    """Unpersist the DataFrames of a payload (a frame or a tuple of
    values).  Checkpoint-backed frames hold no cache entry, so this is a
    no-op for them, as for dict payloads.  Best-effort: the payload's
    SparkContext may already be dead."""
    frames = payload if isinstance(payload, tuple) else (payload,)
    for df in frames:
        if isinstance(df, DataFrame):
            try:
                df.unpersist()
            except Exception:
                pass


#: Every session store by name, in definition order.  bench.py primes
#: them all (``prime_session_caches``) untimed before its timed loop:
#: otherwise the first entry to touch a store pays its build, and a
#: registry reorder shows up as a phantom regression.
SESSION_STORES: dict[str, SessionStore] = {}


def session_store(name: str):
    """Decorator: turn ``build(spark, sf_dir) -> payload`` into a
    registered ``SessionStore`` named ``name`` (``"<module>._X_STORE"``,
    the name bench records publish per-store seconds under)."""

    def deco(build):
        store = SESSION_STORES[name] = SessionStore(build)
        return store

    return deco


def materialized(*frames: DataFrame) -> tuple[DataFrame, ...]:
    """Persist each frame MEMORY_AND_DISK and materialize it with one
    count.  On any failure, a cancelled job included, unpersist them all
    so a retry does not orphan cache entries."""
    frames = tuple(df.persist(StorageLevel.MEMORY_AND_DISK) for df in frames)
    try:
        for df in frames:
            df.count()
    except BaseException:
        for df in frames:
            df.unpersist()
        raise
    return frames


def prime_session_caches(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every session store for (spark, sf_dir); returns {store
    name: build seconds} so callers (bench.py) can publish the cost of
    the untimed prime pass per store, not as one opaque total.  Failures
    propagate — a store that cannot build is the same defect as the
    entry that owns it failing."""
    import time

    primed: dict[str, float] = {}
    for name, store in SESSION_STORES.items():
        start = time.perf_counter()
        store(spark, sf_dir)
        primed[name] = round(time.perf_counter() - start, 3)
    return primed
