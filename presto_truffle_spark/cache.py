"""Scoped persist: bounded caching for multi-consumer intermediates.

Several operators persist a REDUCED intermediate that multiple plan
branches consume (SCALING.md rescan rule: Spark performs no exchange
reuse across broadcast/AQE boundaries, so an unpersisted shared subtree
re-executes once per consumer — a second full corpus scan at 100 TB).

A bare ``df.persist()`` inside a query builder leaks, though (ADVICE r5):
the builder returns an unmaterialized DataFrame, so there is no point
inside the query where "after materialization" exists to unpersist at,
and over a 197-query battery each invocation would stack another live
cache into executor storage. ``scoped_persist`` bounds that: each call
SITE keeps exactly one live cached frame — re-invoking the same query
unpersists the previous invocation's cache first. Total cache footprint
is therefore ≤ (number of persisting queries) × (their reduced
intermediates), session-wide, regardless of how many times the battery
runs.

Deliberate residual (documented in SCALING.md): the latest frame per
site stays cached until the query runs again or the session ends. That
is the useful half of the tradeoff — Spark's CacheManager substitutes
the cached plan into OTHER queries that build an identical subtree,
which is semantically transparent (same plan ⇒ same values) and saves
their scan too.

Session-state policy, the one the whole package follows (``session.py``
states it for confs). State a query leaves in the driver's session lives for one Spark
application and is released afterwards, like the reference's in-memory
table, built once per process (``PureJavaTest.java:12``):

  * cached frames — ``scoped_persist`` (one live frame per call site) and
    ``session_memo`` (one frame per key, shared by every query that asks
    for it) — sit in the one ``_LIVE`` dict below, tagged with the
    application that cached them;
  * session confs a query needs are set only inside
    ``session.scoped_conf``;
  * files go under ``sources.io._scoped_scratch`` (one directory per
    name and application, under the one ``.tmp`` root ``io._SCRATCH``).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# scoped_persist site (a str) or session_memo key (a tuple)
#   -> (applicationId, cached frame)
_LIVE: dict[Hashable, tuple[str, DataFrame]] = {}


def _release(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # its session already stopped; nothing to release


def scoped_persist(
    spark: SparkSession,
    site: str,
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df``, first releasing the frame this ``site`` cached on
    its previous invocation (non-blocking; a dead session's handle just
    drops). The persist itself stays LAZY — callers rely on the first
    consuming job filling the cache as a side effect."""
    prev = _LIVE.pop(site, None)
    if prev is not None:
        _release(prev[1])
    out = df.persist(level)
    _LIVE[site] = (spark.sparkContext.applicationId, out)
    return out


def session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build()`` returned for ``key`` in this Spark
    application, building it on the first call. ``build`` caches the frame
    itself, so each caller keeps its own storage level.

    Keyed by applicationId (stable, never reused within a machine epoch —
    unlike ``id(spark)``, which Python can recycle after GC and would then
    serve a frame bound to a dead session). On a miss, every entry another
    application cached is unpersisted and dropped: only one SparkContext
    can be live in a process, so those entries are dead and the dict
    cannot grow without bound."""
    app_id = spark.sparkContext.applicationId
    hit = _LIVE.get(key)
    if hit is not None and hit[0] == app_id:
        return hit[1]
    for k in [k for k, (a, _) in _LIVE.items() if a != app_id]:
        _release(_LIVE.pop(k)[1])
    out = build()
    _LIVE[key] = (app_id, out)
    return out


def input_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of a source table (file or directory of part files).
    Driver-side stat only — used to gate cache-vs-recompute decisions
    that are scale-dependent (BASELINE.md r5 tfidf note)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
