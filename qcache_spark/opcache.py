"""Central registry for operator-lifetime persisted DataFrames.

Several operators materialize an intermediate exactly once per call and
let the RETURNED lazy plan read it (curriculum_buckets' range-partitioned
input, triangle_participation's oriented edge set, grouped percentile
ranges, the flagship pipeline's session frames). Eviction therefore has
to be *deferred*: the cache must outlive the function that created it.

Rounds 1-6 solved that per operator family with a module-level
``_CACHE[id(session)]`` dict whose next call evicted the previous one.
That pattern has two measured/observed failures:

1. **Cross-family accumulation** (SCALING.md §12): a session that runs
   many *different* heavy operators pins one persisted frame per family
   with no shared budget — at sf10 the third back-to-back heavy query
   OOMed the driver JVM. A 100 TB pipeline session runs exactly that
   kind of mixed workload.
2. **``id(session)`` reuse** (ADVICE r6): after a session is
   garbage-collected its ``id`` can be recycled, so a new session's
   first call could unpersist a stale handle from a dead JVM-side
   session (a Py4J error mid-call) and entries for dead sessions leaked
   until collision.

This module replaces all of those dicts with ONE registry:

* keyed by ``sparkContext.applicationId`` — unique per SparkContext
  lifetime, immune to Python ``id`` reuse;
* one slot per *family* (same-family registration evicts the previous
  frame, preserving the round-1..6 deferred-eviction contract);
* an LRU **byte budget** across families: registering a new frame
  unpersists the least-recently-registered families until the
  *registry-owned* cache footprint fits the budget. Ownership is
  resolved through the CacheManager: each registered frame's
  ``InMemoryRelation`` names the RDD that holds its blocks, and only
  those RDD ids are charged (VERDICT r7: budgeting against the app-wide
  ``getRDDStorageInfo`` total meant a large non-registry cache — bench's
  warmed base tables — forced EVERY cross-family eviction, silently
  degrading the registry to same-family-only). Unpersisting is
  *correctness-safe* for ordinary plans in Spark — a plan whose cache
  block vanished silently recomputes — so aggressive eviction can only
  cost time, never results. The one exception (ADVICE r8): plans whose
  downstream arithmetic depends on ``spark_partition_id`` of THIS
  materialization (the rank device in operators/_rank.py collects
  per-(pid, group) offsets from the cached frame). Re-execution
  re-samples the RangePartitioner (seeded by the new shuffle RDD id),
  so rows can land on different partition ids than the collected
  offsets assume — silently wrong sums, not just recompute cost. Those
  families register with ``pinned=True``: exempt from cross-family
  budget eviction (same-family replacement and explicit ``release()``
  still apply — both happen only when the family's own operator has a
  fresh materialization or the caller declared the plan dead);
* ``cache(spark, family, df)`` — the recommended entry point: releases
  the family's previous frame BEFORE persisting the new one. Order
  matters: Spark's CacheManager keys cache entries by canonicalized
  plan, so persisting a plan semantically equal to the still-cached
  previous frame is a no-op ("already cached") that leaves ONE shared
  entry — which the r7 persist-then-evict order then unpersisted,
  leaving the NEW frame uncached and re-executing its upstream once
  per downstream reference (measured: q31's repeat invocations ran the
  LSH bucket pipeline 3x, a flat ~3 s regression at every scale);
* ``release(spark)`` — an explicit all-families release for workload
  boundaries (bench calls it between queries; the server exposes it).

On a real cluster the same registry governs executor storage memory:
``getRDDStorageInfo`` aggregates cluster-wide block sizes, and the
budget should be set to a fraction of total executor storage memory via
``QCACHE_SPARK_OPCACHE_BUDGET_BYTES``.
"""
from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

__all__ = [
    "cache",
    "register",
    "release",
    "families",
    "pinned_families",
    "cached_bytes",
    "registry_bytes",
    "budget_bytes",
]

_LOCK = threading.RLock()
# applicationId -> OrderedDict[family -> persisted DataFrame]
# OrderedDict order = registration recency (oldest first -> evicted first)
_REG: dict[str, "OrderedDict[str, DataFrame]"] = {}
# applicationId -> families exempt from cross-family budget eviction
# (spark_partition_id-dependent materializations; see module docstring)
_PINNED: dict[str, set[str]] = {}
# applicationId -> weakref to its SparkSession: lets register() drop
# registry entries for sessions that have been garbage-collected (their
# frames died with the JVM-side session; the handles would otherwise
# linger forever — the residual of ADVICE r6's id-reuse finding)
_SESSIONS: dict[str, "weakref.ref[SparkSession]"] = {}


def _session_dead(ref: "weakref.ref[SparkSession]") -> bool:
    """Liveness check for a registry entry's session. The weakref alone
    is insufficient (ADVICE r8): registered DataFrames hold strong
    references to their SparkSession, so ``ref()`` can never return
    None while the app's frames are still registered. The reachable
    signal is JVM-side: a STOPPED SparkContext means every cached block
    of that app is gone and the handles are unusable — reap them. (For
    a live context the handles stay until same-family replacement,
    budget eviction, or release(), as before.)"""
    s = ref()
    if s is None:
        return True
    try:
        return bool(s.sparkContext._jsc.sc().isStopped())
    except Exception:
        return True  # unreachable JVM == dead for our purposes


def budget_bytes() -> int:
    """The cross-family cache budget. 0 disables budget eviction
    (explicit same-family eviction and release() still work)."""
    return int(
        os.environ.get("QCACHE_SPARK_OPCACHE_BUDGET_BYTES", str(3 << 30))
    )


def _app_id(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def cached_bytes(spark: SparkSession) -> int:
    """Materialized cache footprint of the WHOLE app (memory + disk),
    from the same RDD storage info the Spark UI shows. Includes
    non-registry caches (warmed base tables, user persists) — a
    monitoring number, NOT what the budget loop charges."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _cached_rdd_id(spark: SparkSession, df: DataFrame) -> int | None:
    """The id of the RDD holding ``df``'s cache blocks, via the
    CacheManager's plan-keyed lookup (the InMemoryRelation's column
    buffers). Defined even before materialization; None when the frame
    is not (or no longer) in the CacheManager."""
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        cd = cm.lookupCachedData(df._jdf)
        if not cd.isDefined():
            return None
        return (
            cd.get()
            .cachedRepresentation()
            .cacheBuilder()
            .cachedColumnBuffers()
            .id()
        )
    except Exception:
        return None


def registry_bytes(spark: SparkSession) -> int:
    """Materialized footprint (memory + disk) of registry-owned frames
    only — the number the budget loop charges. Attribution: each
    registered frame's cached-RDD id, intersected with the app's RDD
    storage info."""
    with _LOCK:
        frames = list(_REG.get(_app_id(spark), {}).values())
    ids = set()
    for frame in frames:
        rid = _cached_rdd_id(spark, frame)
        if rid is not None:
            ids.add(rid)
    if not ids:
        return 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() in ids)


def register(
    spark: SparkSession,
    family: str,
    df: DataFrame,
    budget: int | None = None,
    pinned: bool = False,
) -> DataFrame:
    """Track ``df`` (already ``.persist()``-ed by the caller) as the
    live cache for ``family``. Evicts the family's previous frame, then
    enforces the cross-family byte budget by unpersisting the
    least-recently-registered *other* families while the REGISTRY's
    materialized footprint exceeds the budget. Returns ``df``.

    ``pinned=True`` exempts the family from CROSS-family budget
    eviction (ADVICE r8): frames whose downstream plan depends on the
    ``spark_partition_id`` layout of this exact materialization must
    not be recomputed under different partitioner sampling. Pinned
    frames still count toward the budget footprint, are still replaced
    by their own family's next registration, and are still released by
    :func:`release` — the two paths that only fire when the operator
    itself declares the materialization superseded or dead.

    Prefer :func:`cache` when the new frame's plan can equal the
    previous invocation's (repeat calls of the same operator): this
    function evicts ``prev`` AFTER the caller persisted ``df``, and
    when both share one CacheManager entry that order uncaches ``df``.
    """
    limit = budget_bytes() if budget is None else budget
    with _LOCK:
        app = _app_id(spark)
        # Reap entries for dead sessions. Liveness = the JVM context
        # (ADVICE r8: the old `ref() is None` test was unreachable with
        # real frames — registered DataFrames strongly reference their
        # session, so the weakref outlives every registration; a
        # stopped SparkContext is the observable death signal, and its
        # blocks are already gone so dropping the handles suffices).
        for dead in [
            a for a, ref in _SESSIONS.items()
            if a != app and _session_dead(ref)
        ]:
            _SESSIONS.pop(dead, None)
            _PINNED.pop(dead, None)
            stale = _REG.pop(dead, None)
            for frame in (stale or {}).values():
                try:
                    frame.unpersist(blocking=False)
                except Exception:
                    pass
        _SESSIONS[app] = weakref.ref(spark)
        fams = _REG.setdefault(app, OrderedDict())
        pins = _PINNED.setdefault(app, set())
        prev = fams.pop(family, None)
        pins.discard(family)
        if prev is not None:
            try:
                prev.unpersist(blocking=False)
            except Exception:
                pass  # dead session / already-released handle
        # Budget check BEFORE inserting the newcomer: its blocks are
        # not materialized yet (persist is lazy), so the footprint we
        # read is exactly the old families' — the accumulation the
        # budget exists to bound. blocking=True inside the loop so the
        # re-read footprint reflects the eviction. Only registry-owned
        # bytes are charged: a large non-registry cache (warmed base
        # tables) must not force cross-family evictions. Pinned
        # families are skipped, never evicted here.
        if limit > 0:
            while registry_bytes(spark) > limit:
                evictable = [f for f in fams if f not in pins]
                if not evictable:
                    break
                oldest_fam = evictable[0]  # OrderedDict: oldest first
                oldest = fams.pop(oldest_fam)
                try:
                    oldest.unpersist(blocking=True)
                except Exception:
                    break
        fams[family] = df
        if pinned:
            pins.add(family)
    return df


def cache(
    spark: SparkSession,
    family: str,
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    budget: int | None = None,
    pinned: bool = False,
) -> DataFrame:
    """Release ``family``'s previous frame, THEN persist ``df`` and
    register it. This is the safe order for repeat invocations of the
    same operator: Spark's CacheManager keys entries by canonicalized
    plan, so when the new invocation builds a plan semantically equal
    to the still-cached previous one, ``persist()`` is a no-op on the
    ONE shared entry — evicting ``prev`` afterwards (plain
    :func:`register`) uncaches the new frame too, and every downstream
    reference re-executes the upstream pipeline.

    ``pinned``: see :func:`register` — required for materializations
    whose downstream plan reads ``spark_partition_id``."""
    release(spark, family)
    return register(
        spark, family, df.persist(storage_level), budget=budget, pinned=pinned
    )


def release(spark: SparkSession, family: str | None = None) -> int:
    """Unpersist and forget every registered frame for this app (or
    just one family). Call at workload boundaries — between bench
    queries, between pipeline stages, from the server's release
    endpoint. Returns the number of frames released. Safe to call at
    any time: downstream plans recompute instead of failing."""
    released = 0
    with _LOCK:
        fams = _REG.get(_app_id(spark))
        if not fams:
            return 0
        targets = [family] if family is not None else list(fams.keys())
        pins = _PINNED.get(_app_id(spark))
        for fam in targets:
            frame = fams.pop(fam, None)
            if pins is not None:
                pins.discard(fam)
            if frame is None:
                continue
            try:
                frame.unpersist(blocking=False)
            except Exception:
                pass
            released += 1
        if not fams:
            _REG.pop(_app_id(spark), None)
            _PINNED.pop(_app_id(spark), None)
    return released


def families(spark: SparkSession) -> list[str]:
    """Currently registered families (oldest first)."""
    with _LOCK:
        return list(_REG.get(_app_id(spark), {}).keys())


def pinned_families(spark: SparkSession) -> list[str]:
    """Families currently exempt from cross-family budget eviction."""
    with _LOCK:
        pins = _PINNED.get(_app_id(spark), set())
        return [f for f in _REG.get(_app_id(spark), {}) if f in pins]
