"""Central operator-cache registry (qcache_spark/opcache.py).

The r6 scale sweep measured the failure this registry exists to stop:
three heavy operators (q95 + q91 + q99) run back-to-back in ONE JVM at
sf10 accumulated one pinned persisted frame per operator family until
the third OOMed (SCALING.md §12). These tests pin the governance
contract: same-family registration evicts the predecessor, the byte
budget evicts LRU *other* families, release() empties everything, and
unpersist-after-eviction never breaks a still-lazy downstream plan
(Spark recomputes — eviction is a perf decision, never a correctness
one).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from qcache_spark import opcache


def _persisted(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


@pytest.fixture(autouse=True)
def _clean_registry(spark):
    opcache.release(spark)
    yield
    opcache.release(spark)


def _frame(spark, n=1000, tag=0):
    return (
        spark.range(n)
        .withColumn("tag", F.lit(tag))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def test_same_family_registration_evicts_predecessor(spark):
    a = _frame(spark, tag=1)
    a.count()  # materialize
    opcache.register(spark, "fam", a)
    assert opcache.families(spark) == ["fam"]
    b = _frame(spark, tag=2)
    opcache.register(spark, "fam", b)
    assert opcache.families(spark) == ["fam"]
    assert not _persisted(a)  # predecessor unpersisted
    assert _persisted(b)


def test_release_all_and_single_family(spark):
    a, b = _frame(spark, tag=1), _frame(spark, tag=2)
    opcache.register(spark, "one", a, budget=0)
    opcache.register(spark, "two", b, budget=0)
    assert opcache.release(spark, "one") == 1
    assert opcache.families(spark) == ["two"]
    assert not _persisted(a)
    assert opcache.release(spark) == 1
    assert opcache.families(spark) == []
    assert not _persisted(b)


def test_byte_budget_evicts_lru_other_families(spark):
    # materialize a real footprint for family A, then register B with
    # a 1-byte budget: A must be evicted (LRU), B kept — the exact
    # q95-then-q91 accumulation scenario from SCALING.md §12
    a = _frame(spark, n=50_000, tag=1)
    a.count()
    opcache.register(spark, "heavy_a", a, budget=0)
    assert opcache.cached_bytes(spark) > 0
    b = _frame(spark, tag=2)
    opcache.register(spark, "heavy_b", b, budget=1)
    assert opcache.families(spark) == ["heavy_b"]
    assert not _persisted(a)


def test_zero_budget_disables_eviction(spark):
    a = _frame(spark, n=50_000, tag=1)
    a.count()
    opcache.register(spark, "one", a, budget=0)
    b = _frame(spark, tag=2)
    opcache.register(spark, "two", b, budget=0)
    assert opcache.families(spark) == ["one", "two"]
    assert _persisted(a) and _persisted(b)


def test_eviction_is_correctness_safe(spark):
    # a downstream plan built over a registered frame still computes
    # the right answer after the frame is budget-evicted (recompute)
    a = _frame(spark, n=100, tag=7)
    a.count()
    opcache.register(spark, "fam_a", a, budget=0)
    downstream = a.agg(F.sum("id").alias("s"))
    opcache.register(spark, "fam_b", _frame(spark, tag=8), budget=1)
    assert not _persisted(a)
    assert downstream.collect()[0]["s"] == 100 * 99 // 2


def test_repeat_cache_of_equal_plan_stays_cached(spark):
    """The r7 q31 regression: CacheManager keys entries by canonicalized
    plan, so persisting a plan equal to the still-cached previous
    invocation's is a no-op on ONE shared entry — and register()'s
    persist-then-evict order then unpersisted it, leaving the NEW frame
    uncached (its 3 downstream references re-ran the whole upstream).
    cache() releases the family FIRST, so the second invocation's frame
    must still be materialized after an action."""

    def build():
        # no .persist() here — cache() owns the persist ordering
        return spark.range(5000).withColumn("h", F.xxhash64("id"))

    a = opcache.cache(spark, "fam_eq", build())
    a.count()
    b = opcache.cache(spark, "fam_eq", build())  # plan-equal to a
    b.count()
    rid = opcache._cached_rdd_id(spark, b)
    assert rid is not None, "second invocation's frame lost its cache entry"
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    by_id = {i.id(): i.memSize() + i.diskSize() for i in infos}
    assert by_id.get(rid, 0) > 0, "cache entry exists but holds no blocks"


def test_budget_charges_registry_owned_bytes_only(spark):
    """VERDICT r7 item 3: a large NON-registry cache (bench's warmed
    base tables) must not force cross-family evictions. Two small
    families coexist under a budget their combined footprint fits,
    even while an unrelated persisted frame exceeds it."""
    base = spark.range(500_000).withColumn("pad", F.md5(F.col("id").cast("string")))
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    base_bytes = opcache.cached_bytes(spark)
    assert base_bytes > 1_000_000  # the non-registry cache is big
    try:
        budget = 1_000_000  # far below base_bytes, far above 2 tiny frames
        a = _frame(spark, n=100, tag=1)
        a.count()
        opcache.register(spark, "small_a", a, budget=budget)
        b = _frame(spark, n=100, tag=2)
        opcache.register(spark, "small_b", b, budget=budget)
        assert opcache.families(spark) == ["small_a", "small_b"]
        assert _persisted(a) and _persisted(b)
        assert opcache.registry_bytes(spark) < budget
        assert _persisted(base)  # budget never touches non-registry frames
    finally:
        base.unpersist(blocking=True)


def test_reap_unpersists_dead_session_frames(spark):
    """ADVICE r7: reaping a GC'd session's registry entries must
    best-effort unpersist them — with newSession() the SparkContext
    outlives the Python wrapper, so the blocks are still alive and the
    popped handles were the last way to release them."""
    import weakref

    class _Dead:
        pass

    victim = _frame(spark, n=200, tag=9)
    victim.count()
    assert _persisted(victim)
    d = _Dead()
    with opcache._LOCK:
        opcache._SESSIONS["dead-app-id"] = weakref.ref(d)
        opcache._REG["dead-app-id"] = __import__("collections").OrderedDict(
            {"orphan": victim}
        )
    del d  # ref() -> None; next register() reaps
    opcache.register(spark, "live_fam", _frame(spark, tag=10), budget=0)
    assert "dead-app-id" not in opcache._REG
    assert not _persisted(victim), "reap dropped the handle without unpersisting"


def test_pinned_family_survives_budget_eviction(spark):
    """ADVICE r8: frames whose downstream plan reads spark_partition_id
    of THIS materialization (token_budget_mix / curriculum_buckets /
    grouped_percentile_stats offsets) must never be recomputed by
    budget eviction — a re-executed repartitionByRange re-samples its
    partitioner and rows can land on different pids than the collected
    offsets assume. pinned=True exempts them; unpinned LRU families
    still evict around them."""
    pinned = _frame(spark, n=50_000, tag=1)
    pinned.count()
    opcache.register(spark, "pid_dep", pinned, budget=0, pinned=True)
    plain = _frame(spark, n=50_000, tag=2)
    plain.count()
    opcache.register(spark, "plain_old", plain, budget=0)
    # 1-byte budget: the unpinned family must go, the pinned must stay
    opcache.register(spark, "newcomer", _frame(spark, tag=3), budget=1)
    assert _persisted(pinned), "budget eviction recomputed a pinned frame"
    assert not _persisted(plain)
    assert "pid_dep" in opcache.families(spark)
    assert opcache.pinned_families(spark) == ["pid_dep"]
    # same-family replacement and release still apply to pinned frames
    replacement = _frame(spark, tag=4)
    opcache.register(spark, "pid_dep", replacement, budget=0)
    assert not _persisted(pinned)
    assert opcache.pinned_families(spark) == []  # re-register unpins
    opcache.release(spark, "pid_dep")
    assert not _persisted(replacement)


def test_pid_dependent_operators_register_pinned(spark, sf_dir):
    """Every spark_partition_id-dependent operator family carries the
    pin (regression guard for ADVICE r8)."""
    from qcache_spark.operators import sampling
    from qcache_spark.operators.timeseries import grouped_percentile_stats
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    sampling.curriculum_buckets(docs, "n_chars", 4).count()
    sampling.balanced_shards(docs, "n_chars", 4).count()
    sampling.token_budget_mix(docs, "lang", "n_chars", {"en": 1000}).count()
    sampling.distribution_matched_sample(docs, "lang", {"en": 1}).count()
    grouped_percentile_stats(events, pct=0.9).count()
    assert set(opcache.pinned_families(spark)) == {
        "sampling.curriculum",
        "sampling.shards",
        "sampling.token_mix",
        "sampling.dist_match",
        "timeseries.percentile",
    }


def test_rank_device_lives_only_in_rank_module():
    """The distributed-rank device exists once: no package module but
    operators/_rank.py reads spark_partition_id or registers a pinned
    opcache family, and the rank operators keep no plan-size policy
    or range shuffle of their own."""
    import ast
    import os

    import qcache_spark

    pkg = os.path.dirname(qcache_spark.__file__)
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel == os.path.join("operators", "_rank.py"):
                continue
            tree = ast.parse(open(path).read())
            for node in ast.walk(tree):
                used = (
                    isinstance(node, ast.Attribute) and node.attr == "spark_partition_id"
                ) or (isinstance(node, ast.Name) and node.id == "spark_partition_id")
                pinned = (
                    isinstance(node, ast.keyword)
                    and node.arg == "pinned"
                    and isinstance(node.value, ast.Constant)
                    and node.value.value is True
                )
                if used or pinned:
                    offenders.append(f"{rel}:{getattr(node, 'lineno', '?')}")
    assert not offenders, offenders
    for rel in ("operators/sampling.py", "operators/timeseries.py"):
        src = open(os.path.join(pkg, rel)).read()
        assert "LITERAL_MAP_MAX" not in src, rel
        assert "repartitionByRange(" not in src, rel


def test_session_dead_detects_stopped_context():
    """ADVICE r8: liveness keys on the JVM context, not the Python
    weakref (which registered frames keep alive forever)."""
    import weakref

    class _SC:
        def __init__(self, stopped):
            self._stopped = stopped

        def isStopped(self):
            return self._stopped

    class _JSC:
        def __init__(self, stopped):
            self._sc = _SC(stopped)

        def sc(self):
            return self._sc

    class _Ctx:
        def __init__(self, stopped):
            self._jsc = _JSC(stopped)

    class _Sess:
        def __init__(self, stopped):
            self.sparkContext = _Ctx(stopped)

    live, stopped = _Sess(False), _Sess(True)
    assert opcache._session_dead(weakref.ref(live)) is False
    assert opcache._session_dead(weakref.ref(stopped)) is True


def test_heavy_operator_families_share_one_registry(spark, sf_dir):
    """The three r6 OOM participants registered through one registry:
    running triangles then percentiles then curriculum leaves at most
    the budgeted set pinned, and release() drops them all."""
    from qcache_spark.operators.graph import triangle_participation
    from qcache_spark.operators.sampling import curriculum_buckets
    from qcache_spark.operators.timeseries import grouped_percentile_stats
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    edges = events.select(
        (F.col("user_id") % 50).alias("src"), (F.col("user_id") % 97).alias("dst")
    )
    triangle_participation(edges).count()
    grouped_percentile_stats(events, "event_type", "value", "event_id").count()
    curriculum_buckets(docs, "n_chars", 4, id_col="doc_id").count()
    fams = opcache.families(spark)
    assert set(fams) <= {
        "graph.triangles",
        "timeseries.percentile",
        "sampling.curriculum",
    }
    assert len(fams) >= 1
    released = opcache.release(spark)
    assert released == len(fams)
    assert opcache.families(spark) == []
    # NOTE: cached_bytes is app-wide and other test modules may hold
    # their own (non-registry) persisted frames, so no ==0 assert here
