"""Catalog tests: LRU-by-size, max-age, replace semantics
(reference behavior: qcache/dataset_cache.py + test_api.py:298-389)."""
from __future__ import annotations

import time

import pytest

from qcache_spark.cache import DatasetCatalog
from qcache_spark.errors import DatasetTooLargeException, UnknownDatasetException


def make_df(spark, n=10, tag=0):
    return spark.range(n).selectExpr("id", f"id * {tag + 1} as v")


def test_insert_get_delete(spark):
    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    cat.insert("a", make_df(spark))
    item = cat.get("a")
    assert item.df.count() == 10
    assert item.access_count == 1
    assert item.byte_size > 0
    assert cat.delete("a") is True
    with pytest.raises(UnknownDatasetException):
        cat.get("a")


def test_lru_eviction_by_size(spark):
    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    cat.insert("a", make_df(spark, 10, 0))
    cat.insert("b", make_df(spark, 10, 1))
    size = cat.size
    # shrink the cache so two datasets fit but not three, then insert c
    cat.max_size = int(size * 1.2)
    time.sleep(0.01)
    cat.get("b")  # b is now more recently used than a
    evicted = {"n": 0}
    cat.on_evict = lambda count, duration: evicted.__setitem__("n", evicted["n"] + count)
    cat.insert("c", make_df(spark, 10, 2))
    assert evicted["n"] >= 1
    assert "a" not in cat  # least recently accessed went first
    assert "b" in cat and "c" in cat


def test_too_large_dataset_raises(spark):
    cat = DatasetCatalog(max_cache_size_bytes=10)
    with pytest.raises(DatasetTooLargeException):
        cat.insert("a", make_df(spark))


def test_max_age_eviction(spark):
    cat = DatasetCatalog(max_cache_size_bytes=1 << 30, max_age_seconds=0.05)
    cat.insert("a", make_df(spark))
    assert cat.get("a") is not None
    time.sleep(0.1)
    aged = {"n": 0}
    cat.on_age_evict = lambda: aged.__setitem__("n", aged["n"] + 1)
    with pytest.raises(UnknownDatasetException):
        cat.get("a")
    assert aged["n"] == 1


def test_replace_df_keeps_metadata(spark):
    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    cat.insert("a", make_df(spark), enum_columns=frozenset(["v"]))
    before = cat.get("a")
    item = cat.replace_df("a", make_df(spark, 5, 3))
    assert item.df.count() == 5
    assert item.enum_columns == frozenset(["v"])
    assert item.creation_time == before.creation_time


# ---------------------------------------------------------------- bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_insert_groupby_window_no_exchange(spark):
    """The bucketed catalog layout's whole point: groupBy and window
    partitionBy on the bucket key run with ZERO Exchange operators —
    the shuffle was paid once at store time (SCALING.md §3; the
    100 TB per-key query strategy)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qcache_spark import compile_query

    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    df = spark.range(2000).selectExpr(
        "id % 97 as k", "id as v", "cast(id % 7 as double) as w"
    )
    item = cat.insert("bk", df, bucket_by=("k", 4))
    try:
        assert item.bucket_by == (("k",), 4)
        assert item.df.count() == 2000

        # engine-path aggregation on the bucket key
        agg = compile_query(
            {"group_by": ["k"], "select": ["k", ["sum", "v"]]}, item.df
        ).sliced
        assert "Exchange" not in _plan(agg), _plan(agg)
        assert agg.count() == 97

        # window partitioned by the bucket key
        w = Window.partitionBy("k").orderBy(F.col("v").desc())
        ranked = item.df.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 2")
        assert "Exchange" not in _plan(ranked), _plan(ranked)
        assert ranked.count() == 97 * 2
    finally:
        cat.delete("bk")


def test_bucketed_replace_keeps_layout_and_cleans_up(spark):
    import os

    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    df = spark.range(100).selectExpr("id % 5 as k", "id as v")
    first = cat.insert("bk2", df, bucket_by=(["k"], 2))
    first_path = first.bucket_path
    assert first_path and os.path.isdir(first_path)
    item = cat.replace_df("bk2", spark.range(50).selectExpr("id % 5 as k", "id as v"))
    try:
        assert item.bucket_by == (("k",), 2)  # layout survives updates
        assert item.df.count() == 50
        assert "Exchange" not in _plan(item.df.groupBy("k").count())
        assert not os.path.isdir(first_path)  # old version's files dropped
    finally:
        cat.delete("bk2")
        assert item.bucket_path and not os.path.isdir(item.bucket_path)


def test_bucketed_insert_unknown_column_raises(spark):
    from qcache_spark.errors import MalformedQueryException

    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    # a bad STORE request is malformed (→ 400), not a cache miss (404)
    with pytest.raises(MalformedQueryException):
        cat.insert("bk3", make_df(spark), bucket_by=("nope", 4))


def test_failed_replace_store_keeps_previous_dataset(spark):
    """insert is write-then-swap like replace_df: a store request that
    fails mid-write (here: bucket column missing) must NOT destroy the
    previously stored dataset under the same key."""
    from qcache_spark.errors import MalformedQueryException

    cat = DatasetCatalog(max_cache_size_bytes=1 << 30)
    cat.insert("bk4", make_df(spark))
    before = cat.get("bk4").version
    with pytest.raises(MalformedQueryException):
        cat.insert("bk4", make_df(spark), bucket_by=("nope", 4))
    item = cat.get("bk4")  # still present, untouched version
    assert item.version == before
    assert item.df.count() == make_df(spark).count()
    cat.delete("bk4")
