"""Dataset catalog: the reference's key→table cache re-expressed on
Spark's storage layer.

Reference behavior preserved (qcache/dataset_cache.py:1-81):
- key → CacheItem with creation time, last-access time, access count,
  and a byte-size estimate
- LRU-by-size eviction on insert (`ensure_free`): evict
  least-recently-accessed until the new dataset fits; inserting
  something larger than the whole cache raises
  (dataset_cache.py:65-66 → DatasetTooLargeException)
- max-age eviction, applied lazily on access (dataset_cache.py:28-36)
- replacing a key deletes the old entry first (app.py:241-243)

A dataset is stored in one of two forms:
- driver-resident: a small CSV/JSON store (fastpath.resident_table)
  is kept as a pyarrow Table and served by the driver-local executor.
  Storing it runs no Spark job; a Spark frame over it is built only
  for a request that needs one (CacheItem.frame), and neither
  persisted nor kept, so `byte_size` counts the only copy.
- persisted: everything else (larger, bucketed, other column types)
  is a Spark plan persisted MEMORY_AND_DISK. Its "eviction" unpersists
  the DataFrame, and the executor storage layer ALSO spills gracefully
  under pressure before our bookkeeping ever evicts, so the cache
  degrades to disk instead of dropping data on the floor (SURVEY.md
  §4). Size estimates come from the optimized plan's statistics
  (parquet/AQE stats) once materialized.
"""
from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .. import fastpath
from ..errors import (
    DatasetTooLargeException,
    MalformedQueryException,
    UnknownDatasetException,
)


_VERSION_COUNTER = [0]


def _next_version() -> int:
    _VERSION_COUNTER[0] += 1
    return _VERSION_COUNTER[0]


@dataclass
class CacheItem:
    # the persisted frame, or None for a driver-resident item
    df: DataFrame | None
    byte_size: int
    row_count: int
    enum_columns: frozenset = frozenset()
    creation_time: float = field(default_factory=time.time)
    last_access_time: float = field(default_factory=time.time)
    access_count: int = 0
    # monotonically increasing across ALL items: changes whenever the
    # table content changes (store/replace/update) → safe result-cache key
    version: int = field(default_factory=_next_version)
    # bucketed physical layout (scale path): catalog table name +
    # on-disk location + (cols, num_buckets), or None for in-memory
    bucket_table: str | None = None
    bucket_path: str | None = None
    bucket_by: tuple[tuple[str, ...], int] | None = None
    # the driver-resident form, or None for a persisted item
    table: pa.Table | None = None

    def frame(self, spark: SparkSession) -> DataFrame:
        """The dataset as a Spark frame. For a driver-resident item
        this is a new frame over the Arrow table on every call: no
        Spark job, and neither persisted nor kept on the item, so the
        JVM copy it holds lives only as long as the request using it."""
        if self.table is None:
            return self.df
        return spark.createDataFrame(self.table)


def estimate_size(df: DataFrame) -> int:
    """Plan-statistics size estimate + the reference's flat overhead
    (qcache/qframe/__init__.py:98-100 adds 100 bytes per dataset)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes()) + 100


class DatasetCatalog:
    """Thread-safe key→DataFrame cache with LRU-by-size + max-age."""

    def __init__(self, max_cache_size_bytes: int = 1 << 30, max_age_seconds: float = 0):
        self.max_size = max_cache_size_bytes
        self.max_age = max_age_seconds
        self._items: dict[str, CacheItem] = {}
        self._bucket_storage_dir: str | None = None
        self._lock = threading.RLock()
        # statistics hooks (wired by the server layer)
        self.on_evict = lambda count, duration: None
        self.on_age_evict = lambda: None

    # -- internals ----------------------------------------------------

    def _evict(self, key: str) -> None:
        self._release(self._items.pop(key))

    def _release(self, item: CacheItem) -> None:
        if item.table is None:
            item.df.unpersist(blocking=False)
        self._drop_bucketed(item)

    @staticmethod
    def _drop_bucketed(item: CacheItem) -> None:
        if item.bucket_table:
            try:
                item.df.sparkSession.sql(
                    f"DROP TABLE IF EXISTS `{item.bucket_table}`"
                )
            except Exception:
                pass
        if item.bucket_path:
            shutil.rmtree(item.bucket_path, ignore_errors=True)

    def _storage_dir(self) -> str:
        if self._bucket_storage_dir is None:
            self._bucket_storage_dir = tempfile.mkdtemp(prefix="qcache_spark_buckets_")
        return self._bucket_storage_dir

    def _write_bucketed(
        self, key: str, df: DataFrame, bucket_by, version: int
    ) -> tuple[DataFrame, str, str, tuple[tuple[str, ...], int]]:
        """Persist `df` as a bucketed+sorted external parquet table.

        This is the 100 TB lever the in-memory persist cannot provide:
        the bucketed scan reports hashpartitioning(cols) to the
        planner, so every later groupBy / window partitionBy /
        equi-join on the bucket columns skips its Exchange — the
        shuffle is paid ONCE at store time instead of on every query
        (see test_catalog.py plan assertions and SCALING.md §3)."""
        cols, n = bucket_by
        if isinstance(cols, str):
            cols = (cols,)
        cols = tuple(cols)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            # invalid STORE REQUEST, not a cache miss: → HTTP 400
            raise MalformedQueryException(
                f"bucket column(s) not in dataset: {missing}"
            )
        table = f"qcache_ds_{re.sub(r'[^A-Za-z0-9_]', '_', key)}_v{version}"
        path = os.path.join(self._storage_dir(), table)
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(int(n), *cols)
            .sortBy(*cols)
            .saveAsTable(table)
        )
        return df.sparkSession.table(table), table, path, (cols, int(n))

    def _store(self, key: str, data, bucket_by, version: int, **fields) -> CacheItem:
        """A new item holding `data`: a pyarrow Table is kept as the
        driver-resident form; a DataFrame is bucketed if asked, then
        persisted and counted."""
        if isinstance(data, pa.Table):
            return CacheItem(
                df=None,
                table=data,
                byte_size=fastpath.resident_size(data),
                row_count=data.num_rows,
                version=version,
                **fields,
            )
        table = path = spec = None
        if bucket_by is not None:
            data, table, path, spec = self._write_bucketed(key, data, bucket_by, version)
        df = data.persist(StorageLevel.MEMORY_AND_DISK)
        row_count = df.count()
        return CacheItem(
            df=df,
            byte_size=estimate_size(df),
            row_count=row_count,
            version=version,
            bucket_table=table,
            bucket_path=path,
            bucket_by=spec,
            **fields,
        )

    def _ensure_free(self, byte_count: int) -> int:
        """LRU eviction until byte_count fits; returns datasets evicted
        (dataset_cache.py:60-81)."""
        if byte_count > self.max_size:
            raise DatasetTooLargeException(
                f"Dataset of size {byte_count} is larger than the cache ({self.max_size})"
            )
        current = sum(i.byte_size for i in self._items.values())
        if current + byte_count <= self.max_size:
            return 0
        t0 = time.perf_counter()
        evicted = 0
        for key in sorted(self._items, key=lambda k: self._items[k].last_access_time):
            if current + byte_count <= self.max_size:
                break
            current -= self._items[key].byte_size
            self._evict(key)
            evicted += 1
        self.on_evict(evicted, time.perf_counter() - t0)
        return evicted

    # -- public -------------------------------------------------------

    def insert(
        self,
        key: str,
        data,
        enum_columns: frozenset = frozenset(),
        bucket_by: tuple | None = None,
    ) -> CacheItem:
        """Cache a dataset: a pyarrow Table (fastpath.resident_table)
        stays driver-resident; a DataFrame becomes an in-memory
        persisted plan, the reference's behavior, or with
        `bucket_by=(cols, num_buckets)` the bucketed physical layout
        (see _write_bucketed)."""
        with self._lock:
            # write-then-swap, mirroring replace_df: the new version is
            # fully written/persisted BEFORE the old entry is touched,
            # so a failing store (bad bucket column, failed write)
            # leaves the previously stored dataset intact. The new
            # bucketed table name carries the fresh version, so the
            # write never collides with the old files.
            item = self._store(
                key, data, bucket_by, _next_version(), enum_columns=frozenset(enum_columns)
            )
            if key in self._items:
                # replace: reference deletes the old entry first
                # (app.py:241-243) — but only once the new one is safe
                self._evict(key)
            self._ensure_free(item.byte_size)
            self._items[key] = item
            return item

    def get(self, key: str) -> CacheItem:
        """Access-tracked lookup; lazily age-evicts
        (dataset_cache.py:28-36). Raises UnknownDatasetException on
        miss (→ HTTP 404)."""
        with self._lock:
            item = self._items.get(key)
            if item is None:
                raise UnknownDatasetException(key)
            if self.max_age and time.time() - item.creation_time > self.max_age:
                self._evict(key)
                self.on_age_evict()
                raise UnknownDatasetException(key)
            item.last_access_time = time.time()
            item.access_count += 1
            return item

    def replace_df(self, key: str, data) -> CacheItem:
        """Atomic copy-on-write swap used by the update statement: the
        new version is materialized BEFORE the old entry is dropped,
        so concurrent readers never see a half-written table
        (SURVEY.md §1.3). `data` is the updated dataset: a pyarrow
        Table (fastpath.update applied it on the driver) is stored
        driver-resident; a Spark plan over a driver-resident item
        comes back as Arrow (one Spark job) in the stored schema,
        unless its rows no longer qualify; a bucketed item keeps its
        declared layout."""
        with self._lock:
            old = self.get(key)
            if isinstance(data, DataFrame) and old.table is not None:
                table = fastpath.resident_table(data.toArrow(), old.table.schema)
                if table is not None:
                    data = table
            item = self._store(
                key,
                data,
                old.bucket_by,
                _next_version(),
                enum_columns=old.enum_columns,
                creation_time=old.creation_time,
                last_access_time=time.time(),
                access_count=old.access_count,
            )
            self._release(old)
            self._items[key] = item
            return item

    def delete(self, key: str) -> bool:
        with self._lock:
            if key in self._items:
                self._evict(key)
                return True
            return False

    def __contains__(self, key: str) -> bool:
        with self._lock:
            return key in self._items

    def __len__(self) -> int:
        return len(self._items)

    @property
    def size(self) -> int:
        with self._lock:
            return sum(i.byte_size for i in self._items.values())

    def keys(self) -> list[str]:
        with self._lock:
            return list(self._items)

    def snapshot_items(self) -> list[tuple[str, CacheItem]]:
        """Untracked read of (key, item) for every entry — used by the
        SQL endpoint's dataset listing, which must not perturb LRU order,
        access counts, or age eviction the way `get` does."""
        with self._lock:
            return list(self._items.items())
