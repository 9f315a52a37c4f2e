"""Size-thresholded router: qcache grammar queries on SMALL tables run
on the driver-local executor (plans/local.py) over an Arrow-loaded
pandas mirror; everything else — larger tables, unsupported constructs,
or ANY local-executor error — takes the Catalyst plan.

Rationale (VERDICT r1, task 3): the reference's design point is small
hot in-memory tables with 7-70 ms latencies; a multi-stage Spark job
has a ~100-250 ms scheduling floor at ANY data size. The threshold
keeps the distributed plan the only path at scale: at 100 TB no
parquet directory passes the size check, so the fast path simply never
engages there.
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Copy-on-write makes column pruning and row filtering lazy views
# instead of eager block copies — the difference between ~90 ms and
# ~160 ms on a 600 k-row aggregate. It is the pandas-3 default; set
# explicitly for pandas 2.
pd.set_option("mode.copy_on_write", True)

from .errors import MalformedQueryException
from .plans import grammar as g
from .plans.local import LocalResult, Unsupported, execute_local

# Compressed-parquet size gate for the local mirror. ~64 MiB parquet
# ≈ a few hundred MiB in memory — the reference's own operating
# envelope (it rejects datasets above its cache size).
MAX_FASTPATH_BYTES = int(
    os.environ.get("QCACHE_SPARK_FASTPATH_MAX_BYTES", str(64 * 1024 * 1024))
)

_MIRROR_CACHE: dict[tuple[str, float], pd.DataFrame] = {}


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return 1 << 62  # missing → let the Spark path raise its error


def _load_mirror(path: str) -> pd.DataFrame:
    key = (path, os.path.getmtime(path))
    pdf = _MIRROR_CACHE.get(key)
    if pdf is None:
        import pyarrow.dataset as ds
        import pyarrow.types as pat

        tbl = ds.dataset(path).to_table()
        for field in tbl.schema:
            if (pat.is_integer(field.type) or pat.is_boolean(field.type)) and (
                tbl.column(field.name).null_count > 0
            ):
                # int/bool with nulls decays to float/object in pandas
                # and would change the result schema vs the Spark path
                raise Unsupported(f"nullable {field.type} column {field.name}")
        pdf = tbl.to_pandas()
        for col in pdf.columns:
            if pd.api.types.is_datetime64_any_dtype(pdf[col].dtype):
                # match load_table: nanos truncate to micros
                pdf[col] = pdf[col].astype("datetime64[us]")
        # Pre-factorize low-cardinality string columns once per mirror:
        # group-by then hashes int64 codes instead of strings (the
        # dominant cost of a 600 k-row string groupby). The companion
        # code columns ride through filters like any other column.
        uniques_map: dict[str, object] = {}
        for col in list(pdf.columns):
            s = pdf[col]
            if s.dtype == object and len(s) > 10000:
                codes, uniques = pd.factorize(s, use_na_sentinel=False)
                if len(uniques) <= max(1000, len(s) // 100):
                    pdf[f"__fcode_{col}"] = codes.astype("int64")
                    uniques_map[col] = uniques
        pdf.attrs["fcode_uniques"] = uniques_map
        if len(_MIRROR_CACHE) > 32:
            _MIRROR_CACHE.clear()
        _MIRROR_CACHE[key] = pdf
    return pdf


def _to_spark(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    fields = []
    for col in pdf.columns:
        dt = pdf[col].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            # Naive datetimes (the parquet TIMESTAMP(NANOS) events table
            # via pyarrow) must surface as timestamp_ntz to match what
            # the Spark 4.1 parquet reader yields on the Spark path;
            # tz-aware ones are true instants → timestamp (ltz).
            if getattr(dt, "tz", None) is not None:
                spark_t: T.DataType = T.TimestampType()
            else:
                spark_t = T.TimestampNTZType()
        elif dt == np.int64:
            spark_t = T.LongType()
        elif dt == np.int32:
            spark_t = T.IntegerType()
        elif dt == np.float64:
            spark_t = T.DoubleType()
        elif dt == np.float32:
            spark_t = T.FloatType()
        elif dt == np.bool_:
            spark_t = T.BooleanType()
        elif dt == object or pd.api.types.is_string_dtype(dt):
            non_null = pdf[col].dropna()
            if len(non_null) and not all(isinstance(v, str) for v in non_null.iloc[:100]):
                raise Unsupported(f"non-string object column {col}")
            spark_t = T.StringType()
        else:
            raise Unsupported(f"dtype {dt} of column {col}")
        fields.append(T.StructField(str(col), spark_t, True))
    # createDataFrame slices the Arrow batches across defaultParallelism
    # (32) partitions; a later collect/toPandas then schedules 32 tasks
    # for a result that is small by contract (post-slice). One partition
    # halves the fetch round trip (~63 ms -> ~32 ms measured).
    return spark.createDataFrame(pdf, schema=T.StructType(fields)).coalesce(1)


def _node_columns(node, out: set) -> bool:
    """Add the column references of a filter or alias node to `out`:
    its bare-string leaves, and every column an `in`-subquery reads.
    False when a subquery may read every column."""
    if isinstance(node, str):
        if not g.is_quoted(node):
            out.add(node)
    elif isinstance(node, dict):
        sub = referenced_input_columns(node)
        if sub is None:
            return False
        out |= sub
    elif isinstance(node, list):
        return all(_node_columns(part, out) for part in node[1:])
    return True


def referenced_input_columns(q) -> set | None:
    """Input columns a grammar query can touch, or None for 'all'
    (crude column pruning for the local mirror — the pandas analogue
    of the ReadSchema pruning Catalyst does on the Spark path)."""
    if not isinstance(q, dict):
        return None
    if g.CLAUSE_FROM in q:
        return referenced_input_columns(q[g.CLAUSE_FROM])
    select = q.get(g.CLAUSE_SELECT)
    if not select or not isinstance(select, list):
        return None
    cols: set = set()
    for e in select:
        if isinstance(e, str):
            cols.add(e)
        elif g.is_aggregate_function(e):
            cols.add(e[1])
        elif g.is_alias_assignment(e):
            if not _node_columns(e[2], cols):
                return None
        elif e != ["count"]:
            return None
    for clause in (g.CLAUSE_GROUP_BY, g.CLAUSE_DISTINCT, g.CLAUSE_ORDER_BY):
        v = q.get(clause)
        if v:
            if not isinstance(v, list) or not all(isinstance(c, str) for c in v):
                return None
            cols |= {c.lstrip("-") for c in v}  # "-" marks a descending order key
    where = q.get(g.CLAUSE_WHERE)
    if where is not None and not _node_columns(where, cols):
        return None
    return cols


def try_local(spark: SparkSession, sf_dir: str, table: str, q: dict):
    """Attempt the driver-local fast path; return a Spark DataFrame,
    or None when the caller should take the Catalyst plan (table too
    big, construct unsupported, or any local-executor failure).
    MalformedQueryException propagates — invalid queries 400
    identically on either backend."""
    path = _table_path(sf_dir, table)
    if _parquet_size(path) > MAX_FASTPATH_BYTES:
        return None
    try:
        pdf = _load_mirror(path)
        cols = referenced_input_columns(q)
        if cols is not None and cols.issubset(pdf.columns):
            keep = sorted(cols) + [
                f"__fcode_{c}" for c in sorted(cols) if f"__fcode_{c}" in pdf.columns
            ]
            try:
                # pruned run: filter/groupby copy only touched columns
                result = execute_local(q, pdf[keep])
                return _to_spark(spark, result.sliced)
            except MalformedQueryException:
                # a reference the walker missed could make the pruned
                # frame 400 a valid query — re-validate unpruned
                pass
        result: LocalResult = execute_local(q, pdf)
        return _to_spark(spark, result.sliced)
    except MalformedQueryException:
        raise
    except Unsupported:
        return None
    except Exception:  # a local gap must never fail the query
        return None

