"""Size-thresholded router: qcache grammar queries on SMALL tables run
on the driver executor (plans/arrow.py) over an Arrow table, in place;
everything else — larger tables, unsupported constructs, or ANY
driver-executor error — takes the Catalyst plan. One router
(`execute`) serves two sources:
- the server's driver-resident datasets, kept by the catalog as Arrow
  tables (`resident_table`);
- parquet tables read through a cached Arrow mirror (`try_local`,
  used by `__spark_entry__._gq`).

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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from .errors import MalformedQueryException
from .plans import grammar as g
from .plans.arrow import LocalResult, Unsupported, execute_local, plain
from .plans.update import update_arrow

# The size gate of both local sources, 64 MiB by default; the env var
# QCACHE_SPARK_FASTPATH_MAX_BYTES sets it for both.
# - parquet mirror (`try_local`): compressed parquet bytes; ~64 MiB
#   parquet is a few hundred MiB in memory, the reference's own
#   operating envelope (it rejects datasets above its cache size).
# - driver-resident datasets (`resident_table`): Arrow bytes in memory.
#   Measured on the HTTP path (4 CPUs, one local Spark session,
#   perfbench's lineitem at 25-201 MiB of Arrow, medians of 5 reads
#   per form): the resident form answered faster at every size, q1_agg
#   277 vs 872 ms at 50 MiB and 1 020 vs 1 536 ms at 201 MiB,
#   filtered_page 149 vs 960 ms and 454 vs 1 888 ms. Up to 3x the gate
#   there is no latency crossover, so the gate bounds driver memory
#   (the table, plus the columns a read filters, sorts or groups), not
#   speed. On a cluster Catalyst scales out and the crossover moves down.
MAX_FASTPATH_BYTES = int(
    os.environ.get("QCACHE_SPARK_FASTPATH_MAX_BYTES", str(64 * 1024 * 1024))
)

_MIRROR_CACHE: dict[tuple[str, float], pa.Table] = {}


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


def _load_mirror(path: str) -> pa.Table:
    """A parquet table as the driver executor's Arrow table, cached by
    path and mtime: a string column of at most max(1000, rows/100)
    distinct values is read as a dictionary (its dictionary pages
    kept, so predicates and grouping run once per distinct value), and
    nanosecond timestamps truncate to micros, as load_table does."""
    key = (path, os.path.getmtime(path))
    table = _MIRROR_CACHE.get(key)
    if table is None:
        import pyarrow.parquet as pq  # the server never reads a mirror

        schema = pq.ParquetDataset(path).schema  # a file or a directory of them
        strings = [f.name for f in schema if pa.types.is_string(f.type)]
        table = pq.read_table(path, read_dictionary=strings).unify_dictionaries()
        table = table.combine_chunks()
        limit = max(1000, table.num_rows // 100)
        for i, field in enumerate(table.schema):
            column = table.column(i)
            if pa.types.is_dictionary(field.type):
                if column.num_chunks and len(column.chunk(0).dictionary) > limit:
                    table = table.set_column(i, field.name, plain(column))
            elif pa.types.is_timestamp(field.type) and field.type.unit == "ns":
                us = pa.timestamp("us", field.type.tz)
                table = table.set_column(i, field.name, column.cast(us, safe=False))
        if len(_MIRROR_CACHE) > 32:
            _MIRROR_CACHE.clear()
        _MIRROR_CACHE[key] = table
    return table


def _to_spark(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A local result as a Spark frame with the schema the Spark path
    gives: PySpark's own Arrow type mapping, with a tz-naive timestamp
    (the parquet TIMESTAMP(NANOS) events table) as timestamp_ntz, the
    type the Spark 4.1 parquet reader yields."""
    table = pa.table([plain(c) for c in table.columns], names=table.column_names)
    schema = from_arrow_schema(table.schema, prefer_timestamp_ntz=True)
    # createDataFrame slices the Arrow batches across defaultParallelism
    # (32) partitions; a later collect/toPandas then schedules 32 tasks
    # for a result that is small by contract (post-slice). One partition
    # halves the fetch round trip (~63 ms -> ~32 ms measured).
    return spark.createDataFrame(table, schema=schema).coalesce(1)


def _node_columns(node, out: set) -> bool:
    """Add the column references of a filter or alias node to `out`:
    its bare-string leaves, and every column an `in`-subquery reads.
    The values of an `in` list are literals, not references. False
    when a subquery may read every column."""
    if isinstance(node, str):
        if not g.is_quoted(node):
            out.add(node)
    elif isinstance(node, dict):
        sub = referenced_input_columns(node)
        if sub is None:
            return False
        out |= sub
    elif isinstance(node, list):
        if len(node) == 3 and node[0] == "in" and not isinstance(node[2], dict):
            return _node_columns(node[1], out)
        return all(_node_columns(part, out) for part in node[1:])
    return True


def referenced_input_columns(q) -> set | None:
    """Input columns a grammar query can touch, or None for 'all'
    (crude column pruning for the driver executor — the analogue of
    the ReadSchema pruning Catalyst does on the Spark path)."""
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


def execute(q, table: pa.Table, enum_columns: frozenset = frozenset()) -> LocalResult | None:
    """The small-table router, shared by the server and
    `__spark_entry__._gq`: run `q` on the driver executor over the
    columns of `table` the query reads (a zero-copy `select`). Returns
    None when the caller should take the Catalyst plan: the executor
    declined (`Unsupported`) or hit any other local gap.
    MalformedQueryException propagates, so an invalid query gets the
    same 400 from either executor."""
    try:
        cols = referenced_input_columns(q)
        if cols is not None and cols.issubset(table.column_names):
            try:
                # pruned run: filters, sorts and groups touch only these
                pruned = table.select([c for c in table.column_names if c in cols])
                return execute_local(q, pruned, enum_columns=enum_columns)
            except MalformedQueryException:
                # a reference the walker missed could make the pruned
                # table 400 a valid query — re-validate unpruned
                pass
        return execute_local(q, table, enum_columns=enum_columns)
    except MalformedQueryException:
        raise
    except Exception:  # Unsupported, or a local gap: never fail the query
        return None


def try_local(spark: SparkSession, sf_dir: str, table: str, q: dict):
    """The router over a parquet table's Arrow mirror: a Spark
    DataFrame of the local result, or None when the caller should take
    the Catalyst plan (table too big, or the router declined)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if _parquet_size(path) > MAX_FASTPATH_BYTES:
        return None
    try:
        mirror = _load_mirror(path)
    except Exception:  # e.g. a file pyarrow cannot read
        return None
    result = execute(q, mirror)
    try:
        return None if result is None else _to_spark(spark, result.sliced)
    except TypeError:  # a column type Spark's Arrow mapping lacks
        return None


# -- driver-resident datasets ---------------------------------------

def resident_table(data, decide=None) -> pa.Table | None:
    """`data` (a pandas frame or an Arrow table) as a driver-resident
    Arrow table, or None when it must be stored in Spark instead: it
    is empty, larger than MAX_FASTPATH_BYTES, or has a column that is
    not int64, float64, bool or string (nulls allowed in each). Every
    string and int64 column of a pandas frame is stored in the
    form `_decide` picks; so are the plain ones of an Arrow table that
    `decide` names (default: all of them), while its other columns
    keep their arrays."""
    try:
        if isinstance(data, pa.Table):
            table = data.replace_schema_metadata(None)
            for i, name in enumerate(table.column_names):
                if decide is None or name in decide:
                    table = table.set_column(i, name, _from_arrow(table.column(i)))
        elif data.columns.is_unique:
            table = pa.Table.from_arrays(
                [_from_pandas(s) for _, s in data.items()],
                names=[str(c) for c in data.columns],
            )
        else:
            return None
    except (pa.ArrowException, TypeError, ValueError):
        return None  # e.g. an object column of mixed types
    for f in table.schema:
        typ = f.type.value_type if pa.types.is_dictionary(f.type) else f.type
        if typ not in _RESIDENT_TYPES:
            return None
    if table.num_rows == 0 or resident_size(table) > MAX_FASTPATH_BYTES:
        return None
    return table


_RESIDENT_TYPES = (pa.int64(), pa.float64(), pa.bool_(), pa.string())
_ENCODED_TYPES = (pa.string(), pa.int64())
_INDEX_TYPES = (pa.int8(), pa.int16(), pa.int32())


def _from_pandas(s: pd.Series) -> pa.Array:
    """One pandas column as Arrow. A string or int64 column is
    factorized and only its uniques are converted, so a column stored
    as a dictionary is never built plain. float64 and bool stay plain:
    factorizing would merge -0.0 with 0.0, and a bool is one bit."""
    if s.dtype == object or s.dtype == np.int64:
        codes, uniques = pd.factorize(s.to_numpy())
        dictionary = pa.array(uniques, from_pandas=True)
        # not for e.g. bools with nulls, or True and 1, which it merges
        if dictionary.type in _ENCODED_TYPES:
            encoded = _decide(codes, dictionary)
            if encoded is not None:
                return encoded
    return pa.array(s, from_pandas=True)


def _from_arrow(column: pa.ChunkedArray):
    """`_from_pandas` for a plain Arrow column (an update's result)."""
    if column.type not in _ENCODED_TYPES:
        return column
    column = column.combine_chunks()
    encoded = column.dictionary_encode()
    decided = _decide(encoded.indices.fill_null(-1).to_numpy(), encoded.dictionary)
    return column if decided is None else decided


def _decide(codes: np.ndarray, dictionary: pa.Array) -> pa.Array | None:
    """The stored form of a string or int64 column given as codes (-1
    for null) into its null-free `dictionary`: a DictionaryArray with
    the narrowest index type that holds the dictionary when
    `rows x index width + dictionary bytes` is strictly below the
    plain array's bytes; else the plain array, which is `dictionary`
    itself when every value is distinct and None (for the caller to
    build) otherwise. Bytes are what `nbytes`, and so `resident_size`,
    counts. A null costs one validity bit in either form, so both
    sides leave it out."""
    n, k = len(codes), len(dictionary)
    if k == n:
        return dictionary  # every value distinct: it is the plain column
    index = next(t for t in _INDEX_TYPES if k <= 1 << (t.bit_width - 1))
    if dictionary.type == pa.int64():
        plain_bytes = 8 * n
    else:  # an int32 offset and the UTF-8 bytes of every value
        lengths = np.append(pc.binary_length(dictionary).to_numpy(), 0)
        plain_bytes = 4 * n + int(lengths[codes].sum())
    if n * index.bit_width // 8 + dictionary.nbytes >= plain_bytes:
        return None
    nulls = codes < 0
    indices = pa.array(codes.astype(index.to_pandas_dtype()), mask=nulls if nulls.any() else None)
    return pa.DictionaryArray.from_arrays(indices, dictionary)


def resident_size(table: pa.Table) -> int:
    """The catalog size of a driver-resident table: its Arrow buffers,
    each dictionary counted once, plus the reference's flat
    per-dataset overhead (the same 100 bytes as
    catalog.estimate_size). With the repeated columns dictionary-
    encoded, perfbench's memory_benchmark tables take about 0.98
    (1k-20k rows) to 1.00 (1k-6k rows) bytes per CSV byte, against
    1.21 for the plain form and the persisted form's `estimate_size`;
    so the 64 MiB gate admits about 24 % more rows of that shape."""
    return table.nbytes + 100


def update(q: dict, table: pa.Table) -> pa.Table | None:
    """An update statement applied to a driver-resident table on the
    driver (plans/update.py:update_arrow), each assigned column stored
    again by the size rule and the others keeping their arrays; None
    when the caller should compile it on Spark instead: the statement
    is outside the Arrow subset, or the updated table no longer
    qualifies as driver-resident."""
    try:
        updated = update_arrow(q, table)
    except Unsupported:
        return None
    return resident_table(updated, {name for name, _ in q["update"]})


def result_rows(table: pa.Table) -> list[Row]:
    """A local result page as Spark Rows of plain Python values, so it
    renders through the same CSV/JSON code as collected Catalyst rows."""
    make = Row(*table.column_names)
    values = [column.to_pylist() for column in table.columns]
    return [make(*row) for row in zip(*values)] if values else []
