"""Query compiler: qcache query-dict → lazy Spark DataFrame plan.

The reference executes clause-at-a-time, eagerly, on pandas
(qcache/qframe/query.py:207-228). Here `compile_query` is a pure
function producing an UNEXECUTED DataFrame — the JSON dict becomes a
Catalyst logical plan, so predicate pushdown, column pruning,
constant folding and partial aggregation all apply before anything
runs. The grammar walker (grammar.py) validates the query and calls the
Catalyst primitives below in clause order.

Deliberate deviations (each documented where it happens):
- `order_by` runs after projection (same as reference) but Spark sort
  is a distributed range-partitioned sort, not an in-memory stable
  sort.
- `unsliced_len` is a second action over the pre-slice plan; callers
  that need both should let `QueryResult` share the cached pre-slice
  frame.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import grammar
from .aggregates import AGGREGATE_FUNCTIONS
from .expressions import BINARY_OPERATORS, UNARY_FUNCTIONS
from .filters import INTEGRAL_TYPES, _false_safe, _true_safe, java_regex, marker_join, semi_join


@dataclass
class QueryResult:
    """`sliced` is the final page; `unsliced` the pre-offset/limit plan
    whose count is the reference's `unsliced_df_len`
    (query.py:226, X-QCache-unsliced-length)."""

    sliced: DataFrame
    unsliced: DataFrame

    def unsliced_len(self) -> int:
        return self.unsliced.count()


def compile_query(
    q: dict,
    df: DataFrame,
    root_df: Optional[DataFrame] = None,
    enum_columns: frozenset = frozenset(),
) -> QueryResult:
    sliced, unsliced = grammar.run(q, df, _CATALYST, root_df, enum_columns)
    return QueryResult(sliced=sliced, unsliced=unsliced)


_KINDS = (
    ("integral", INTEGRAL_TYPES),
    ("fractional", (T.FloatType, T.DoubleType)),
    ("string", T.StringType),
    ("boolean", T.BooleanType),
)


class _Catalyst:
    """grammar.Executor over Spark DataFrames and Columns."""

    def columns(self, df):
        return df.columns

    def kind(self, df, name):
        dtype = df.schema[name].dataType
        return next((k for k, types in _KINDS if isinstance(dtype, types)), None)

    def column(self, df, name):
        return F.col(name)

    def literal(self, value):
        return F.lit(value)

    def compare(self, df, op, name, right):
        left = F.col(name)
        expr = grammar.COMPARISONS[op](left, right)
        if op == "!=":
            # NaN != x is True in pandas/NumPy, even when x is NaN too.
            return _true_safe(expr, left, right)
        return _false_safe(expr, left, right)

    def isnull(self, df, name):
        return F.col(name).isNull()

    def isin(self, df, name, values):
        if not values:
            return F.lit(False)
        col = F.col(name)
        return _false_safe(col.isin(values), col)

    def rlike(self, df, name, regex):
        col = F.col(name)
        return _false_safe(col.rlike(java_regex(regex)), col)

    def contains(self, df, name, needle):
        col = F.col(name)
        return _false_safe(col.contains(needle), col)

    def bits(self, df, op, name, mask):
        col = F.col(name)
        masked = col.bitwiseAND(F.lit(mask))
        hit = masked > 0 if op == "any_bits" else masked == F.lit(mask)
        return _false_safe(hit, col)

    semi_join = staticmethod(semi_join)
    membership = staticmethod(marker_join)

    def filter(self, df, predicate):
        return df.filter(predicate)

    def distinct(self, df, columns):
        return df.dropDuplicates(columns or None)

    def count(self, df):
        # COUNT(*) stays lazy and distributed: a global aggregate with
        # map-side partial counts, not a driver-side len().
        return df.groupBy().agg(F.count(F.lit(1)).alias("count"))

    def aggregate(self, df, keys, entries, grouping, where):
        if where is not None:
            df = df.filter(where)
        # output keeps the source column's name, like the reference's
        # `agg({col: fn})` result frame (query.py:50-58)
        aggs = [AGGREGATE_FUNCTIONS[fn](col).alias(col) for fn, col in entries]
        mode, sets = grouping or ("groupBy", None)
        if mode == "grouping_sets":
            return df.groupingSets(sets, *keys).agg(*aggs)
        return getattr(df, mode)(*keys).agg(*aggs)  # groupBy / rollup / cube

    def unary(self, op, value):
        return UNARY_FUNCTIONS[op](value)

    def binary(self, op, left, right):
        return BINARY_OPERATORS[op](left, right)

    def with_column(self, df, name, value):
        return df.withColumn(name, value)

    def select(self, df, columns):
        return df if columns is None else df.select(*columns)

    def order(self, df, keys):
        return df.orderBy(*[F.col(n).asc() if asc else F.col(n).desc() for n, asc in keys])

    def slice(self, df, offset, limit):
        if offset:
            df = df.offset(offset)
        if limit:
            df = df.limit(limit)
        return df


_CATALYST = _Catalyst()
