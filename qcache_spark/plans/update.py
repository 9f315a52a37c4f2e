"""The `update` statement, written once for both executors — copy-on-write.

    {"update": [[column, value] | [operator, column, value], ...],
     "where": comparison | ["in", column, [values]] | ["isnull", column]}

The reference mutates the cached pandas frame in place
(qcache/qframe/update.py:106-114). Here an update builds a NEW table
and the catalog swaps the cached entry atomically (§1.3 of SURVEY.md).
`run` checks the whole statement against the table's columns first,
so every MalformedQueryException is raised before an executor does
any work and both executors reject the same statements with the same
messages. It then drives one of two executors:

- Catalyst (`compile_update`, any Spark frame): a lazy plan that
  keeps the mask as a column, then replaces each assigned column
  with `when(mask, new).otherwise(old)`.
- Arrow (`update_arrow`, a driver-resident table, cache/catalog.py):
  pyarrow.compute, with no Spark job. It takes literal assignments
  under a column-vs-literal `where`, every literal of its column's
  kind, and raises Unsupported for any other valid statement, which
  the caller then compiles on Spark.

Semantics preserved from the reference:

- The row mask is computed ONCE against the pre-update table
  (update.py:106: filter built before any assignment), even if an
  update rewrites a column the mask reads.
- Updates apply in declaration order; a self-referring update
  (`["+", col, 2]` meaning `col += 2`) or a column value sees the
  result of earlier updates in the same statement (update.py:56-75).
- The update-`where` grammar is the restricted subset: comparisons,
  `in` with a list, `isnull` — no &/|/!/like/bits (update.py:15-48).
  Bare strings are column references, in the `in` list too, and
  `'quoted'` strings are string literals (update.py:5-12). A
  comparison with null is False (`!=`: True).
"""
from __future__ import annotations

import functools
import operator
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import assert_len, raise_malformed
from .expressions import BINARY_OPERATORS
from .grammar import COMPARISONS, SHIFTS, _named, is_quoted, unquote
from . import arrow

# `[operator, column, value]`: column = column <operator> value
UPDATE_OPERATORS = frozenset({"+", "-", "*", "/", "%", "**", "&", "|", "^"}) | SHIFTS
MASK_COL = "__qcache_update_mask__"


class _Column(NamedTuple):
    """A column operand; a literal operand is its Python value."""

    name: str


def _operand(arg, columns):
    if isinstance(arg, str):
        if is_quoted(arg):
            return unquote(arg)
        if arg not in columns:
            raise_malformed("Unknown column", arg)
        return _Column(arg)
    if arg is not None and not isinstance(arg, (bool, int, float)):
        raise_malformed("Invalid update value", arg)
    return arg


def _where(where, columns) -> tuple:
    """The checked `where` as (executor primitive, *arguments)."""
    if type(where) is not list:
        raise_malformed("Expressions must be lists", where)
    if not where:
        raise_malformed("Empty expression not allowed", where)
    op = where[0]
    if op == "isnull":
        assert_len(where, 2, "Invalid length of isnull query")
        if not _named(where[1], columns):
            raise_malformed("Unknown column for 'isnull'", where)
        return "isnull", where[1]
    if op == "in":
        assert_len(where, 3, "Invalid length of 'in' query")
        _, name, values = where
        if not _named(name, columns):
            raise_malformed("First argument to 'in' must be a column present in frame", where)
        if not isinstance(values, (list, tuple)):
            raise_malformed("Second argument to 'in' must be a list", where)
        return "isin", name, [_operand(v, columns) for v in values]
    if _named(op, COMPARISONS):
        assert_len(where, 3)
        return "compare", op, _operand(where[1], columns), _operand(where[2], columns)
    raise_malformed(f"Unknown operator '{op}'", where)


def _clause(clause, columns) -> tuple:
    """The checked update clause as (operator or None, column, value)."""
    if not isinstance(clause, (list, tuple)) or len(clause) not in (2, 3):
        raise_malformed("Invalid update clause", clause)
    op, name, value = clause if len(clause) == 3 else (None, *clause)
    if not _named(name, columns):
        raise_malformed("Unknown column in update", clause)
    if op is None:
        return None, name, _operand(value, columns)
    if not _named(op, UPDATE_OPERATORS):
        raise_malformed("Invalid update operator", clause)
    if op in SHIFTS and (not isinstance(value, int) or isinstance(value, bool)):
        # the bit count is a literal (Spark's shiftleft/shiftright)
        raise_malformed("Shift amount must be an integer literal", clause)
    return op, name, _operand(value, columns)


def run(q: dict, frame, ex):
    """Check update statement `q` against the frame's columns, then
    apply it to `frame` with executor `ex`: the mask first, fixed
    before any assignment, then each assignment in order."""
    if "where" not in q:
        raise_malformed("Update query requires a where clause", q)
    columns = ex.columns(frame)
    primitive, *args = _where(q["where"], columns)
    clauses = q["update"]
    if type(clauses) is not list:
        raise_malformed("Invalid update clause", clauses)
    clauses = [_clause(clause, columns) for clause in clauses]
    frame, mask = ex.fix_mask(frame, getattr(ex, primitive)(frame, *args))
    for op, name, value in clauses:
        frame = ex.assign(frame, mask, op, name, value)
    return frame


class _Catalyst:
    """Spark Columns over the DataFrame being updated."""

    def columns(self, df):
        return df.columns

    def value(self, arg):
        return F.col(arg.name) if isinstance(arg, _Column) else F.lit(arg)

    def isnull(self, df, name):
        return F.col(name).isNull()

    def isin(self, df, name, values):
        if not values:
            return F.lit(False)
        matches = [self.value(v) == F.col(name) for v in values]
        return F.coalesce(functools.reduce(operator.or_, matches), F.lit(False))

    def compare(self, df, op, left, right):
        expr = COMPARISONS[op](self.value(left), self.value(right))
        return F.coalesce(expr, F.lit(op == "!="))

    def fix_mask(self, df, mask):
        # a column of its own, so assignments to what it reads leave
        # it, named apart from the table's own
        name = MASK_COL
        while name in df.columns:
            name += "_"
        return df.withColumn(name, mask), F.col(name)

    def assign(self, df, mask, op, name, value):
        old = F.col(name)
        if op is None:
            new = self.value(value)
        else:
            new = BINARY_OPERATORS[op](old, value if op in SHIFTS else self.value(value))
        return df.withColumn(name, F.when(mask, new).otherwise(old))


def compile_update(q: dict, df: DataFrame) -> DataFrame:
    """Return the post-update table as a new lazy plan."""
    return run(q, df, _Catalyst()).select(*df.columns)


class _Arrow(arrow.Reader):
    """pyarrow.compute over the table: the read executor's `columns`,
    `isnull` and `isin`, and its literal, compare and mask primitives."""

    def compare(self, table, op, left, right):
        if not isinstance(left, _Column):
            raise arrow.Unsupported("update where on a literal")
        column = table.column(left.name)
        result = arrow.compare(op, column, arrow.literal(right, column.type))
        return arrow.predicate(result, op == "!=")

    def fix_mask(self, table, mask):
        return table, pa.array(mask)  # an array: assignments cannot move it

    def assign(self, table, mask, op, name, value):
        if op is not None:
            raise arrow.Unsupported("self-referring update")
        column = table.column(name)
        new = pc.if_else(mask, arrow.literal(value, column.type, assign=True), column)
        # a dictionary column comes back plain
        return table.set_column(table.column_names.index(name), name, new)


def update_arrow(q: dict, table: pa.Table) -> pa.Table:
    """The post-update table for a statement of literal assignments
    (`[column, literal]`) under a `where` of `isnull`, a literal `in`
    list or a column-vs-literal comparison, every literal of its
    column's kind; the same rows and values `compile_update` gives,
    computed with no Spark job. Raises MalformedQueryException for a
    malformed statement, like `compile_update`, and Unsupported for
    any other valid one, which the caller then compiles on Spark."""
    try:
        return run(q, table, _Arrow())
    except pa.ArrowException as exc:
        raise arrow.Unsupported(str(exc)) from exc
