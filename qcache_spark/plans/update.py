"""`update` statement compiler — copy-on-write.

The reference mutates the cached pandas frame in place
(qcache/qframe/update.py:106-114). Spark DataFrames are immutable, so
an update compiles to a NEW full-table plan:

    df.withColumn(c, when(mask, new_value).otherwise(col(c)))

and the catalog swaps the cached entry atomically (§1.3 of SURVEY.md).
Semantics preserved from the reference:

- The row mask is computed ONCE against the pre-update table
  (update.py:106: filter built before any assignment), even if an
  update rewrites a column the mask reads.
- Updates apply in declaration order; self-referring updates
  (`["+", col, 2]` meaning `col += 2`) see the result of earlier
  updates in the same statement (update.py:56-75).
- The update-`where` grammar is the restricted subset: comparisons,
  `in` with a literal list, `isnull` — no &/|/!/like/bits
  (update.py:15-48).

A driver-resident dataset (an Arrow table, cache/catalog.py) takes
the simple statements without Spark: `update_arrow` applies literal
assignments under a column-vs-literal `where` with pyarrow.compute,
and declines everything else to `compile_update`.
"""
from __future__ import annotations

import functools
import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import assert_len, raise_malformed
from .grammar import COMPARISONS, is_quoted, unquote
from .local import Unsupported

SELF_REFERRING_OPERATORS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: F.try_divide(a, b),
    "&": lambda a, b: a.bitwiseAND(b),
    "|": lambda a, b: a.bitwiseOR(b),
    "^": lambda a, b: a.bitwiseXOR(b),
    "%": lambda a, b: F.try_mod(a, b),
    "**": lambda a, b: F.pow(a, b),
}

MASK_COL = "__qcache_update_mask__"


def _prepare_arg(df: DataFrame, arg) -> Column:
    """Literal vs column resolution for update args
    (reference update.py:5-12)."""
    if isinstance(arg, str):
        if is_quoted(arg):
            return F.lit(unquote(arg))
        if arg not in df.columns:
            raise_malformed("Unknown column", arg)
        return F.col(arg)
    return F.lit(arg)


def _build_update_mask(df: DataFrame, update_q) -> Column:
    if type(update_q) is not list:
        raise_malformed("Expressions must be lists", update_q)
    if not update_q:
        raise_malformed("Empty expression not allowed", update_q)

    operator = update_q[0]
    if operator == "isnull":
        assert_len(update_q, 2, "Invalid length of isnull query")
        col = update_q[1]
        if not isinstance(col, str) or col not in df.columns:
            raise_malformed("Unknown column for 'isnull'", update_q)
        return F.col(col).isNull()

    if operator == "in":
        if len(update_q) != 3:
            raise_malformed("Invalid length of 'in' query", update_q)
        _, column, values = update_q
        if column not in df.columns:
            raise_malformed(
                "First argument to 'in' must be a column present in frame", update_q
            )
        if not isinstance(values, (list, tuple)):
            raise_malformed("Second argument to 'in' must be a list", update_q)
        if not values:
            return F.lit(False)
        prepared = [_prepare_arg(df, v) for v in values]
        col = F.col(column)
        mask = prepared[0] == col
        for p in prepared[1:]:
            mask = mask | (p == col)
        return F.coalesce(mask, F.lit(False))

    if operator in COMPARISONS:
        assert_len(update_q, 3)
        arg1 = _prepare_arg(df, update_q[1])
        arg2 = _prepare_arg(df, update_q[2])
        expr = COMPARISONS[operator](arg1, arg2)
        if operator == "!=":
            return F.coalesce(expr, F.lit(True))
        return F.coalesce(expr, F.lit(False))

    raise_malformed(f"Unknown operator '{operator}'", update_q)


def compile_update(q: dict, df: DataFrame) -> DataFrame:
    """Return the post-update table as a new lazy plan."""
    if "where" not in q:
        raise_malformed("Update query requires a where clause", q)

    original_columns = list(df.columns)
    mask = _build_update_mask(df, q["where"])
    # Materialize the mask as a column so every subsequent conditional
    # reads the PRE-update predicate even if updates rewrite its inputs.
    result = df.withColumn(MASK_COL, mask)

    updates = q["update"]
    if type(updates) is not list:
        raise_malformed("Invalid update clause", updates)

    for update in updates:
        if not isinstance(update, (list, tuple)):
            raise_malformed("Invalid update clause", update)
        if len(update) == 2:
            column, value = update
            if column not in result.columns:
                raise_malformed("Unknown column in update", update)
            new_value = _prepare_arg(result, value)
        elif len(update) == 3:
            op, column, value = update
            if column not in result.columns:
                raise_malformed("Unknown column in update", update)
            if op in ("<<", ">>"):
                if not isinstance(value, int) or isinstance(value, bool):
                    raise_malformed("Shift amount must be an integer literal", update)
                shift = F.shiftleft if op == "<<" else F.shiftright
                new_value = shift(F.col(column), value)
            else:
                fn = SELF_REFERRING_OPERATORS.get(op)
                if fn is None:
                    raise_malformed("Invalid update operator", update)
                new_value = fn(F.col(column), _prepare_arg(result, value))
        else:
            raise_malformed("Invalid update clause", update)
        result = result.withColumn(
            column, F.when(F.col(MASK_COL), new_value).otherwise(F.col(column))
        )

    return result.select(*original_columns)


_ARROW_COMPARISONS = {
    "==": pc.equal,
    "!=": pc.not_equal,
    "<": pc.less,
    "<=": pc.less_equal,
    ">": pc.greater,
    ">=": pc.greater_equal,
}
_NUMBER_TYPES = (pa.int64(), pa.float64())


def _arrow_literal(value, column: pa.ChunkedArray, assign: bool = False) -> pa.Scalar:
    """`value` as a scalar of the column's own kind: a quoted string
    for a string column, a bool for a bool column, a finite number
    for a numeric one (an assignment must keep the column's type).
    Raises Unsupported for anything else, e.g. a column reference,
    null, or a kind Spark would cast."""
    typ = column.type
    if isinstance(value, str):
        if is_quoted(value) and typ == pa.string():
            return pa.scalar(unquote(value), pa.string())
    elif isinstance(value, bool):
        if typ == pa.bool_():
            return pa.scalar(value, pa.bool_())
    elif isinstance(value, int):
        if typ in _NUMBER_TYPES and -(1 << 63) <= value < (1 << 63):
            return pa.scalar(value if typ == pa.int64() else float(value), typ)
    elif isinstance(value, float) and math.isfinite(value):
        if typ == pa.float64() or (typ == pa.int64() and not assign):
            return pa.scalar(value, pa.float64())
    raise Unsupported(f"update literal {value!r} for a {typ} column")


def _arrow_column(table: pa.Table, name) -> pa.ChunkedArray:
    if not isinstance(name, str) or name not in table.column_names:
        raise Unsupported("update names no column of the table")
    return table.column(name)


def _arrow_mask(table: pa.Table, where) -> pa.ChunkedArray:
    """`_build_update_mask` over an Arrow table: null compares False
    (True for `!=`)."""
    if not isinstance(where, list) or not where:
        raise Unsupported("update where")
    op = where[0]
    if op == "isnull" and len(where) == 2:
        return pc.is_null(_arrow_column(table, where[1]))
    if op == "in" and len(where) == 3 and isinstance(where[2], list):
        column = _arrow_column(table, where[1])
        masks = [pc.equal(column, _arrow_literal(v, column)) for v in where[2]]
        if not masks:
            return pa.repeat(False, len(table))
        return pc.fill_null(functools.reduce(pc.or_kleene, masks), False)
    if isinstance(op, str) and op in _ARROW_COMPARISONS and len(where) == 3:
        column = _arrow_column(table, where[1])
        if column.type == pa.float64() and pc.any(pc.is_nan(column)).as_py():
            # Spark orders NaN above every number; Arrow compares it False
            raise Unsupported("NaN in a compared float column")
        mask = _ARROW_COMPARISONS[op](column, _arrow_literal(where[2], column))
        return pc.fill_null(mask, op == "!=")
    raise Unsupported(f"update where operator {op!r}")


def update_arrow(q: dict, table: pa.Table) -> pa.Table:
    """The post-update table for a statement of literal assignments
    (`[column, literal]`) under a `where` of `isnull`, a literal `in`
    list or a column-vs-literal comparison, every literal of its
    column's kind; the same rows and values `compile_update` gives,
    computed with no Spark job. Raises Unsupported for any other
    statement, malformed ones included, so the caller compiles it on
    Spark and answers exactly as before."""
    updates = q.get("update")
    if "where" not in q or not isinstance(updates, list):
        raise Unsupported("update statement")
    mask = _arrow_mask(table, q["where"])
    for update in updates:
        if not isinstance(update, list) or len(update) != 2:
            raise Unsupported("update clause")
        name, value = update
        column = _arrow_column(table, name)
        i = table.column_names.index(name)
        table = table.set_column(
            i, table.field(i), pc.if_else(mask, _arrow_literal(value, column, assign=True), column)
        )
    return table
