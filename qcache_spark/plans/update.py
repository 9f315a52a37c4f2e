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
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import assert_len, raise_malformed
from .grammar import COMPARISONS, is_quoted, unquote

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
