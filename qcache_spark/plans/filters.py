"""Catalyst pieces of the `where` clause: null safety and subquery joins.

The grammar walker (grammar.py) validates a filter tree and calls the
Catalyst executor (compiler.py), which builds one Spark `Column`
predicate from these helpers so that Catalyst can push it into the
parquet scan:

- Null semantics are pandas/NumPy two-valued, not SQL three-valued:
  comparisons with null are False (`!=` is True), `like` on a null
  cell is False (pandas_filter.py:127 `na=False`), and `!` negates
  those plain booleans. We encode this with `IS NOT NULL`
  conjunctions/disjunctions on the operands (`_false_safe` /
  `_true_safe` below), NOT by coalescing predicates to false:
  the conjunctive form decomposes into leaves the data-source
  filter API accepts, so pushdown survives (coalesce() is opaque
  to it — SCALING.md §1).
- `in` with a subquery executes against the ROOT cached frame
  (pandas_filter.py:83-91, context.py:1-16). At the top level of the
  `where` tree it compiles to a left-semi join (and `!`-wrapped to a
  left-anti join). Nested at ANY depth inside a boolean tree, each
  membership node is lifted to a marker join (`marker_join`) — never a
  driver-side collect, so a nested subquery over a large slice stays
  distributed (Catalyst broadcasts the probe side when small).
"""
from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _false_safe(expr: Column, *operands: Column) -> Column:
    """Collapse SQL null to False → two-valued pandas-style logic.

    Written as `expr AND operand IS NOT NULL ...` rather than
    `coalesce(expr, false)`: the conjunctive form decomposes into leaf
    predicates Catalyst can push into the parquet scan (coalesce() is
    opaque to the data-source filter API and would disable pushdown —
    the difference between scanning 100 TB and scanning a few row
    groups)."""
    for operand in operands:
        expr = expr & operand.isNotNull()
    return expr


def _true_safe(expr: Column, *operands: Column) -> Column:
    """Collapse SQL null to True (pandas `!=` semantics: NaN != x is
    True). `expr OR operand IS NULL ...` — also pushdown-friendly."""
    for operand in operands:
        expr = expr | operand.isNull()
    return expr


# an escape, a character class (a ] right after [ or [^ is a member),
# or Python's spelling of a named group or its backreference
_NAMED_GROUPS = re.compile(r"\\.|\[\^?\]?(?:\\.|[^]\\])*\]|\(\?P<|\(\?P=(\w+)\)")


def java_regex(regex: str) -> str:
    """A like pattern's Python regex in Java's spelling of named
    groups: `(?P<name>` is `(?<name>` and `(?P=name)` is `\\k<name>`.
    Escaped characters and character classes are left as they are."""
    def respell(m):
        if m.group(1):
            return f"\\k<{m.group(1)}>"
        return "(?<" if m.group(0) == "(?P<" else m.group(0)

    return _NAMED_GROUPS.sub(respell, regex)


def _fresh_column_name(base: str, taken) -> str:
    """`base`, suffixed until it collides with no existing column —
    a user dataset may legitimately contain a column named like an
    internal marker (ADVICE r4: the join condition would otherwise be
    ambiguous and surface as an AnalysisException instead of working)."""
    taken = set(taken)
    name = base
    n = 0
    while name in taken:
        n += 1
        name = f"{base}{n}_"
    return name


def semi_join(df: DataFrame, col_name: str, sub: DataFrame, anti: bool) -> DataFrame:
    """Top-level `in`-subquery as a distributed (left-semi / left-anti)
    join.

    Scale note: the subquery side is usually a filtered/aggregated
    slice → Catalyst/AQE will broadcast it when it is small; when it
    is not, this is a shuffled semi join — still no driver
    materialization, unlike the reference's collect-then-isin."""
    probe_col = _fresh_column_name("__in_value__", df.columns)
    return df.join(
        sub.select(col_name).withColumnRenamed(col_name, probe_col),
        on=F.col(col_name) == F.col(probe_col),
        how="left_anti" if anti else "left_semi",
    )


def marker_join(df: DataFrame, col_name: str, sub: DataFrame):
    """Lift one nested `in`-subquery node: left-join the DISTINCT
    subquery values carried in a uniquely named marker column; the
    membership predicate is then `marker IS NOT NULL`. Returns
    (joined frame, predicate); the caller drops the marker after
    filtering.

    Catalyst/AQE broadcasts the probe side when it is small (the common
    dimension-slice case), so at scale this is a map-side hash probe
    per membership node — never a materialization on the driver. Null
    semantics match the reference's collect-then-isin
    (pandas_filter.py:83-91): a null probe cell joins nothing → marker
    null → False (and True under `!`), exactly the two-valued pandas
    behavior.

    Ordering deviation: when AQE picks a SHUFFLED join for a large
    probe side, the filtered frame's row order is no longer the scan
    order, so offset/limit paging without an order_by may return
    different pages than a collect-then-isin filter would. Per SURVEY
    §7 the engine gives no order guarantee without order_by; callers
    that page must sort.
    """
    marker = _fresh_column_name("__in_marker_0__", df.columns)
    probe = (
        sub.select(col_name)
        .distinct()  # a duplicated probe value must not fan out rows
        .withColumnRenamed(col_name, marker)
    )
    joined = df.join(probe, on=F.col(col_name) == F.col(marker), how="left")
    return joined, F.col(marker).isNotNull()
