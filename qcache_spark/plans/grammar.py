"""The qcache query grammar, written once for both executors.

A query is a JSON dict of clauses (PAPER.md §0) run in the reference's
order (qcache/qframe/query.py:216-226):

    from → where → group_by → distinct → select → order_by → offset → limit

This module owns everything about a query dict that does not depend on
the engine running it: the clause set and order, the node shapes, the
operator, function and aggregate names, and every
MalformedQueryException a query can raise. `run` walks a query and
calls the primitives of an `Executor`. The Catalyst compiler
(compiler.py) and the driver executor over Arrow tables (arrow.py)
each implement them, so the two differ in speed but never in which
queries they reject.

Leaf rules (reference pandas_filter.py:15-25): numbers and booleans are
literals, `'quoted strings'` are string literals, bare strings are
column references. Filter predicates follow the reference's pandas
two-valued null semantics: a comparison or match with null is False (`!=` is True),
and `!`/`&`/`|` combine those plain booleans.

Types: where the executor knows a column's kind, operands must agree.
A comparison needs two numbers, two strings or two booleans; an
arithmetic or bitwise operator and a math function need numbers. Spark
casts across kinds (and fails at run time when the cast does), the
reference's pandas compares by identity, so a mixed-kind query is a
400 on both executors. The one cast kept is a quoted literal that spells a number (`'1000.5'`)
where a number is needed: against a numeric operand or in arithmetic
it reads as that number. A boolean never compares with a number: under
ANSI mode Catalyst refuses `flag == 1` at analysis.
"""
from __future__ import annotations

import functools
import math
import operator
import re
from typing import Protocol

from ..errors import (
    MalformedQueryException,
    assert_integer,
    assert_len,
    assert_list,
    raise_malformed,
)

CLAUSE_FROM = "from"
CLAUSE_WHERE = "where"
CLAUSE_GROUP_BY = "group_by"
CLAUSE_DISTINCT = "distinct"
CLAUSE_SELECT = "select"
CLAUSE_ORDER_BY = "order_by"
CLAUSE_OFFSET = "offset"
CLAUSE_LIMIT = "limit"
QUERY_CLAUSES = {
    CLAUSE_FROM,
    CLAUSE_WHERE,
    CLAUSE_GROUP_BY,
    CLAUSE_DISTINCT,
    CLAUSE_SELECT,
    CLAUSE_ORDER_BY,
    CLAUSE_OFFSET,
    CLAUSE_LIMIT,
}

# Python's operators build the comparison on a Spark Column.
COMPARISONS = {
    "==": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}
ORDERED_COMPARISONS = frozenset({"<", "<=", ">", ">="})
BIT_TESTS = frozenset({"any_bits", "all_bits"})
LIKES = frozenset({"like", "ilike"})

# Alias-expression surface: numexpr's operators and unary functions
# (reference query.py:44,78-116; test_qframe.py:482-486) plus
# Spark-native extensions (upper/lower/length/trim, unary minus).
SHIFTS = frozenset({"<<", ">>"})
BINARY_OPERATORS = frozenset(
    {"+", "-", "*", "/", "**", "%", "//", "&", "|", "^"} | set(COMPARISONS) | SHIFTS
)
STRING_FUNCTIONS = frozenset({"upper", "lower", "length", "trim"})
UNARY_FUNCTIONS = frozenset({
    "sin", "cos", "tan", "arcsin", "arccos", "arctan",
    "sinh", "cosh", "tanh", "arcsinh", "arccosh", "arctanh",
    "log", "log10", "log1p", "exp", "expm1", "sqrt", "abs",
    "floor", "ceil", "sign", "-",
}) | STRING_FUNCTIONS

# Executor column kinds, grouped into the families that compare.
_FAMILIES = {"integral": "number", "fractional": "number", "string": "string", "boolean": "boolean"}

# The reference duck-types aggregate names onto pandas groupby methods
# (query.py:55-58); unknown names are malformed (test_qframe.py:334-338).
# dsum/davg/msum/mavg and the sketch aggregates are extensions.
AGGREGATE_FUNCTIONS = frozenset({
    "sum", "count", "min", "max", "mean", "avg", "median", "std", "var",
    "prod", "product", "first", "last", "nunique", "count_distinct",
    "dsum", "davg", "msum", "mavg", "approx_nunique", "sem", "skew", "kurt",
})
GROUPING_MODES = ("rollup", "cube", "grouping_sets")

ALIAS_STRING = r"^([A-Za-z0-9_-]+)$"
ALIAS_RE = re.compile(ALIAS_STRING)
# A regex group name that Java's (Catalyst's) regex engine can hold
JAVA_GROUP_NAME = re.compile(r"[A-Za-z][A-Za-z0-9]*")
# An escape or a character class, inside which `{,` is two literals; a
# `{,` left outside them is a literal to Python and RE2 and an error to
# Java's regex.
_ESCAPE_OR_CLASS = re.compile(r"\\.|\[\^?\]?(?:\\.|[^]\\])*\]")


def is_quoted(s: str) -> bool:
    return len(s) >= 2 and (
        (s[0] == "'" and s[-1] == "'") or (s[0] == '"' and s[-1] == '"')
    )


def unquote(s: str) -> str:
    if s[:1] in ("'", '"'):
        s = s[1:]
    if s[-1:] in ("'", '"'):
        s = s[:-1]
    return s


def is_aggregate_function(expr) -> bool:
    return type(expr) is list and len(expr) == 2


def is_alias_assignment(expr) -> bool:
    return type(expr) is list and len(expr) == 3 and expr[0] == "="


def is_subquery_in(q) -> bool:
    return isinstance(q, list) and len(q) == 3 and q[0] == "in" and isinstance(q[2], dict)


def like_regex(op: str, pattern: str) -> str:
    """like/ilike pattern → regex (reference pandas_filter.py:110-121):
    a leading or trailing % leaves that end unanchored, otherwise the
    end is anchored with ^/$; everything in between is a regex."""
    regexp = pattern[1:] if pattern.startswith("%") else "^" + pattern
    regexp = regexp[:-1] if regexp.endswith("%") else regexp + "$"
    return "(?i)" + regexp if op == "ilike" else regexp


_NUMBER_TEXT = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", re.ASCII)


def _as_number(value):
    """The finite number a quoted literal spells (`'1000.5'` → 1000.5,
    `'7'` → 7), or None."""
    if isinstance(value, str) and is_quoted(value):
        text = unquote(value).strip()
        if _NUMBER_TEXT.fullmatch(text):
            if text.lstrip("+-").isdigit():
                return int(text)
            number = float(text)
            return number if math.isfinite(number) else None
    return None


def _literal_family(value) -> str | None:
    """The family of a literal operand: a bool, a number or a
    (quoted) string; None for null."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, (int, float)):
        return "number"
    if isinstance(value, str):
        return "string"
    return None


def _named(op, names) -> bool:
    return isinstance(op, str) and op in names


class Executor(Protocol):
    """What the walker asks of an engine. `frame` is the engine's table
    type. Predicates and expression values are engine values that
    support `~`, `&` and `|` as boolean not/and/or; predicates are
    never null. The walker validates every name and shape first, so
    a primitive sees only well-formed input; it may still decline a
    construct by raising its own exception."""

    def columns(self, frame) -> list: ...
    # "integral" | "fractional" | "string" | "boolean", None if other
    def kind(self, frame, name: str) -> str | None: ...
    def column(self, frame, name: str): ...
    def literal(self, value): ...
    def compare(self, frame, op: str, name: str, right): ...
    def isnull(self, frame, name: str): ...
    def isin(self, frame, name: str, values: list): ...
    def rlike(self, frame, name: str, regex: str): ...
    def contains(self, frame, name: str, needle: str): ...
    def bits(self, frame, op: str, name: str, mask: int): ...
    def semi_join(self, frame, name: str, sub, anti: bool): ...
    def membership(self, frame, name: str, sub) -> tuple: ...  # (frame, predicate)
    def filter(self, frame, predicate): ...
    def distinct(self, frame, columns: list): ...  # [] means every column
    def count(self, frame): ...
    def aggregate(self, frame, keys: list, entries: list, grouping, where): ...
    def unary(self, op: str, value): ...
    def binary(self, op: str, left, right): ...
    def with_column(self, frame, name: str, value): ...
    def select(self, frame, columns: list | None): ...  # None: every visible column
    def order(self, frame, keys: list): ...  # [(name, ascending)]
    def slice(self, frame, offset: int, limit: int): ...  # 0 means none


def run(q, frame, ex: Executor, root=None, enum_columns=frozenset()):
    """Walk query `q` over `frame`; return the (sliced, unsliced) frames.
    `in`-subqueries run against `root` — the frame the outermost query
    started from — at any nesting depth (reference context.py:1-16)."""
    return _Walk(ex, frame if root is None else root, enum_columns).query(q, frame)


class _Walk:
    def __init__(self, ex: Executor, root, enum_columns):
        self.ex = ex
        self.root = root
        self.enum_columns = enum_columns

    def query(self, q, frame):
        if not isinstance(q, dict):
            raise MalformedQueryException(f'Query must be a dictionary, not "{q}"')
        unknown = set(q) - QUERY_CLAUSES
        if unknown:
            raise MalformedQueryException(
                f"Unknown query clauses: {', '.join(sorted(unknown))}"
            )
        ex = self.ex
        if CLAUSE_FROM in q:
            frame = self.query(q[CLAUSE_FROM], frame)[0]

        group_by = q.get(CLAUSE_GROUP_BY)
        # With a group_by the filter is handed to the aggregation.
        frame, where = self.where(frame, q.get(CLAUSE_WHERE), defer=bool(group_by))
        grouping = None
        if isinstance(group_by, dict):
            grouping, group_by = _structured_group_by(group_by)
        distinct = q.get(CLAUSE_DISTINCT)
        if group_by:
            if grouping is None:
                assert_list("group_by", group_by)
            if _missing(group_by, ex.columns(frame)):
                raise_malformed("Group by column not in table", group_by)
            if distinct is not None:
                raise_malformed("Cannot combine group_by and distinct", q)
        elif distinct is not None:
            assert_list("distinct", distinct)
            if _missing(distinct, ex.columns(frame)):
                raise_malformed("Distinct column not in table", distinct)
            frame = ex.distinct(frame, distinct)

        frame = self.project(frame, where, q.get(CLAUSE_SELECT), group_by, grouping)
        frame = self.order(frame, q.get(CLAUSE_ORDER_BY))
        offset = _slice_bound(CLAUSE_OFFSET, q.get(CLAUSE_OFFSET))
        limit = _slice_bound(CLAUSE_LIMIT, q.get(CLAUSE_LIMIT))
        return ex.slice(frame, offset, limit), frame

    # -- where --------------------------------------------------------

    def where(self, frame, where_q, defer: bool):
        """Filter `frame`; return (frame, predicate still to apply).
        A missing or empty where is a no-op (pandas_filter.py:166-171).
        A top-level `in`-subquery (or its `!`) is a semi (anti) join;
        nested ones become membership predicates first."""
        if not where_q:
            return frame, None
        assert_list("where", where_q)
        if is_subquery_in(where_q):
            return self.semi_join(frame, where_q, anti=False), None
        if len(where_q) == 2 and where_q[0] == "!" and is_subquery_in(where_q[1]):
            return self.semi_join(frame, where_q[1], anti=True), None
        columns = self.ex.columns(frame)
        nested = _subquery_nodes(where_q, [])
        if not nested:
            predicate = _Predicate(self, frame, columns, {}).compile(where_q)
            return (frame, predicate) if defer else (self.ex.filter(frame, predicate), None)
        membership = {}
        joined = frame
        for node in nested:
            sub = self.subquery(node, columns)
            joined, membership[id(node)] = self.ex.membership(joined, node[1], sub)
        predicate = _Predicate(self, joined, columns, membership).compile(where_q)
        return self.ex.select(self.ex.filter(joined, predicate), list(columns)), None

    def semi_join(self, frame, node, anti: bool):
        sub = self.subquery(node, self.ex.columns(frame))
        return self.ex.semi_join(frame, node[1], sub, anti)

    def subquery(self, node, columns):
        """Run an `in`-subquery against the root frame; return its result,
        which holds the probed column."""
        _, name, sub_q = node
        _check_column(name, columns)
        sub = self.query(sub_q, self.root)[0]
        if name not in self.ex.columns(sub):
            raise_malformed(f'Unknown column "{name}"', node)
        return sub

    # -- select -------------------------------------------------------

    def project(self, frame, where, project_q, group_by, grouping):
        ex = self.ex
        if not project_q:
            if group_by:
                raise_malformed(
                    "Aggregate function required when group_by is specified", project_q
                )
            return ex.select(frame, None)
        assert_list("project", project_q)
        if project_q == [["count"]]:
            # a global COUNT(*), even under a group_by
            return ex.count(frame if where is None else ex.filter(frame, where))

        aggregates, aliases = _classify(project_q)
        if aggregates and aliases:
            raise_malformed("Cannot mix aliasing and aggregation functions", project_q)
        if aggregates:
            _check_unique_outputs(project_q)
        if group_by:
            if not aggregates:
                raise_malformed(
                    "Aggregate function required when group_by is specified", project_q
                )
            _check_aggregates(aggregates, ex.columns(frame), project_q)
            frame = ex.aggregate(frame, group_by, aggregates, grouping, where)
        elif aggregates:
            if len(aggregates) != len(project_q):
                raise_malformed(
                    "Cannot mix aggregation functions and columns without group_by clause",
                    project_q,
                )
            _check_aggregates(aggregates, ex.columns(frame), project_q)
            return ex.aggregate(frame, [], aggregates, None, None)
        elif aliases:
            frame = self.aliases(frame, aliases)

        names = [e if type(e) is not list else e[1] for e in project_q]
        missing = sorted(set(names) - set(ex.columns(frame)))
        if missing:
            raise_malformed("Selected columns not in table", missing)
        return ex.select(frame, names)

    def aliases(self, frame, expressions):
        """`["=", dst, expr]` assignments, applied in declaration order
        so later ones can read earlier ones (query.py:99-105)."""
        for expression in expressions:
            destination, source = expression[1], expression[2]
            if not isinstance(destination, str):
                raise_malformed("Invalid alias, must be a string", expression)
            if not ALIAS_RE.match(destination):
                raise_malformed(f"Invalid alias, must match {ALIAS_STRING}", expression)
            value = _Expression(self.ex, frame).compile(source)
            frame = self.ex.with_column(frame, destination, value)
        return frame

    def order(self, frame, order_q):
        if not order_q:
            return frame
        assert_list("order_by", order_q)
        if not all(isinstance(c, str) for c in order_q):
            raise_malformed("Invalid order by format", order_q)
        columns = set(self.ex.columns(frame))
        keys = []
        for e in order_q:
            name = e[1:] if e.startswith("-") else e
            if name not in columns:
                raise_malformed("Order by column not in table", [name])
            keys.append((name, not e.startswith("-")))
        return self.ex.order(frame, keys)


class _Predicate:
    """Compiles one `where` tree over one frame. `columns` are the
    frame's columns before any membership join; `membership` maps each
    nested `in`-subquery node to its predicate."""

    def __init__(self, walk: _Walk, frame, columns, membership: dict):
        self.ex = walk.ex
        self.enum_columns = walk.enum_columns
        self.frame = frame
        self.columns = set(columns)
        self.membership = membership

    def compile(self, q):
        if not isinstance(q, list):
            return self.leaf(q)
        if not q:
            raise_malformed("Empty expression not allowed", q)
        op = q[0]
        if _named(op, BIT_TESTS):
            return self.bits(q)
        if op == "!":
            assert_len(q, 2, "! is a single arity operator, invalid number of arguments")
            return ~self.operand(q[1], q)
        if op == "isnull":
            assert_len(q, 2, "isnull is a single arity operator, invalid number of arguments")
            return self.ex.isnull(self.frame, self.column(q[1]))
        if _named(op, COMPARISONS):
            return self.comparison(q)
        if op in ("&", "|"):
            if len(q) < 2:
                raise_malformed("Invalid number of arguments", q)
            parts = [self.operand(sub, q) for sub in q[1:]]
            return functools.reduce(operator.and_ if op == "&" else operator.or_, parts)
        if op == "in":
            return self.isin(q)
        if _named(op, LIKES):
            return self.like(q)
        if op == "contains":
            return self.contains(q)
        raise_malformed("Unknown operator", q)

    def column(self, name) -> str:
        _check_column(name, self.columns)
        return name

    def leaf(self, q):
        if isinstance(q, str):
            if is_quoted(q):
                return self.ex.literal(unquote(q))
            return self.ex.column(self.frame, self.column(q))
        return self.ex.literal(q)

    def operand(self, q, node):
        """An operand of `!`, `&` or `|`: a predicate node, a boolean
        literal or a boolean column (null reads as False)."""
        if isinstance(q, list):
            return self.compile(q)
        if isinstance(q, bool):
            return self.ex.literal(q)
        if isinstance(q, str) and not is_quoted(q):
            name = self.column(q)
            if self.ex.kind(self.frame, name) == "boolean":
                return self.ex.compare(self.frame, "==", name, self.ex.literal(True))
        raise_malformed("Invalid operand, must be a predicate", node)

    def comparison(self, q):
        assert_len(q, 3)
        op, name, arg = q
        name = self.column(name)
        if op in ORDERED_COMPARISONS and name in self.enum_columns:
            raise_malformed(f"Invalid operation {op} for enum column", q)
        if self.family(name) == "number" and _as_number(arg) is not None:
            arg = _as_number(arg)
        if isinstance(arg, list):
            right = "boolean"  # a predicate
        elif isinstance(arg, str) and not is_quoted(arg):
            right = self.family(self.column(arg))
        else:
            right = _literal_family(arg)
        _check_comparable(self.family(name), right, q)
        return self.ex.compare(self.frame, op, name, self.compile(arg))

    def family(self, name: str) -> str | None:
        return _FAMILIES.get(self.ex.kind(self.frame, name))

    def bits(self, q):
        assert_len(q, 3)
        op, name, arg = q
        if not isinstance(arg, int) or isinstance(arg, bool):
            raise_malformed("Invalid argument type, must be an integer", q)
        if self.ex.kind(self.frame, self.column(name)) != "integral":
            raise_malformed("Invalid column type, must be an integer", q)
        return self.ex.bits(self.frame, op, name, arg)

    def isin(self, q):
        assert_len(q, 3)
        _, name, values = q
        if isinstance(values, dict):
            return self.membership[id(q)]
        if not isinstance(values, (list, tuple)):
            raise_malformed("Second argument must be a list", q)
        # values are used verbatim: no quote-stripping, no column refs
        return self.ex.isin(self.frame, self.column(name), list(values))

    def _string_column(self, q, what: str, kind_error: str):
        assert_len(q, 3)
        _, name, raw = q
        if not isinstance(raw, str) or not is_quoted(raw):
            raise_malformed(f"{what} expects a quoted string as second argument", q)
        if self.ex.kind(self.frame, self.column(name)) != "string":
            raise_malformed(kind_error, q)
        return name, unquote(raw)

    def like(self, q):
        name, pattern = self._string_column(q, "like", "Invalid column type for (i)like")
        regex = like_regex(q[0], pattern)
        try:
            groups = re.compile(regex).groupindex
        except re.error as e:
            raise_malformed(f"Invalid (i)like pattern: {e}", q)
        for group in groups:
            if not JAVA_GROUP_NAME.fullmatch(group):
                raise_malformed(
                    f"Invalid (i)like pattern: group name {group!r} must be "
                    "a letter then letters or digits", q)
        if "{," in _ESCAPE_OR_CLASS.sub("", regex):
            raise_malformed("Invalid (i)like pattern: a repetition needs its lower bound, "
                            "as in {0,3}; write \\{ for a brace", q)
        return self.ex.rlike(self.frame, name, regex)

    def contains(self, q):
        """Literal substring containment (the reference's aspirational
        `contains`, test_qframe.py:92-95); not a regex."""
        name, needle = self._string_column(q, "contains", "Invalid column type for contains")
        return self.ex.contains(self.frame, name, needle)


class _Expression:
    """Compiles one alias expression over one frame."""

    def __init__(self, ex: Executor, frame):
        self.ex = ex
        self.frame = frame
        self.columns = set(ex.columns(frame))

    def compile(self, expr):
        return self.typed(expr)[0]

    def typed(self, expr):
        """(value, family) of an expression; the family is None where
        the kind is unknown."""
        ex = self.ex
        if not isinstance(expr, list):
            if not isinstance(expr, str):
                return ex.literal(expr), _literal_family(expr)
            if is_quoted(expr):
                return ex.literal(unquote(expr)), "string"
            if expr not in self.columns:
                # reference: UndefinedVariableError → MalformedQueryException
                raise_malformed(f"name '{expr}' is not defined", expr)
            return ex.column(self.frame, expr), _FAMILIES.get(ex.kind(self.frame, expr))
        if len(expr) == 3:
            op, a, b = expr
            if _named(op, SHIFTS):
                # the bit count is a literal (Spark's shiftleft/shiftright)
                if not isinstance(b, int) or isinstance(b, bool):
                    raise_malformed("Shift amount must be an integer literal", expr)
                return ex.binary(op, self.number(a, expr), b), "number"
            if not _named(op, BINARY_OPERATORS):
                raise_malformed("Unknown function in alias", expr)
            if op in COMPARISONS:
                (left, lf), (right, rf) = self.typed(a), self.typed(b)
                if lf == "number" and _as_number(b) is not None:
                    right, rf = self.typed(_as_number(b))
                elif rf == "number" and _as_number(a) is not None:
                    left, lf = self.typed(_as_number(a))
                _check_comparable(lf, rf, expr)
                return ex.binary(op, left, right), "boolean"
            return ex.binary(op, self.number(a, expr), self.number(b, expr)), "number"
        if len(expr) == 2:
            op, a = expr
            if not _named(op, UNARY_FUNCTIONS):
                raise_malformed("Unknown function in alias", expr)
            if op in STRING_FUNCTIONS:
                value = self.compile(a)
                return ex.unary(op, value), "number" if op == "length" else "string"
            return ex.unary(op, self.number(a, expr)), "number"
        raise_malformed("Invalid number of arguments", expr)

    def number(self, expr, node):
        """An operand that must be numeric (or of an unknown kind); a
        quoted literal that spells a number reads as it."""
        if _as_number(expr) is not None:
            expr = _as_number(expr)
        value, family = self.typed(expr)
        if family not in (None, "number"):
            raise_malformed(f"Invalid operand type for {node[0]}, must be numeric", node)
        return value


def _check_comparable(left, right, node) -> None:
    if left and right and left != right:
        raise_malformed(f"Cannot compare {left} with {right}", node)


def _check_column(name, columns) -> None:
    if not isinstance(name, str) or name not in columns:
        raise_malformed("Unknown column", name)


def _missing(names, columns) -> list:
    return [c for c in names if c not in columns]


def _subquery_nodes(q, out: list) -> list:
    """Depth-first `in`-subquery nodes inside a boolean tree; a
    subquery's own dict is not walked (it runs as its own query)."""
    if is_subquery_in(q):
        out.append(q)
    elif isinstance(q, list):
        for sub in q[1:]:
            _subquery_nodes(sub, out)
    return out


def _structured_group_by(spec: dict):
    """`{"rollup": [cols]}` / `{"cube": [cols]}` /
    `{"grouping_sets": [[cols], ...]}`: the grouping-sets family, a
    strict extension of the reference grammar. Returns
    ((mode, sets or None), flat key list)."""
    if len(spec) != 1:
        raise_malformed(
            "group_by dict must have exactly one of rollup/cube/grouping_sets", spec
        )
    ((mode, cols),) = spec.items()
    if mode not in GROUPING_MODES:
        raise_malformed(f"Unknown grouping mode '{mode}'", spec)
    if mode == "grouping_sets":
        if (
            not isinstance(cols, list)
            or not cols
            or not all(
                isinstance(s, list) and all(isinstance(c, str) for c in s)
                for s in cols
            )
        ):
            raise_malformed(
                "grouping_sets expects a non-empty list of column lists", spec
            )
        # the output keys: union of the sets in first-appearance order
        flat = list(dict.fromkeys(c for s in cols for c in s))
        if not flat:
            raise_malformed("grouping_sets needs at least one column", spec)
        return (mode, cols), flat
    if not isinstance(cols, list) or not cols or not all(
        isinstance(c, str) for c in cols
    ):
        raise_malformed(f"{mode} expects a non-empty list of column names", spec)
    return (mode, None), cols


def _classify(project_q):
    """Split a select list into [(fn, column)] aggregates and alias
    assignments."""
    aggregates = []
    aliases = []
    for expression in project_q:
        if is_aggregate_function(expression):
            aggregates.append(tuple(expression))
        elif is_alias_assignment(expression):
            aliases.append(expression)
        elif not isinstance(expression, str):
            raise_malformed("Invalid expression in select", expression)
    return aggregates, aliases


def _check_unique_outputs(project_q) -> None:
    """An aggregate keeps its column's name and cannot be aliased, so
    two entries of one name (two aggregates over a column, or one
    beside the column itself) would give two output columns that no
    client can tell apart."""
    names = [e if isinstance(e, str) else e[1] for e in project_q]
    for i, name in enumerate(names):
        if name in names[:i]:
            raise_malformed("Duplicate output column", name)


def _check_aggregates(entries, columns, project_q) -> None:
    for fn, _ in entries:
        if not _named(fn, AGGREGATE_FUNCTIONS):
            raise_malformed(f"Unknown aggregation function '{fn}'", project_q)
    for _, col in entries:
        if col not in columns:
            raise_malformed("Selected columns not in table", [col])


def _slice_bound(name: str, value) -> int:
    """offset skips rows and limit takes a head (SURVEY §2.6): a
    non-negative integer, 0 or absent meaning none. Checked before the
    falsy test so that 0.0 is malformed like in the reference
    (qcache/qframe/common.py:12-14)."""
    if value is None:
        return 0
    assert_integer(name, value)
    if value < 0:
        raise_malformed(f"Invalid value for {name}, must not be negative", value)
    return value
