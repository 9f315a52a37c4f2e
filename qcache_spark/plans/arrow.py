"""The driver executor: qcache queries and literal updates run with
pyarrow.compute on a driver-resident Arrow table, in place.

Why this exists: the reference engine's design point is SMALL hot
tables (7-70 ms latencies on 1 k-400 k rows, BASELINE.md), while a
distributed Spark job has a ~100-250 ms floor per multi-stage query
regardless of data size. A table under the size gate
(fastpath.MAX_FASTPATH_BYTES) is kept as an Arrow table, and this
module answers it with no Spark job and no conversion per query: a
column is read where it lies, and a dictionary-encoded column
(fastpath._decide) is compared, matched and sorted once per distinct
value. `Reader` is the query grammar's (grammar.py) executor, so it
rejects the same queries with the same messages as the Catalyst one;
update.py's Arrow executor shares the literal, compare and mask
primitives below.

Spark's semantics, kept value for value:
- NaN equals itself and sorts and compares above every number; null
  is apart from NaN. A math function outside its real domain gives
  NaN (`log*`: null), like Catalyst.
- In a `where`, a comparison or match with null is False (`!=`:
  True); in an alias expression it is null.
- Sorts put nulls first ascending and last descending; `round` is
  HALF_UP; integer arithmetic that overflows, and the casts ANSI mode
  refuses (a NaN msum), are left to Catalyst.

Strictly best-effort: `Unsupported` (or any Arrow error) makes the
router (fastpath.execute) take the Catalyst plan, so a gap here can
only make a query slower, never wrong.
"""
from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import grammar


class Unsupported(Exception):
    """A construct the driver executor does not run; the caller takes
    the Spark plan."""


@dataclass
class LocalResult:
    sliced: pa.Table
    unsliced_len: int


# -- primitives shared with the update executor -----------------------

_INT64 = (-(1 << 63), 1 << 63)
_INT32 = (-(1 << 31), 1 << 31)


def value_type(typ: pa.DataType) -> pa.DataType:
    """A dictionary type's value type; any other type itself."""
    return typ.value_type if pa.types.is_dictionary(typ) else typ


def plain(column):
    """The column with a dictionary decoded."""
    typ = column.type
    return column.cast(typ.value_type) if pa.types.is_dictionary(typ) else column


def per_value(column, fn):
    """`fn` over a column; over a dictionary column it runs once per
    distinct value and is taken by the indices."""
    if not pa.types.is_dictionary(column.type):
        return fn(column)
    chunks = column.chunks or [pa.array([], column.type)]
    return pa.chunked_array([fn(c.dictionary).take(c.indices) for c in chunks])


def literal(value, typ: pa.DataType, assign: bool = False) -> pa.Scalar:
    """`value` as a scalar of a column's kind: a string for a string
    column, a bool for a bool one, a finite number in range for a
    numeric one; an assigned number keeps an integer column integral.
    Raises Unsupported for anything else, e.g. null, a column
    reference or a kind Spark would cast."""
    typ = value_type(typ)
    if isinstance(value, str):
        if pa.types.is_string(typ):
            return pa.scalar(value, pa.string())
    elif isinstance(value, (bool, np.bool_)):
        if pa.types.is_boolean(typ):
            return pa.scalar(bool(value))
    elif isinstance(value, int):
        if pa.types.is_integer(typ) and _INT64[0] <= value < _INT64[1]:
            return pa.scalar(value, typ if assign else pa.int64())
        if pa.types.is_floating(typ) and _INT64[0] <= value < _INT64[1]:
            return pa.scalar(float(value), typ)
    elif isinstance(value, float) and np.isfinite(value):
        if pa.types.is_floating(typ) or (pa.types.is_integer(typ) and not assign):
            return pa.scalar(value, pa.float64())
    raise Unsupported(f"literal {value!r} for a {typ} column")


_COMPARE = {
    "==": pc.equal, "!=": pc.not_equal, "<": pc.less,
    "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal,
}


def _nans(value):
    """The NaN mask of a float value, or None when it holds no NaN."""
    if not pa.types.is_floating(value.type):
        return None
    nan = pc.is_nan(value)
    return nan if (nan if isinstance(nan, pa.Scalar) else pc.any(nan)).as_py() else None


def compare(op: str, left, right):
    """`left op right` as Spark computes it: null where a side is null,
    NaN equal to itself and above every number. Arrow compares NaN
    False both ways, so the NaN cases are patched in from the masks.
    A dictionary column against a scalar compares each distinct value
    once."""
    if isinstance(right, pa.Scalar) and pa.types.is_dictionary(left.type):
        return per_value(left, lambda values: compare(op, values, right))
    result = _COMPARE[op](left, right)
    nan_l, nan_r = _nans(left), _nans(right)
    if nan_l is None and nan_r is None:
        return result
    nan_l, nan_r = (pa.scalar(False) if n is None else n for n in (nan_l, nan_r))
    if op in ("==", "!="):
        both = pc.and_(nan_l, nan_r)
        return pc.or_(result, both) if op == "==" else pc.and_(result, pc.invert(both))
    low, high = (nan_l, nan_r) if op[0] == "<" else (nan_r, nan_l)
    result = pc.or_(result, high)  # anything below NaN
    return result if op.endswith("=") else pc.and_(result, pc.invert(low))


def predicate(result, fill: bool) -> np.ndarray:
    """A boolean Arrow result as a two-valued numpy mask, null read as
    `fill`."""
    return np.asarray(pc.fill_null(result, fill), dtype=bool)


def isin(column, values: list) -> np.ndarray:
    """The rows whose value is one of the literals `values`; a null
    cell matches nothing. A null in `values` is left to Spark, whose
    `IN` is then null, not False."""
    typed = [literal(v, column.type) for v in values]
    if not typed:
        return np.zeros(len(column), dtype=bool)
    value_set = pa.array([s.as_py() for s in typed], value_type(column.type))
    return predicate(pc.is_in(column, value_set=value_set), False)


# -- values of alias expressions ----------------------------------------


def _value(x):
    """An expression operand as an Arrow value. A literal types like
    Spark's `lit`: an integer is an int when it fits 32 bits."""
    if isinstance(x, (pa.ChunkedArray, pa.Array, pa.Scalar)):
        return x
    if isinstance(x, (bool, np.bool_)):
        return pa.scalar(bool(x))
    if isinstance(x, int) and _INT64[0] <= x < _INT64[1]:
        return pa.scalar(x, pa.int32() if _INT32[0] <= x < _INT32[1] else pa.int64())
    if isinstance(x, (float, str)):
        return pa.scalar(x)
    raise Unsupported(f"literal {x!r}")


def _numeric(*values) -> None:
    for v in values:
        if not (pa.types.is_integer(v.type) or pa.types.is_floating(v.type)):
            raise Unsupported(f"arithmetic on {v.type}")


def _double(value):
    return value.cast(pa.float64())


def _via_numpy(fn, *args):
    """`fn` over numpy copies of Arrow values, null where an input is
    null: for the functions pyarrow.compute lacks."""
    arrays = [a for a in args if not isinstance(a, pa.Scalar)]
    n = len(arrays[0]) if arrays else 1
    nulls = np.zeros(n, dtype=bool)
    values = []
    for a in args:
        if isinstance(a, pa.Scalar):
            nulls |= not a.is_valid
            values.append(np.asarray(a.as_py() or 0, dtype=a.type.to_pandas_dtype()))
        else:
            nulls |= np.asarray(pc.is_null(a), dtype=bool)
            values.append(np.asarray(pc.fill_null(a, 0)))
    with np.errstate(all="ignore"):
        out = pa.array(np.broadcast_to(fn(*values), n), mask=nulls)
    return out if arrays else out[0]


def _null_where(condition, value):
    typ = value.type
    return pc.if_else(condition, pa.scalar(None, typ), value)


def _java_long(x: np.ndarray) -> np.ndarray:
    """Java's double-to-long, which Spark's floor/ceil use: NaN is 0,
    and a value beyond the long range clamps to its end."""
    big, small = x >= 2.0 ** 63, x < -(2.0 ** 63)
    inside = np.where(np.isnan(x) | big | small, 0, x).astype(np.int64)
    return np.where(big, _INT64[1] - 1, np.where(small, _INT64[0], inside))


_NUMPY_UNARY = {
    "sinh": np.sinh, "cosh": np.cosh, "tanh": np.tanh,
    "arcsinh": np.arcsinh, "arccosh": np.arccosh, "arctanh": np.arctanh,
    "expm1": np.expm1,
}
_ARROW_UNARY = {
    "sin": pc.sin, "cos": pc.cos, "tan": pc.tan, "arcsin": pc.asin,
    "arccos": pc.acos, "arctan": pc.atan, "exp": pc.exp, "sqrt": pc.sqrt,
}
_LOGS = {"log": (pc.ln, 0.0), "log10": (pc.log10, 0.0), "log1p": (pc.log1p, -1.0)}
_ARITHMETIC = {"+": pc.add_checked, "-": pc.subtract_checked, "*": pc.multiply_checked}
_BITWISE = {"&": pc.bit_wise_and, "|": pc.bit_wise_or, "^": pc.bit_wise_xor}


def _unary(op, a):
    if op in grammar.STRING_FUNCTIONS:
        if isinstance(a, pa.Scalar) or not pa.types.is_string(a.type):
            raise Unsupported(f"{op} of {a.type}")
        if op == "length":
            return pc.utf8_length(a)
        if op == "trim":
            return pc.utf8_trim(a, " ")  # Spark trims spaces only
        if not pc.all(pc.string_is_ascii(a)).as_py():
            raise Unsupported("case mapping beyond ASCII")  # Java maps ß to SS
        return pc.utf8_upper(a) if op == "upper" else pc.utf8_lower(a)
    _numeric(a)
    if op == "-":
        return pc.negate_checked(a)
    if op == "abs":
        return pc.abs_checked(a)
    if op in ("floor", "ceil"):
        if pa.types.is_integer(a.type):
            return a.cast(pa.int64())
        return _via_numpy(_java_long, (pc.floor if op == "floor" else pc.ceil)(a))
    if op == "sign":
        return pc.sign(_double(a))
    if op in _LOGS:
        fn, bound = _LOGS[op]
        x = _double(a)
        return _null_where(pc.less_equal(x, bound), fn(x))  # Spark: null
    if op in _ARROW_UNARY:
        return _ARROW_UNARY[op](_double(a))
    return _via_numpy(_NUMPY_UNARY[op], _double(a))


def _binary(op, a, b):
    if op in grammar.COMPARISONS:
        return compare(op, a, b)
    _numeric(a, b)
    if op in _ARITHMETIC:
        return _ARITHMETIC[op](a, b)
    if op in ("/", "//"):
        # try_divide: a double, null for a zero divisor
        r = _null_where(pc.equal(b, 0), pc.divide(_double(a), _double(b)))
        return r if op == "/" else _via_numpy(_java_long, pc.floor(r))
    if op == "**":
        # Java's pow is NaN for a NaN exponent and for ±1 ** ±inf, C's is 1
        x, y = _double(a), _double(b)
        nan = pc.or_(pc.is_nan(y), pc.and_(pc.equal(pc.abs(x), 1.0), pc.is_inf(y)))
        return pc.if_else(nan, float("nan"), pc.power(x, y))
    if not (pa.types.is_integer(a.type) and pa.types.is_integer(b.type)) and op != "%":
        raise Unsupported(f"{op} of {a.type} and {b.type}")
    if op in _BITWISE:
        return _BITWISE[op](a, b)
    if op == "%":
        # try_mod: Java's % (the dividend's sign), null for a zero divisor
        return _null_where(pc.equal(b, 0), _via_numpy(np.fmod, a, b))
    # Java masks the shift count to the operand's width
    n = b.as_py() & (a.type.bit_width - 1)
    shift = np.left_shift if op == "<<" else np.right_shift
    return _via_numpy(lambda x: shift(x, n), a)


# -- aggregates ---------------------------------------------------------

_NUMERIC_AGGREGATES = {
    "sum", "mean", "avg", "median", "std", "var", "prod", "product",
    "msum", "mavg", "dsum", "davg",
}
_ARROW_AGGREGATES = {
    "sum": "sum", "count": "count", "min": "min", "max": "max", "mean": "mean",
    "avg": "mean", "prod": "product", "product": "product",
    "nunique": "count_distinct", "count_distinct": "count_distinct",
}
# computed here from each group's values in row order
_SEQUENTIAL = {"median", "std", "var"}
# One numpy step of Welford's update across groups costs about as much
# as this many rows of the float loop (measured on a 4-CPU x86 host)
_ROWS_PER_NUMPY_STEP = 100
_SCALES = {"msum": 1e4, "mavg": 1e4, "dsum": 1e6, "davg": 1e6}


def _key(column):
    """A grouping key as Spark normalizes it: -0.0 is 0.0."""
    if pa.types.is_floating(column.type):
        return pc.if_else(pc.equal(column, 0.0), pa.scalar(0.0, column.type), column)
    return column


def half_up(values):
    """Spark's HALF_UP round to a whole number: a tie goes away from
    zero (-2.5 is -3), and a value just below a tie stays below
    (0.49999999999999994 is 0, where floor(x + 0.5) gives 1)."""
    return pc.round(values, 0, "half_towards_infinity")


def _fits_long(values, rows: int) -> bool:
    """Whether an integral sum of `rows` values cannot overflow a long."""
    top = pc.max(pc.abs(values)).as_py() or 0
    return top * max(rows, 1) < _INT64[1]


def _aggregate(t: pa.Table, keys: list, entries: list) -> pa.Table:
    """One grouped aggregation pass: keys first, then each entry under
    its column's name. Spark's null rules hold: an all-null group
    gives null (count: 0)."""
    n = t.num_rows
    # a global aggregate groups by a constant: Arrow's scalar kernels
    # have no `list`, and their float sum is pairwise, not sequential
    columns = {f"k{i}": _key(t.column(k)) for i, k in enumerate(keys)} or {"all": np.zeros(n, np.int8)}
    by = list(columns)
    specs = []
    for i, (fn, name) in enumerate(entries):
        v = t.column(name) if fn == "count" else plain(t.column(name))
        typ = v.type
        if fn in _NUMERIC_AGGREGATES and not (pa.types.is_integer(typ) or pa.types.is_floating(typ)):
            raise Unsupported(f"{fn} of {typ}")
        col = f"v{i}"
        if fn in _SCALES:
            # the HALF_UP-rounded fixed-point values summed as longs. A
            # NaN or infinity fails msum's cast to long under ANSI mode
            # and is null after dsum's cast to decimal; count(c) keeps it.
            scaled = half_up(pc.multiply(_double(v), _SCALES[fn]))
            infinite = pc.invert(pc.is_finite(scaled))
            if fn in ("dsum", "davg"):
                scaled = _null_where(infinite, scaled)
            elif pc.any(infinite).as_py():
                raise Unsupported(f"{fn} of a NaN or infinity")
            if not _fits_long(scaled, n):
                raise Unsupported(f"{fn} out of the long range")
            columns[col] = scaled.cast(pa.int64())
            columns[f"n{i}"] = v
            specs += [(col, "sum"), (f"n{i}", "count")]
            continue
        if fn in _SEQUENTIAL:
            columns[col] = _double(v)
            if "row" not in columns:
                columns["row"] = pa.array(np.arange(n))
                specs.append(("row", "list"))
            continue
        if fn not in _ARROW_AGGREGATES:
            raise Unsupported(f"aggregate {fn}")
        if fn == "sum" and pa.types.is_integer(typ) and not _fits_long(v, n):
            raise Unsupported("sum may overflow a long")
        if fn in ("prod", "product"):
            v = _double(v)
        elif fn in ("nunique", "count_distinct"):
            v = _key(v)
        columns[col] = v
        specs.append((col, _ARROW_AGGREGATES[fn]))
        nan = _nans(v) if fn in ("min", "max") else None
        if nan is not None:
            # Arrow skips NaN; Spark ranks it above every number
            columns[f"nan{i}"] = nan.cast(pa.int64())
            specs += [(f"nan{i}", "sum"), (col, "count")]
    work = pa.table(columns)
    # one thread: each group's values are met in row order, as Spark
    # meets them in one partition
    out = work.group_by(by, use_threads=False).aggregate(specs)
    results = [out.column(f"k{i}") for i in range(len(keys))]
    for i, (fn, _) in enumerate(entries):
        col = f"v{i}"
        if fn in _SCALES:
            result = pc.divide(out.column(f"{col}_sum").cast(pa.float64()), _SCALES[fn])
            if fn in ("mavg", "davg"):
                count = out.column(f"n{i}_count")
                result = _null_where(pc.equal(count, 0), pc.divide(result, count.cast(pa.float64())))
        elif fn in _SEQUENTIAL:
            groups = _Groups(out.column("row_list"), work.column(col))
            result = groups.median() if fn == "median" else groups.variance(fn == "std")
        else:
            result = out.column(f"{col}_{_ARROW_AGGREGATES[fn]}")
            if f"nan{i}_sum" in out.column_names:
                nans = out.column(f"nan{i}_sum")
                hit = pc.greater(nans, 0)
                if fn == "min":
                    hit = pc.and_(hit, pc.equal(nans, out.column(f"{col}_count")))
                result = pc.if_else(hit, float("nan"), result)
        results.append(result)
    return pa.table(results, names=list(keys) + [name for _, name in entries])


class _Groups:
    """Each group's non-null values, in row order, from the group's
    row numbers (`rows`, a list per group)."""

    def __init__(self, rows, values):
        rows = rows.combine_chunks()
        lengths = pc.list_value_length(rows).to_numpy(zero_copy_only=False)
        group = np.repeat(np.arange(len(lengths)), lengths)
        order = rows.flatten().to_numpy()
        valid = np.asarray(pc.is_valid(values), dtype=bool)[order]
        self.group = group[valid]
        self.values = np.asarray(pc.fill_null(values, 0.0))[order][valid]
        self.counts = np.bincount(self.group, minlength=len(lengths))
        self.starts = np.cumsum(self.counts) - self.counts

    def median(self) -> pa.Array:
        """Spark's exact median (percentile 0.5): the mean of the two
        middle values, NaN ranked above every number."""
        v = self.values[np.lexsort((self.values, self.group))]
        last = max(len(v) - 1, 0)
        lo = np.minimum(self.starts + (self.counts - 1) // 2, last)
        hi = np.minimum(self.starts + self.counts // 2, last)
        middle = 0.5 * v[lo] + 0.5 * v[hi] if len(v) else np.zeros(len(self.counts))
        return pa.array(middle, mask=self.counts == 0)

    def variance(self, root: bool) -> pa.Array:
        """Spark's var_samp (stddev_samp with `root`): Welford's update
        over the values in row order, as one partition computes it, so
        the last bits agree too; null below two values. The update runs
        once per row position across groups (numpy) or once per row (a
        float loop), whichever takes fewer steps."""
        with np.errstate(all="ignore"):
            if self.counts.max(initial=0) * _ROWS_PER_NUMPY_STEP < len(self.values):
                m2 = self._m2_across_groups()
            else:
                m2 = np.array([_welford_m2(self.values[s:s + c].tolist())
                               for s, c in zip(self.starts, self.counts)])
            result = m2 / (self.counts - 1)
        return pa.array(np.sqrt(result) if root else result, mask=self.counts < 2)

    def _m2_across_groups(self) -> np.ndarray:
        by_size = np.argsort(-self.counts, kind="stable")
        sizes = self.counts[by_size]
        starts = self.starts[by_size]
        avg, m2 = np.zeros((2, len(sizes)))
        for k in range(sizes[0]):
            live = np.searchsorted(-sizes, -k, side="left")  # groups with > k values
            delta = self.values[starts[:live] + k] - avg[:live]
            delta_n = delta / (k + 1)
            avg[:live] += delta_n
            m2[:live] += delta * (delta - delta_n)
        return m2[np.argsort(by_size)]


def _welford_m2(values: list) -> float:
    """Spark's CentralMomentAgg update over one group's values in
    Python floats, IEEE doubles as the JVM's: the squared deviations."""
    n = avg = m2 = 0.0
    for x in values:
        n += 1.0
        delta = x - avg
        delta_n = delta / n
        avg += delta_n
        m2 += delta * (delta - delta_n)
    return m2


# -- the grammar's executor --------------------------------------------


_KINDS = (
    (pa.types.is_integer, "integral"),
    (pa.types.is_floating, "fractional"),
    (pa.types.is_string, "string"),
    (pa.types.is_boolean, "boolean"),
)


# Where RE2 (match_substring_regex) and Java's regex (Catalyst's rlike)
# part ways, checked on Spark 4.1 and pyarrow 16.1. By pattern alone:
# `\101` is octal in RE2 but a backreference in Java, and `\0` is NUL in
# RE2 but an error; a `[` or `&&` inside a class nests or intersects in
# Java only. (`{,n}`, literal in RE2 and an error in Java, is a 400:
# grammar.py rejects it.)
_JAVA_SYNTAX = re.compile(r"\\[0-9]|\[(?:\\.|[^]\\])*?(?:\[|&&)")
# By value: Java's `$` also matches before a final line break, its `.`
# stops at \r, \x85, \u2028 and \u2029 too, and its `\s`/`\v` take \x0b
# and \f otherwise than RE2's.
_LINE_BREAKS = "[\n\x0b\x0c\r\x85\u2028\u2029]"
# Java's `(?i)` folds ASCII only and its `\b` is Unicode-aware; RE2's
# are the other way round. Both agree on ASCII values and patterns.
_UNICODE_SENSITIVE = re.compile(r"\(\?[a-zA-Z]*i|\\[bB]")


class Reader:
    """grammar.Executor over pa.Table. Predicates are numpy bool arrays
    (np.bool_ for a literal); expression values are Arrow values."""

    def columns(self, t):
        return t.column_names

    def kind(self, t, name):
        typ = value_type(t.schema.field(name).type)
        return next((kind for test, kind in _KINDS if test(typ)), None)

    def column(self, t, name):
        return plain(t.column(name))

    def literal(self, value):
        # np.bool_ so that `~` is a boolean not (~True is -2)
        return np.bool_(value) if isinstance(value, bool) else value

    def compare(self, t, op, name, right):
        column = t.column(name)
        if right is None:
            return np.full(t.num_rows, op == "!=")
        if isinstance(right, np.ndarray):
            right = pa.array(right)
        if isinstance(right, (pa.Array, pa.ChunkedArray)):
            column = plain(column)
        else:
            right = literal(right, column.type)
        return predicate(compare(op, column, right), op == "!=")

    def isnull(self, t, name):
        return predicate(pc.is_null(t.column(name)), True)

    def isin(self, t, name, values):
        return isin(t.column(name), values)

    def rlike(self, t, name, regex):
        unicode = _UNICODE_SENSITIVE.search(regex)
        if _JAVA_SYNTAX.search(regex) or unicode and not regex.isascii():
            raise Unsupported(f"{regex!r} reads otherwise in Java's regex")

        def match(values):
            if (pc.any(pc.match_substring_regex(values, _LINE_BREAKS)).as_py()
                    or unicode and pc.all(pc.string_is_ascii(values)).as_py() is False):
                raise Unsupported(f"{regex!r} reads these values otherwise in Java's regex")
            return pc.match_substring_regex(values, regex)

        return self._match(t, name, match)

    def contains(self, t, name, needle):
        return self._match(t, name, lambda v: pc.match_substring(v, needle))

    @staticmethod
    def _match(t, name, fn):
        try:
            return predicate(per_value(t.column(name), fn), False)
        except pa.ArrowInvalid as exc:  # e.g. a backreference, which RE2 lacks
            raise Unsupported(str(exc))

    def bits(self, t, op, name, mask):
        def test(values):
            masked = pc.bit_wise_and(values, mask)
            return pc.greater(masked, 0) if op == "any_bits" else pc.equal(masked, mask)

        return predicate(per_value(t.column(name), test), False)

    def _member(self, t, name, sub):
        """The rows whose value the subquery result holds (Spark's
        equi-join: null matches nothing)."""
        column = _key(plain(t.column(name)))
        values = pc.drop_null(_key(plain(sub.column(name)))).cast(column.type)
        return predicate(pc.is_in(column, value_set=values.combine_chunks()), False)

    def semi_join(self, t, name, sub, anti):
        hit = self._member(t, name, sub)
        return self.filter(t, ~hit if anti else hit)

    def membership(self, t, name, sub):
        return t, self._member(t, name, sub)

    def filter(self, t, mask):
        if isinstance(mask, np.ndarray):
            return t.filter(pa.array(mask))
        return t if mask else t.slice(0, 0)

    def distinct(self, t, columns):
        # the first row of each key, in table order
        keys = columns or t.column_names
        work = pa.table([_key(t.column(k)) for k in keys] + [pa.array(np.arange(t.num_rows))],
                        names=[f"k{i}" for i in range(len(keys))] + ["row"])
        first = work.group_by(work.column_names[:-1]).aggregate([("row", "min")])
        return t.take(np.sort(first.column("row_min").to_numpy()))

    def count(self, t):
        return pa.table({"count": pa.array([t.num_rows], pa.int64())})

    def aggregate(self, t, keys, entries, grouping, where):
        if grouping is not None:
            raise Unsupported("structured group_by (rollup/cube/grouping_sets)")
        if where is not None:
            t = self.filter(t, where)
        if not keys and not t.num_rows:
            # typed nulls of a zero-row global aggregate: Catalyst's
            raise Unsupported("global aggregate over zero rows")
        return _aggregate(t, keys, entries)

    def unary(self, op, value):
        return _unary(op, _value(value))

    def binary(self, op, left, right):
        return _binary(op, _value(left), _value(right))

    def with_column(self, t, name, value):
        value = _value(value)
        if isinstance(value, pa.Scalar):
            value = pa.repeat(value, t.num_rows)
        if name in t.column_names:
            return t.set_column(t.column_names.index(name), name, value)
        return t.append_column(name, value)

    def select(self, t, columns):
        return t if columns is None else t.select(columns)

    def order(self, t, keys):
        # Arrow places nulls once for all keys and NaN after numbers
        # either way, so each key gets a null and a NaN rank before it
        arrays, sort_keys = [], []
        for name, asc in keys:
            column = t.column(name)
            direction = "ascending" if asc else "descending"
            ranks = [pc.is_valid(column)] if column.null_count else []
            nan = _nans(column)
            if nan is not None:
                ranks.append(pc.fill_null(nan, False))
            if pa.types.is_dictionary(column.type):
                column = per_value(column, pc.rank)
            for values in ranks + [column]:
                sort_keys.append((str(len(arrays)), direction))
                arrays.append(values)
        table = pa.table(arrays, names=[k for k, _ in sort_keys])
        return t.take(pc.sort_indices(table, sort_keys=sort_keys))

    def slice(self, t, offset, limit):
        return t.slice(offset, limit or None)


READER = Reader()


def execute_local(q: dict, table: pa.Table, enum_columns: frozenset = frozenset()) -> LocalResult:
    """Run a qcache query dict on an Arrow table. Raises
    MalformedQueryException for an invalid query and Unsupported for
    one the Catalyst plan must answer."""
    try:
        sliced, unsliced = grammar.run(q, table, READER, None, enum_columns)
    except (pa.ArrowException, TypeError, OverflowError) as exc:
        raise Unsupported(str(exc)) from exc
    return LocalResult(sliced=sliced, unsliced_len=unsliced.num_rows)
