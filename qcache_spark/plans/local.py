"""Driver-local executor for the qcache query grammar.

Why this exists: the reference engine's design point is SMALL hot
tables (7-70 ms latencies on 1 k-400 k rows, BASELINE.md), while a
distributed Spark job has a ~100-250 ms floor per multi-stage query
(scheduling + shuffle stages + AQE re-planning) regardless of data
size. This module executes the SAME query dict against an in-memory
pandas mirror — the reference's own operating regime — while the
Catalyst path (plans/compiler.py) remains the only path above the
size threshold. Both run the one grammar walker (grammar.py), so they
reject the same queries with the same messages; a differential pytest
suite pins their values together, and the DuckDB oracle gate runs over
whichever backend serves the query.

The fast path is strictly best-effort: `Unsupported` (or any
non-Malformed error) makes the router fall back to the Spark plan, so
a local-executor gap can never produce a wrong answer — only a slower
one.
"""
from __future__ import annotations

import operator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import grammar


class Unsupported(Exception):
    """Query uses a construct the local executor does not implement;
    the router must fall back to the Spark plan."""


@dataclass
class LocalResult:
    sliced: pd.DataFrame
    unsliced_len: int


# --------------------------------------------------------------- helpers


def _is_stringy(dtype) -> bool:
    return dtype == object or pd.api.types.is_string_dtype(dtype)


def _half_up(values) -> np.ndarray:
    """Round-half-up of a double to an integer, exactly matching
    Spark's round() (BigDecimal.valueOf(v).setScale(0, HALF_UP) on the
    shortest decimal repr). HALF_UP ties go AWAY FROM ZERO — so the
    tie case must be sign-aware: round(-2.5) is -3, not -2.
    `r = v - floor(v)` is EXACT in IEEE (low-order bits of v), and
    every X.5 is itself a representable double, so `r >= 0.5` /
    `r == 0.5` decide the same side of the tie boundary as the decimal
    comparison: a shortest repr always lies strictly on v's side of
    any other representable value. (The naive floor(v + 0.5) is NOT
    exact — v + 0.5 can round across the boundary, e.g.
    v = 0.49999999999999994.) Non-tie rounding is sign-symmetric
    (floor + (r >= 0.5) is nearest-int for any sign); only the exact
    r == 0.5 tie needs the away-from-zero correction.

    Raw-numpy on purpose: this sits on the fastpath's per-query hot
    path over full columns, and pandas' Series arithmetic dispatch
    made it the single largest line item of a 600 k-row aggregate
    (VERDICT r4 latency drift). Accepts a Series or ndarray; returns
    an ndarray positionally aligned with the input."""
    v = np.asarray(values, dtype="float64")
    f = np.floor(v)
    r = v - f
    out = f + (r >= 0.5)
    neg_tie = (r == 0.5) & (v < 0)
    if neg_tie.any():
        out = np.where(neg_tie, f, out)
    return out


# ------------------------------------------------------------ aggregates


_LOCAL_AGGS = {
    "sum", "count", "min", "max", "mean", "avg", "median", "std", "var",
    "prod", "product", "nunique", "count_distinct", "msum", "mavg",
    "dsum", "davg",
}


def _agg_frames(pdf, group_by, entries, agg_mask=None):
    """Aggregate with only vectorized builtin groupby kernels, all in
    ONE grouped.agg() pass (one hash-grouping of the keys) — no
    per-group Python lambdas, so this stays O(n) even with 100 k
    groups. All-null groups produce null (not pandas' sum()=0),
    matching Spark aggregate semantics; the null-tracking count temp
    is skipped when the column has no nulls at all."""
    temps: dict[str, pd.Series] = {}
    agg_map: dict[str, str] = {}  # temp name -> builtin reduction
    plans = []  # (out_name, [temp_names...], post or None)
    ones: list[str] = []  # shared row-count temp, created lazily

    def _count_temp(s, nullable):
        if nullable:
            t = f"__c_{s.name}"
            if t not in temps:
                temps[t] = s.notna().astype("int64")
                agg_map[t] = "sum"
            return t
        if not ones:
            temps["__ones"] = pd.Series(
                np.ones(len(pdf), dtype="int64"), index=pdf.index
            )
            agg_map["__ones"] = "sum"
            ones.append("__ones")
        return "__ones"

    for i, (fn, col) in enumerate(entries):
        if fn not in _LOCAL_AGGS:
            raise Unsupported(f"aggregate {fn}")
        s = pdf[col]
        t = f"__t{i}"
        nullable = bool(s.hasnans)

        if fn in ("sum", "prod", "product"):
            builtin = "sum" if fn == "sum" else "prod"
            temps[t] = s
            agg_map[t] = builtin
            if nullable:
                c = _count_temp(s, True)
                plans.append((col, [t, c], lambda v, c_: v.where(c_ > 0)))
            else:
                plans.append((col, [t], None))
        elif fn == "count":
            plans.append((col, [_count_temp(s, nullable)], None))
        elif fn in ("min", "max", "median", "mean", "avg", "std", "var",
                    "nunique", "count_distinct"):
            builtin = {
                "nunique": "nunique", "count_distinct": "nunique", "avg": "mean",
            }.get(fn, fn)
            temps[t] = s
            agg_map[t] = builtin
            plans.append((col, [t], None))
        elif fn in ("msum", "mavg", "dsum", "davg"):
            if not pd.api.types.is_numeric_dtype(s):
                raise Unsupported(f"{fn} on non-numeric")
            scale = 10000.0 if fn in ("msum", "mavg") else 1000000.0
            temps[t] = pd.Series(
                _half_up(s.to_numpy(dtype="float64", copy=False) * scale),
                index=pdf.index,
            )
            agg_map[t] = "sum"
            if fn in ("msum", "dsum") and not nullable:
                plans.append((col, [t], lambda v, sc=scale: v / sc))
            elif fn in ("msum", "dsum"):
                c = _count_temp(s, True)
                plans.append((col, [t, c], lambda v, c_, sc=scale: (v / sc).where(c_ > 0)))
            else:  # mavg / davg need the count regardless
                c = _count_temp(s, nullable)
                plans.append((col, [t, c],
                              lambda v, c_, sc=scale: ((v / sc) / c_).where(c_ > 0)))
        else:  # pragma: no cover
            raise Unsupported(f"aggregate {fn}")

    tmp = pd.DataFrame(temps)
    if group_by:
        # Factorized integer-code grouping: hashing int64 codes is
        # several times faster than hashing the raw (often string) key
        # columns; use_na_sentinel=False keeps null keys as their own
        # group (Spark groupBy semantics / dropna=False).
        code_parts = []
        uniques_list = []
        fcode_uniques = pdf.attrs.get("fcode_uniques", {})
        for g in group_by:
            companion = f"__fcode_{g}"
            if companion in pdf.columns and g in fcode_uniques:
                # pre-factorized at mirror load (fastpath._load_mirror)
                codes, uniques = pdf[companion].to_numpy(), fcode_uniques[g]
            else:
                codes, uniques = pd.factorize(pdf[g], use_na_sentinel=False)
            code_parts.append(codes.astype("int64"))
            uniques_list.append(uniques)
        combined = code_parts[0]
        for codes, uniques in zip(code_parts[1:], uniques_list[1:]):
            combined = combined * len(uniques) + codes
        if agg_mask is not None:
            # fused filter: excluded rows collapse into group -1,
            # dropped after reduction
            combined = np.where(agg_mask, combined, -1)
        grouped = tmp.groupby(combined, sort=False)
        reduced = grouped.agg(agg_map)
        if agg_mask is not None:
            reduced = reduced[reduced.index != -1]
        # decode combined codes back into the key columns
        key_codes = reduced.index.to_numpy()
        out = pd.DataFrame(index=reduced.index)
        decode = key_codes
        for g, uniques in zip(reversed(group_by), reversed(uniques_list)):
            out[g] = uniques.take(decode % len(uniques))
            decode = decode // len(uniques)
        out = out[list(group_by)]
        for out_name, tnames, post in plans:
            vals = [reduced[t] for t in tnames]
            out[out_name] = post(*vals) if post else vals[0]
        return out.reset_index(drop=True)
    # global aggregate → one row
    row = {}
    if len(tmp) == 0:
        # Spark yields null (typed) for aggregates over zero rows;
        # a None in a pandas int64/float64 column cannot round-trip
        # that faithfully — let the Spark plan serve this rare case.
        raise Unsupported("global aggregate over zero rows")
    for out_name, tnames, post in plans:
        vals = [pd.Series([getattr(tmp[t], agg_map[t])()]) for t in tnames]
        row[out_name] = (post(*vals) if post else vals[0]).iloc[0]
    return pd.DataFrame([row])


# --------------------------------------------------------------- executor


_UNARY = {
    "sin": np.sin, "cos": np.cos, "tan": np.tan,
    "arcsin": np.arcsin, "arccos": np.arccos, "arctan": np.arctan,
    "sinh": np.sinh, "cosh": np.cosh, "tanh": np.tanh,
    "arcsinh": np.arcsinh, "arccosh": np.arccosh, "arctanh": np.arctanh,
    "exp": np.exp, "expm1": np.expm1, "abs": np.abs,
}
_BINARY = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "&": operator.and_, "|": operator.or_, "^": operator.xor,
    "<<": operator.lshift, ">>": operator.rshift,
    **grammar.COMPARISONS,
}


def _fcodes(pdf, col_name):
    """(codes, uniques) when the mirror pre-factorized this column
    (fastpath._load_mirror); (None, None) otherwise. Comparing the
    int64 codes instead of 100k+ python strings is the difference
    between ~0.3 ms and ~10 ms per string predicate."""
    uniques = pdf.attrs.get("fcode_uniques", {}).get(col_name)
    companion = f"__fcode_{col_name}"
    if uniques is None or companion not in pdf.columns:
        return None, None
    return pdf[companion], np.asarray(uniques, dtype=object)


def _try_divide(a, b):
    # try_divide: null (NaN) on zero divisor instead of inf/raise
    r = np.true_divide(a, b)
    zero = b == 0
    if np.isscalar(r):
        return float("nan") if zero else r
    r = pd.Series(r) if not isinstance(r, pd.Series) else r
    if np.isscalar(zero):
        return r.mask(pd.Series(zero, index=r.index)) if zero else r
    return r.mask(zero)


def _try_mod(a, b):
    # Spark %/try_mod follows the dividend's sign (Java %), unlike
    # Python's % — np.fmod matches; fmod(x, 0) is NaN.
    r = np.fmod(a, b)
    zero = b == 0
    if np.isscalar(r):
        return float("nan") if zero else r
    r = pd.Series(r) if not isinstance(r, pd.Series) else r
    if not np.isscalar(zero):
        r = r.mask(zero)
    elif zero:
        r = r.mask(pd.Series(True, index=r.index))
    return r


def _guard_domain(a, bad_mask, what: str):
    """Decline to Spark when inputs sit outside the function's
    real domain: numpy yields NaN there, but the pandas→Spark
    conversion cannot distinguish NaN from null (NaN becomes null
    on the wire) while the Catalyst plan returns a true NaN —
    the one case the two backends' values cannot be reconciled
    (found by the hypothesis differential fuzz)."""
    if np.isscalar(a):
        if bad_mask:
            raise Unsupported(f"{what} outside real domain")
    elif bool(np.nansum(bad_mask)):
        raise Unsupported(f"{what} outside real domain")


class _Pandas:
    """grammar.Executor over pandas frames and Series. Two-valued null
    semantics come for free on pandas. Columns named `__fcode_<col>`
    are the mirror's pre-factorized codes (fastpath._load_mirror):
    predicates, grouping and distinct use them when present, and a
    select-all hides them."""

    def columns(self, pdf):
        return list(pdf.columns)

    def kind(self, pdf, name):
        dtype = pdf[name].dtype
        if pd.api.types.is_bool_dtype(dtype):
            return "boolean"
        if pd.api.types.is_integer_dtype(dtype):
            return "integral"
        if pd.api.types.is_float_dtype(dtype):
            return "fractional"
        if _is_stringy(dtype):
            return "string"
        return None

    def column(self, pdf, name):
        return pdf[name]

    def literal(self, value):
        # np.bool_ so that `~` is a boolean not (~True is -2)
        return np.bool_(value) if isinstance(value, bool) else value

    def compare(self, pdf, op, name, right):
        if op in ("==", "!=") and isinstance(right, str):
            codes, uniques = _fcodes(pdf, name)
            if codes is not None:
                hit = np.flatnonzero(uniques == right)
                code = hit[0] if len(hit) else -1
                # null keys carry their own code (use_na_sentinel=False),
                # never equal to a constant's: two-valued null semantics
                # (null == 'x' -> False, null != 'x' -> True) fall out.
                return (codes == code) if op == "==" else (codes != code)
        try:
            result = grammar.COMPARISONS[op](pdf[name], right)
        except TypeError as exc:  # e.g. str col vs number — Spark path decides
            raise Unsupported(str(exc))
        # pandas object-dtype ==/!= against None already yields
        # False/True (two-valued); numeric NaN likewise.
        return result.fillna(op == "!=") if result.dtype == object else result

    def isnull(self, pdf, name):
        return pdf[name].isna()

    def isin(self, pdf, name, values):
        col = pdf[name]
        return col.isin(values) if values else pd.Series(False, index=col.index)

    def rlike(self, pdf, name, regex):
        codes, uniques = _fcodes(pdf, name)
        if codes is not None:
            # evaluate the pattern once per distinct value, then map
            # through the int codes (na=False: a null value never
            # matches, and NaN sits in uniques as its own code)
            m = pd.Series(uniques).str.contains(regex, regex=True, na=False)
            return pd.Series(
                np.isin(codes.to_numpy(), np.flatnonzero(m.to_numpy())),
                index=pdf.index,
            )
        return pdf[name].str.contains(regex, regex=True, na=False)

    def contains(self, pdf, name, needle):
        return pdf[name].str.contains(needle, regex=False, na=False)

    def bits(self, pdf, op, name, mask):
        masked = pdf[name] & mask
        return (masked > 0) if op == "any_bits" else (masked == mask)

    def semi_join(self, pdf, name, sub, anti):
        hit = pdf[name].isin(sub[name].dropna())
        return pdf[~hit] if anti else pdf[hit]

    def membership(self, pdf, name, sub):
        return pdf, pdf[name].isin(sub[name].dropna())

    def filter(self, pdf, mask):
        if np.isscalar(mask):
            return pdf if mask else pdf.iloc[0:0]
        return pdf[mask.astype(bool)]

    def distinct(self, pdf, columns):
        # Dedup on the pre-factorized int64 codes when every subset
        # column has one: pandas re-factorizes object columns inside
        # duplicated() (~30 ms on 600 k rows), the codes skip that.
        companions = [f"__fcode_{c}" for c in columns]
        if columns and all(f in pdf.columns for f in companions):
            return pdf.loc[~pdf.duplicated(subset=companions)]
        return pdf.drop_duplicates(subset=columns or None)

    def count(self, pdf):
        return pd.DataFrame({"count": [len(pdf)]})

    def aggregate(self, pdf, keys, entries, grouping, where):
        if grouping is not None:
            # rollup / cube / grouping_sets: the Catalyst plan serves them
            raise Unsupported("structured group_by (rollup/cube/grouping_sets)")
        mask = None
        if where is not None and np.isscalar(where):
            pdf = self.filter(pdf, where)
        elif where is not None:
            # Fuse the filter into the aggregation: mask the group codes
            # instead of materializing a filtered copy of the frame (the
            # copy is the dominant cost when the predicate keeps most rows).
            mask = where.astype(bool).to_numpy()
        return _agg_frames(pdf, keys, entries, mask)

    def unary(self, op, a):
        with np.errstate(all="ignore"):
            if op in _UNARY:
                if op in ("arcsin", "arccos"):
                    _guard_domain(a, np.abs(a) > 1, op)
                elif op == "arccosh":
                    _guard_domain(a, np.asarray(a) < 1, op)
                elif op == "arctanh":
                    _guard_domain(a, np.abs(a) >= 1, op)
                return _UNARY[op](a)
            if op == "-":
                return -a
            if op == "sqrt":
                _guard_domain(a, np.asarray(a) < 0, op)
                return np.sqrt(np.asarray(a, dtype="float64")) if np.isscalar(a) else np.sqrt(a.astype("float64"))
            if op in ("log", "log10", "log1p"):
                # Spark returns null outside the domain; numpy returns
                # -inf at the boundary — mask to NaN to match.
                fn = {"log": np.log, "log10": np.log10, "log1p": np.log1p}[op]
                bound = -1 if op == "log1p" else 0
                r = fn(a)
                if np.isscalar(r):
                    return float("nan") if a <= bound else r
                return pd.Series(r, index=a.index).mask(a <= bound)
            if op in ("floor", "ceil"):
                fn = np.floor if op == "floor" else np.ceil
                r = fn(a)
                # Spark floor/ceil return LONG
                if not np.isscalar(r) and not pd.Series(r).isna().any():
                    return pd.Series(r, index=a.index).astype("int64")
                return r
            if op == "sign":
                r = np.sign(a)
                return pd.Series(r, index=a.index).astype("float64") if not np.isscalar(r) else float(r)
            # upper / lower / trim / length
            if np.isscalar(a):
                raise Unsupported("string fn on scalar")
            if not _is_stringy(a.dtype):
                raise Unsupported(f"{op} on non-string column")
            if op == "upper":
                return a.str.upper()
            if op == "lower":
                return a.str.lower()
            if op == "trim":
                return a.str.strip()
            r = a.str.len()
            # Spark length() is INT
            return r.astype("int32") if not r.isna().any() else r

    def binary(self, op, a, b):
        with np.errstate(all="ignore"):
            if op == "/":
                return _try_divide(a, b)
            if op == "//":
                r = np.floor(_try_divide(a, b))
                # Spark floor() yields LONG
                if isinstance(r, pd.Series) and not r.isna().any():
                    return r.astype("int64")
                return r
            if op == "%":
                return _try_mod(a, b)
            if op == "**":
                # Spark pow always yields double
                frac_exp = np.asarray(b) != np.floor(np.asarray(b))
                _guard_domain(a, np.asarray(np.asarray(a) < 0) & np.asarray(frac_exp), "pow")
                r = np.power(a, b)
                return pd.Series(r, dtype="float64") if hasattr(r, "__len__") else float(r)
            try:
                return _BINARY[op](a, b)
            except TypeError as exc:
                raise Unsupported(str(exc))

    def with_column(self, pdf, name, value):
        out = pdf.copy(deep=False)
        if not isinstance(value, pd.Series):
            value = pd.Series([value] * len(out), index=out.index)
        out[name] = value
        return out

    def select(self, pdf, columns):
        if columns is None:
            return pdf[[c for c in pdf.columns if not c.startswith("__fcode_")]]
        return pdf[columns]

    def order(self, pdf, keys):
        # Spark sorts nulls as SMALLEST (asc → first, desc → last); pandas
        # has one na_position per call, so do a stable multi-pass sort from
        # the least-significant key.
        for name, asc in reversed(keys):
            pdf = pdf.sort_values(
                name,
                ascending=asc,
                kind="mergesort",
                na_position="first" if asc else "last",
            )
        return pdf

    def slice(self, pdf, offset, limit):
        if offset:
            pdf = pdf.iloc[offset:]
        if limit:
            pdf = pdf.iloc[:limit]
        return pdf


_PANDAS = _Pandas()


def execute_local(
    q: dict,
    pdf: pd.DataFrame,
    root_pdf: pd.DataFrame | None = None,
    enum_columns: frozenset = frozenset(),
) -> LocalResult:
    """Execute a qcache query dict on a pandas frame."""
    sliced, unsliced = grammar.run(q, pdf, _PANDAS, root_pdf, enum_columns)
    return LocalResult(sliced=sliced, unsliced_len=len(unsliced))
