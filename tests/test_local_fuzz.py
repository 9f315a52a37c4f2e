"""Property-based differential gate for the driver executor:
random full query dicts (filters, aliases, aggregation, distinct,
order/slice) run through BOTH plans/arrow.py and the Catalyst
compiler over the same Arrow table, the executor once on its plain
form and once with every string and int64 column dictionary-encoded,
as a resident table may store them; any value divergence fails. This
is the fastpath's wrong-answer insurance beyond the hand-written
battery in test_local_parity.py — null and NaN semantics, dtype edges,
and clause interactions get explored instead of enumerated."""
from __future__ import annotations

import math
import os
import sys

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcache_spark import compile_query
from qcache_spark.errors import MalformedQueryException
from qcache_spark.plans.arrow import Unsupported, execute_local

ROWS = [
    {"rid": 0, "i": 1, "f": 1.5, "s": "abc", "b": True},
    {"rid": 1, "i": 2, "f": None, "s": "ABC", "b": False},
    {"rid": 2, "i": 3, "f": -0.5, "s": None, "b": True},
    {"rid": 3, "i": 4, "f": 2.5, "s": "xyz", "b": False},
    {"rid": 4, "i": 0, "f": 0.0, "s": "", "b": False},
    {"rid": 5, "i": 7, "f": 1.5, "s": "abcd", "b": True},
    {"rid": 6, "i": 2, "f": None, "s": "abc", "b": True},
    {"rid": 7, "i": 7, "f": 4.0, "s": None, "b": False},
    # negative money-scale tie: -2.00005 * 10000 is EXACTLY -20000.5,
    # exercising msum/dsum's away-from-zero rounding on negatives
    {"rid": 8, "i": -3, "f": -2.00005, "s": "neg", "b": True},
    # NaN beside the nulls: equal to itself, above every number
    {"rid": 9, "i": 4, "f": float("nan"), "s": "xyz", "b": False},
]
SCHEMA = pa.schema([("rid", pa.int64()), ("i", pa.int64()), ("f", pa.float64()),
                    ("s", pa.string()), ("b", pa.bool_())])
TABLE = pa.Table.from_pylist(ROWS, SCHEMA)
ENCODED = pa.table([c.dictionary_encode() if f.type in (pa.string(), pa.int64()) else c
                    for f, c in zip(SCHEMA, TABLE.columns)], names=SCHEMA.names)

CMP = ["==", "!=", "<", "<=", ">", ">="]


def _filter_tree():
    int_cmp = st.tuples(st.sampled_from(CMP), st.just("i"), st.sampled_from([0, 2, 7]))
    float_cmp = st.tuples(st.sampled_from(CMP), st.just("f"), st.sampled_from([0.0, 1.5]))
    str_cmp = st.tuples(
        st.sampled_from(["==", "!="]), st.just("s"),
        st.sampled_from(["'abc'", "''", "'zz'"]),
    )
    col_cmp = st.tuples(st.sampled_from(CMP), st.just("i"), st.just("f"))
    in_list = st.tuples(st.just("in"), st.just("i"),
                        st.sampled_from([[0, 2], [7], []]))
    like = st.tuples(st.just("like"), st.just("s"), st.sampled_from(["'%b%'", "'a%'"]))
    isnull = st.tuples(st.just("isnull"), st.sampled_from(["f", "s"]))
    leaf = st.one_of(int_cmp, float_cmp, str_cmp, col_cmp, in_list, like, isnull).map(list)

    def extend(children):
        # operands of !/&/| also draw boolean literals and bare columns:
        # the boolean column "b" is a predicate, the others are not
        operand = st.one_of(
            children, children, st.booleans(), st.sampled_from(["b", "i", "s"])
        )
        return st.one_of(
            st.tuples(st.sampled_from(["&", "|"]), operand, operand).map(list),
            st.tuples(st.just("!"), operand).map(list),
        )

    return st.recursive(leaf, extend, max_leaves=4)


def _alias_expr():
    num = st.sampled_from(["i", "f", 2, 0.5])
    binary = st.tuples(st.sampled_from(["+", "-", "*", "/", "%", "//"]), num, num).map(list)
    unary = st.tuples(st.sampled_from(["abs", "sqrt", "floor", "exp"]), st.sampled_from(["i", "f"])).map(list)
    return st.one_of(binary, unary)


def _query():
    plain = st.fixed_dictionaries(
        {},
        optional={
            "where": _filter_tree(),
            "select": st.sampled_from(
                [["rid", "i", "f", "s"], ["rid", "s", "i"], ["rid", "f"]]
            ),
            "order_by": st.just(["rid"]),
            "offset": st.sampled_from([0, 2, -1]),
            "limit": st.sampled_from([3, 100, -2]),
        },
    )
    aliased = st.builds(
        lambda w, e: {"where": w, "select": [["=", "x", e], "rid"], "order_by": ["rid"]},
        _filter_tree(),
        _alias_expr(),
    )
    grouped = st.builds(
        lambda w, keys, fns: {
            "where": w,
            "group_by": keys,
            "select": keys + [[fn, c] for fn, c in fns if c not in keys],
            "order_by": keys,
        },
        _filter_tree(),
        # "s" has nulls: exercises null group keys; two keys exercise
        # the factorized radix code combine/decode
        st.sampled_from([["i"], ["s"], ["i", "s"]]),
        st.lists(
            st.sampled_from(
                [("sum", "f"), ("count", "f"), ("min", "f"), ("max", "rid"),
                 ("mean", "f"), ("nunique", "s"), ("sum", "rid"),
                 ("median", "f"), ("std", "f"), ("msum", "f"), ("dsum", "f")]
            ),
            min_size=1, max_size=3, unique_by=lambda e: e[1],
        ),
    )
    dist = st.builds(
        lambda w: {"where": w, "distinct": ["i", "s"], "select": ["i", "s"]},
        _filter_tree(),
    )
    # desc + nulls ordering under slicing (rid tiebreak keeps the
    # slice deterministic across backends)
    ordered = st.builds(
        lambda w, key, off, lim: {
            "where": w, "select": ["rid", "i", "f", "s"],
            "order_by": [key, "rid"], "offset": off, "limit": lim,
        },
        _filter_tree(),
        st.sampled_from(["-f", "f", "-s", "s", "-i"]),
        st.sampled_from([0, 1, 3]),
        st.sampled_from([2, 4, 100]),
    )
    # from-subquery: aggregate inner, filter/alias outer
    from_sub = st.builds(
        lambda w, outer_w: {
            "from": {"where": w, "group_by": ["i"],
                     "select": ["i", ["sum", "rid"], ["mean", "f"]]},
            "where": outer_w,
            "select": ["i", ["=", "y", ["+", "rid", "i"]]],
            "order_by": ["i"],
        },
        _filter_tree(),
        st.sampled_from([[">", "rid", 2], ["<=", "i", 3], ["!", ["isnull", "f"]]]),
    )
    # in-subquery against the root frame (and its negation)
    in_sub = st.builds(
        lambda sub_w, neg: {
            "where": (["!", ["in", "i", {"where": sub_w, "select": ["i"]}]]
                      if neg else ["in", "i", {"where": sub_w, "select": ["i"]}]),
            "select": ["rid", "i"],
            "order_by": ["rid"],
        },
        _filter_tree(),
        st.booleans(),
    )
    return st.one_of(plain, aliased, grouped, dist, ordered, from_sub, in_sub)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def _table_rows(table: pa.Table, cols):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in table.to_pylist())


@pytest.fixture(scope="module")
def frame(spark):
    sdf = spark.createDataFrame(TABLE).coalesce(1).cache()
    sdf.count()
    return sdf


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(q=_query())
def test_local_matches_catalyst(frame, q):
    catalyst_error = None
    try:
        result = compile_query(q, frame)
        spark_rows = result.sliced.collect()
    except Exception as exc:  # at plan build or at collect
        catalyst_error = exc
    for table in (TABLE, ENCODED):
        try:
            local = execute_local(q, table)
        except Unsupported:
            continue  # router would fall back — fine by contract
        except MalformedQueryException:
            # both backends must 400 identically
            assert isinstance(catalyst_error, MalformedQueryException), (q, catalyst_error)
            continue
        # a query Catalyst cannot run must not return rows locally
        assert catalyst_error is None, (q, catalyst_error)
        cols = result.sliced.columns
        assert local.sliced.column_names == cols, (q, local.sliced.column_names, cols)
        got = _table_rows(local.sliced, cols)
        want = sorted(tuple(_norm(r[c]) for c in cols) for r in spark_rows)
        assert got == want, (q, got, want)
        assert local.unsliced_len == result.unsliced_len(), q
