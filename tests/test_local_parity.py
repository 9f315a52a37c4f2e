"""Differential gate: the driver-local executor (plans/local.py) must
produce IDENTICAL results — values and Spark schema — to the Catalyst
compiler for every grammar construct. This is what lets the fastpath
router serve small tables locally without a correctness risk."""
from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcache_spark import compile_query
from qcache_spark.errors import MalformedQueryException
from qcache_spark.fastpath import (
    _load_mirror,
    _to_spark,
    referenced_input_columns,
)
from qcache_spark.plans.local import execute_local
from qcache_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

BATTERY = [
    ("lineitem", {"where": ["<=", "l_quantity", 49], "group_by": ["l_returnflag", "l_linestatus"],
        "select": ["l_returnflag", "l_linestatus", ["sum", "l_quantity"], ["msum", "l_extendedprice"],
                   ["mavg", "l_discount"], ["count", "l_orderkey"]],
        "order_by": ["l_returnflag", "l_linestatus"]}),
    ("lineitem", {"where": ["&", [">", "l_quantity", 45], ["<", "l_discount", 0.05]],
        "select": ["l_orderkey", "l_linenumber", "l_quantity", "l_discount"]}),
    ("customer", {"where": ["|", ["==", "c_mktsegment", "'BUILDING'"], ["!", [">=", "c_acctbal", 1000]]],
        "select": ["c_custkey", "c_mktsegment", "c_acctbal"]}),
    ("lineitem", {"distinct": ["l_returnflag", "l_linestatus"], "select": ["l_returnflag", "l_linestatus"]}),
    ("orders", {"select": ["o_orderkey", "o_totalprice"], "order_by": ["-o_totalprice", "o_orderkey"],
        "offset": 5, "limit": 10}),
    ("orders", {"from": {"group_by": ["o_custkey"],
        "select": ["o_custkey", ["msum", "o_totalprice"], ["count", "o_orderkey"]]},
        "where": [">", "o_totalprice", 1000000],
        "select": ["o_custkey", ["=", "avg_price", ["/", "o_totalprice", "o_orderkey"]]]}),
    ("orders", {"where": ["in", "o_custkey", {"where": [">", "o_totalprice", 400000], "select": ["o_custkey"]}],
        "select": ["o_orderkey", "o_custkey", "o_totalprice"], "order_by": ["o_orderkey"], "limit": 1000}),
    ("orders", {"where": ["!", ["in", "o_custkey", {"where": [">", "o_totalprice", 400000], "select": ["o_custkey"]}]],
        "select": ["o_orderkey"], "order_by": ["o_orderkey"], "limit": 7}),
    ("orders", {"where": ["==", "o_orderpriority", "'2-HIGH'"],
        "distinct": ["o_custkey", "o_orderstatus", "o_orderpriority"],
        "select": ["o_custkey", "o_orderstatus", "o_orderpriority"],
        "order_by": ["o_custkey", "o_orderstatus"], "limit": 50}),
    ("part", {"where": ["like", "p_name", "'%old%'"], "select": ["p_partkey", "p_name"]}),
    ("part", {"where": ["ilike", "p_name", "'%OLD%'"], "select": ["p_partkey", "p_name"]}),
    ("part", {"where": ["in", "p_size", [1, 5, 9]], "select": ["p_partkey", "p_size"]}),
    ("part", {"where": ["contains", "p_name", "'old'"], "select": ["p_partkey"]}),
    ("supplier", {"where": ["any_bits", "s_suppkey", 12], "select": ["s_suppkey"]}),
    ("supplier", {"where": ["all_bits", "s_suppkey", 12], "select": ["s_suppkey"]}),
    ("lineitem", {"select": [["count"]]}),
    ("lineitem", {"select": [["median", "l_quantity"], ["min", "l_extendedprice"]],
        "group_by": ["l_returnflag"]}),
    ("lineitem", {"select": [["sum", "l_quantity"], ["mean", "l_discount"], ["nunique", "l_orderkey"]]}),
    ("part", {"select": ["p_partkey", ["=", "x", ["*", ["+", "p_size", 3], 2]],
        ["=", "y", ["sqrt", "p_retailprice"]]], "limit": 20}),
    ("part", {"select": ["p_partkey", ["=", "r", ["/", "p_size", ["-", "p_size", "p_size"]]]], "limit": 5}),
    ("events", {"where": ["isnull", "props"], "select": ["event_id", "event_type"]}),
    ("events", {"where": ["!", ["isnull", "props"]], "select": ["event_id", "ts"], "order_by": ["event_id"], "limit": 100}),
    ("orders", {"where": ["in", "o_orderkey", []], "select": ["o_orderkey"]}),
    ("lineitem", {"select": [["std", "l_quantity"], ["var", "l_extendedprice"], ["prod", "l_discount"]],
        "group_by": ["l_linestatus"]}),
    ("nation", {"select": ["n_name", ["=", "u", ["upper", "n_name"]], ["=", "l", ["length", "n_name"]]]}),
    ("orders", {"select": ["o_orderkey", ["=", "m", ["%", "o_orderkey", 7]],
        ["=", "f", ["//", "o_totalprice", 1000]]], "limit": 30}),
    ("part", {"where": ["!=", "p_size", 5], "select": ["p_partkey"]}),
    ("lineitem", {"select": [["dsum", "l_extendedprice"], ["davg", "l_tax"]], "group_by": ["l_returnflag"]}),
    ("nation", {"select": ["n_nationkey", ["=", "neg", ["-", "n_nationkey"]],
        ["=", "lg", ["log", "n_nationkey"]]]}),
    # negating a boolean literal is a boolean (no rows), not ~True == -2
    ("orders", {"where": ["!", True], "select": ["o_orderkey"]}),
    # a global COUNT(*) under a group_by counts the filtered rows
    ("lineitem", {"where": [">", "l_quantity", 45], "group_by": ["l_returnflag"],
        "select": [["count"]]}),
    # a quoted literal that spells a number reads as that number where
    # a number is needed (Catalyst casts it)
    ("orders", {"where": [">", "o_totalprice", "'300000.5'"],
        "select": ["o_orderkey", "o_totalprice"]}),
    ("orders", {"where": ["==", "o_orderkey", "'7'"],
        "select": ["o_orderkey", ["=", "k", ["+", "o_orderkey", "'1'"]],
                   ["=", "c", ["<", "'2.5e5'", "o_totalprice"]]]}),
]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _rows(df):
    return sorted(
        [tuple(_norm(x) for x in r) for r in df.collect()], key=repr
    )


@pytest.mark.parametrize("idx", range(len(BATTERY)))
def test_local_matches_spark(spark, sf_dir, idx):
    table, q = BATTERY[idx]
    sdf = compile_query(q, load_table(spark, sf_dir, table)).sliced
    pdf = _load_mirror(os.path.join(sf_dir, f"{table}.parquet"))
    cols = referenced_input_columns(q)
    if cols is not None and cols.issubset(pdf.columns):
        pdf = pdf[sorted(cols)]
    ldf = _to_spark(spark, execute_local(q, pdf).sliced)
    assert [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in ldf.schema.fields
    ]
    assert _rows(sdf) == _rows(ldf)


@pytest.mark.parametrize(
    "bad",
    [
        {"where": ["nope", "o_orderkey", 3]},
        {"select": ["no_such_column"]},
        {"offset": 1.5},
        {"limit": 0.0},
        {"group_by": ["o_orderkey"]},
        {"group_by": ["o_orderkey"], "select": ["o_orderkey"]},
        {"group_by": ["o_orderkey"], "distinct": ["o_orderkey"],
         "select": ["o_orderkey", ["sum", "o_totalprice"]]},
        {"where": ["==", "unknown_col", 1]},
        {"where": ["like", "o_orderkey", "'x'"]},
        {"bogus_clause": 1},
        {"select": [["sum", "o_totalprice"], "o_orderkey"]},
        {"limit": -1},
        {"offset": -1},
        {"where": ["!", "o_orderkey"]},
        {"where": ["&", "o_orderkey", ["==", "o_orderkey", 1]]},
        {"where": [["==", "o_orderkey", 1]]},
        {"select": ["nope", 5]},
        # operands of mismatched kinds: Spark casts (and fails at run
        # time), pandas compares by identity
        {"where": ["==", "o_orderpriority", 5]},
        {"where": ["<", "o_orderkey", "'x'"]},
        {"where": [">", "o_totalprice", "'1000.5x'"]},
        {"where": ["==", "o_custkey", "o_orderpriority"]},
        {"where": ["==", "o_orderkey", ["<", "o_custkey", 3]]},
        {"select": [["=", "y", ["+", "o_orderpriority", 1]]]},
        {"select": [["=", "y", ["sqrt", "o_orderstatus"]]]},
        {"select": [["=", "y", ["==", "o_orderstatus", 1]]]},
        # a like pattern that is no regex
        {"where": ["like", "o_orderpriority", "'[a'"]},
        {"where": ["ilike", "o_orderpriority", "'%(%'"]},
    ],
)
def test_local_errors_match_spark(spark, sf_dir, bad):
    pdf = _load_mirror(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(MalformedQueryException):
        compile_query(bad, load_table(spark, sf_dir, "orders")).sliced.collect()
    with pytest.raises(MalformedQueryException):
        execute_local(bad, pdf)


def test_empty_global_agg_declines(sf_dir):
    # zero-row global aggregates cannot round-trip typed nulls through
    # pandas — the local executor must decline so the router falls
    # back to the Spark plan (which the oracle suite gates).
    from qcache_spark.plans.local import Unsupported

    pdf = _load_mirror(os.path.join(sf_dir, "lineitem.parquet"))
    with pytest.raises(Unsupported):
        execute_local(
            {"where": ["<", "l_quantity", -1], "select": [["sum", "l_quantity"]]},
            pdf,
        )


def test_half_up_negative_ties_match_spark(spark):
    """Spark round() is HALF_UP = ties away from zero: round(-2.5) is
    -3. The local mirror's _half_up must take the same side for
    NEGATIVE ties (it used to round toward +inf). The chosen literals
    scale to EXACT x.5 doubles (e.g. -2.00005 * 10000 == -20000.5),
    so the tie branch is actually exercised end-to-end."""
    import pandas as pd

    from qcache_spark.plans.local import _half_up

    ties = pd.Series([-2.5, -0.5, 0.5, 2.5, -2.4, -2.6, 0.49999999999999994])
    assert list(_half_up(ties)) == [-3.0, -1.0, 1.0, 3.0, -2.0, -3.0, 0.0]

    vals = [-2.00005, -0.00005, 2.00005, -3.00015, -7.62345, None]
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "b", "b", "b", "b"],
            "v1": vals, "v2": vals, "v3": vals, "v4": vals,
        }
    )
    q = {
        "group_by": ["g"],
        "select": ["g", ["msum", "v1"], ["mavg", "v2"], ["dsum", "v3"], ["davg", "v4"]],
        "order_by": ["g"],
    }
    sdf = compile_query(q, spark.createDataFrame(pdf)).sliced
    ldf = _to_spark(spark, execute_local(q, pdf).sliced)
    assert _rows(sdf) == _rows(ldf)


def test_unsliced_len_matches(spark, sf_dir):
    q = {"select": ["o_orderkey"], "order_by": ["o_orderkey"], "offset": 5, "limit": 10}
    qr = compile_query(q, load_table(spark, sf_dir, "orders"))
    pdf = _load_mirror(os.path.join(sf_dir, "orders.parquet"))
    assert execute_local(q, pdf).unsliced_len == qr.unsliced_len()


def test_fcode_fast_paths_match_spark(spark, tmp_path):
    """The factorize-code predicate/distinct fast paths (r5 latency
    work) only engage above 10k rows — larger than any sf0.001 table —
    so exercise them explicitly: a 20k-row low-cardinality string
    column WITH nulls, mirror-loaded (codes present), compared
    query-for-query against the Catalyst path."""
    import pandas as pd

    n = 20000
    cats = ["alpha", "beta", "gamma", None]
    pdf = pd.DataFrame(
        {"k": range(n), "cat": [cats[i % 4] for i in range(n)]}
    )
    path = str(tmp_path / "cats.parquet")
    pdf.to_parquet(path)
    mirror = _load_mirror(path)
    assert "__fcode_cat" in mirror.columns  # precondition: codes exist

    sdf = spark.read.parquet(path)
    queries = [
        {"where": ["==", "cat", "'alpha'"], "select": ["k", "cat"]},
        {"where": ["!=", "cat", "'alpha'"], "select": ["k"]},
        {"where": ["==", "cat", "'not-present'"], "select": ["k"]},
        {"where": ["!=", "cat", "'not-present'"], "select": ["k"]},
        {"where": ["!", ["==", "cat", "'beta'"]], "select": ["k"]},
        {"where": ["like", "cat", "'%eta'"], "select": ["k"]},
        {"where": ["ilike", "cat", "'AL%'"], "select": ["k"]},
        {"where": ["like", "cat", "'%a%'"], "select": ["k", "cat"]},
        {"distinct": ["cat"], "select": ["cat"]},
    ]
    for q in queries:
        local = execute_local(q, mirror).sliced
        catalyst = compile_query(q, sdf).sliced
        l_rows = sorted(
            (tuple(_norm(v) for v in t) for t in local.itertuples(index=False)),
            key=repr,
        )
        c_rows = sorted(
            (tuple(_norm(r[c]) for c in local.columns) for r in catalyst.collect()),
            key=repr,
        )
        assert l_rows == c_rows, q


def test_grammar_lives_only_in_grammar_module():
    """The query grammar's validation exists once: no executor module
    in plans/ raises a grammar error itself. update.py's restricted
    update grammar is separate and exempt."""
    import ast

    import qcache_spark.plans as plans

    checks = {"raise_malformed", "assert_len", "assert_list", "assert_integer",
              "MalformedQueryException"}
    pkg = os.path.dirname(plans.__file__)
    offenders = []
    for name in ("local.py", "filters.py", "expressions.py", "aggregates.py", "compiler.py"):
        for node in ast.walk(ast.parse(open(os.path.join(pkg, name)).read())):
            if isinstance(node, ast.Call):
                fn = node.func
                called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if called in checks:
                    offenders.append(f"{name}:{node.lineno}")
    assert not offenders, offenders


def test_catalyst_tables_cover_grammar_names():
    """Every operator, function and aggregate the grammar accepts has
    a Catalyst implementation, and no Catalyst table entry is
    unreachable."""
    from qcache_spark.plans import grammar
    from qcache_spark.plans.aggregates import AGGREGATE_FUNCTIONS
    from qcache_spark.plans.expressions import BINARY_OPERATORS, UNARY_FUNCTIONS

    assert set(AGGREGATE_FUNCTIONS) == grammar.AGGREGATE_FUNCTIONS
    assert set(UNARY_FUNCTIONS) == grammar.UNARY_FUNCTIONS
    assert set(BINARY_OPERATORS) == grammar.BINARY_OPERATORS


def test_in_list_values_are_not_column_references():
    """The values of an `in` list are literals: a string list must not
    defeat column pruning; an `in`-subquery still adds its columns."""
    assert referenced_input_columns(
        {"select": ["a"], "where": ["in", "a", ["x", "y"]]}
    ) == {"a"}
    assert referenced_input_columns(
        {"select": ["a"], "where": ["&", ["in", "b", ["a", "c", "d"]], ["==", "a", "e"]]}
    ) == {"a", "b", "e"}
    assert referenced_input_columns(
        {"select": ["a"], "where": ["in", "a", {"where": [">", "c", 1], "select": ["a"]}]}
    ) == {"a", "c"}
