"""Differential gate: the driver executor (plans/arrow.py) must
produce IDENTICAL results — values and Spark schema — to the Catalyst
compiler for every grammar construct. This is what lets the fastpath
router serve small tables locally without a correctness risk."""
from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcache_spark import compile_query
from qcache_spark.errors import MalformedQueryException
from qcache_spark.fastpath import (
    _load_mirror,
    _to_spark,
    referenced_input_columns,
)
from qcache_spark.plans.arrow import execute_local
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
    # global: one group of every row; a float sum adds in row order
    ("lineitem", {"select": [["var", "l_extendedprice"], ["std", "l_quantity"], ["median", "l_tax"]]}),
    ("lineitem", {"select": [["sum", "l_extendedprice"], ["mean", "l_discount"]]}),
    # many small groups: Welford's update runs across groups
    ("lineitem", {"group_by": ["l_orderkey"], "select": ["l_orderkey", ["std", "l_extendedprice"],
        ["var", "l_tax"]]}),
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
    # min/max over strings with nulls skip the nulls; over only nulls
    # (the whole column, or one group) they are null
    ("strings", {"select": [["min", "name"]]}),
    ("strings", {"select": [["max", "name"], ["min", "none"]]}),
    ("strings", {"group_by": ["g"], "select": ["g", ["min", "name"], ["max", "none"]]}),
    ("strings", {"where": ["!=", "g", "'a'"], "group_by": ["g"], "select": ["g", ["max", "name"]]}),
    # a named group is Python's spelling; Catalyst gets Java's
    ("strings", {"where": ["like", "name", "'%(?P<n>o)%'"], "select": ["name"]}),
    # outside the real domain a math function is NaN, log* is null
    ("domain", {"select": ["k", ["=", "y", ["sqrt", "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["arcsin", "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["arccos", "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["arccosh", "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["arctanh", "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["**", "x", 0.5]], ["=", "z", ["**", 1, "x"]]]}),
    ("domain", {"select": ["k", ["=", "y", ["log1p", "x"]], ["=", "z", ["log10", "x"]]]}),
    # NaN equals itself and ranks above every number
    ("domain", {"where": ["|", [">", "x", 1.5], ["==", "x", "x"]], "select": ["k", "x"]}),
    ("domain", {"where": ["!", ["<=", "x", 0.5]], "select": ["k"]}),
    ("domain", {"select": ["k", "x", ["=", "c", ["<", "x", 2]]], "order_by": ["-x", "k"], "limit": 4}),
    ("domain", {"select": ["k", "x"], "order_by": ["x", "k"], "offset": 1, "limit": 3}),
    ("domain", {"group_by": ["g"], "select": ["g", ["max", "x"], ["median", "k"]]}),
    ("domain", {"group_by": ["g"], "select": ["g", ["median", "x"], ["count", "k"]]}),
    ("domain", {"group_by": ["g"], "select": ["g", ["min", "x"], ["std", "k"]]}),
]

# Battery tables written at test time: no sf table has a nullable
# string column or a NaN.
NAN = float("nan")
TEST_TABLES = {
    "domain": pa.table({
        "k": pa.array(range(9), pa.int64()),
        "g": ["a", "a", "a", "b", "b", "b", "c", "c", "d"],
        "x": pa.array([-2.0, -1.0, 0.0, 0.5, 1.0, 2.0, None, NAN, NAN], pa.float64()),
    }),
    "strings": pa.table({
        "g": pa.array(["a", "a", "b", "b", "c", "a"], pa.string()),
        "name": pa.array(["bob", None, None, "ann", None, "Zoe"], pa.string()),
        "none": pa.array([None] * 6, pa.string()),
    }),
}


@pytest.fixture(scope="module")
def table_dir(sf_dir, tmp_path_factory):
    """The directory that holds a battery table's parquet file."""
    d = tmp_path_factory.mktemp("battery")
    for name, table in TEST_TABLES.items():
        pq.write_table(table, str(d / f"{name}.parquet"))
    return lambda table: str(d) if table in TEST_TABLES else sf_dir


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
def test_local_matches_spark(spark, table_dir, idx):
    table, q = BATTERY[idx]
    sdf = compile_query(q, load_table(spark, table_dir(table), table)).sliced
    mirror = _load_mirror(os.path.join(table_dir(table), f"{table}.parquet"))
    cols = referenced_input_columns(q)
    if cols is not None and cols.issubset(mirror.column_names):
        mirror = mirror.select(sorted(cols))
    ldf = _to_spark(spark, execute_local(q, mirror).sliced)
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
        # two aggregates over one column: both outputs would be named
        # after it
        {"group_by": ["o_orderpriority"],
         "select": ["o_orderpriority", ["min", "o_totalprice"], ["max", "o_totalprice"]]},
        {"select": [["min", "o_totalprice"], ["max", "o_totalprice"]]},
    ],
)
def test_local_errors_match_spark(spark, sf_dir, bad):
    mirror = _load_mirror(os.path.join(sf_dir, "orders.parquet"))
    with pytest.raises(MalformedQueryException):
        compile_query(bad, load_table(spark, sf_dir, "orders")).sliced.collect()
    with pytest.raises(MalformedQueryException):
        execute_local(bad, mirror)


def test_empty_global_agg_declines(sf_dir):
    # zero-row global aggregates are typed nulls: the local executor
    # declines so the router falls back to the Spark plan (which the
    # oracle suite gates).
    from qcache_spark.plans.arrow import Unsupported

    mirror = _load_mirror(os.path.join(sf_dir, "lineitem.parquet"))
    with pytest.raises(Unsupported):
        execute_local(
            {"where": ["<", "l_quantity", -1], "select": [["sum", "l_quantity"]]},
            mirror,
        )


@pytest.mark.parametrize(
    "op, values, pattern",
    [
        # Java's `$` also matches before a final line break
        ("like", ["abc\n", "abc"], "abc"),
        ("like", ["abc\r\n"], "%c"),
        # Java's `.` stops at \r, its `\s` takes \x0b
        ("like", ["a\rc"], "a.c"),
        ("like", ["a\x0bc"], "a\\sc"),
        # Java's (?i) folds ASCII only, its \b is Unicode-aware
        ("ilike", ["É", "é"], "é"),
        ("ilike", ["\u212a"], "k"),
        ("like", ["é"], "%\\bé%"),
        # a class in a class, an intersection, octal, `{,n}`
        ("like", ["b"], "[[:alpha:]]"),
        ("like", ["b"], "[a-z&&[^b]]"),
        ("like", ["A"], "\\101"),
        ("like", ["aaa"], "a{,3}"),
    ],
)
def test_like_declines_where_java_reads_otherwise(op, values, pattern):
    """RE2 and Java's regex (the Catalyst rlike) answer these values
    or patterns differently, so the driver executor leaves them to
    Catalyst, plain and dictionary-encoded alike."""
    from qcache_spark.plans.arrow import Unsupported

    q = {"where": [op, "s", f"'{pattern}'"]}
    for s in (pa.array(values), pa.array(values).dictionary_encode()):
        with pytest.raises(Unsupported):
            execute_local(q, pa.table({"s": s}))
    # an ASCII (?i) or \b pattern on ASCII values is answered
    if (op == "ilike" or "\\b" in pattern) and pattern.isascii():
        execute_local(q, pa.table({"s": ["abc", "xyz"]}))


def test_half_up_negative_ties_match_spark(spark):
    """Spark round() is HALF_UP = ties away from zero: round(-2.5) is
    -3. The local executor must take the same side for NEGATIVE ties.
    The chosen literals scale to EXACT x.5 doubles (e.g. -2.00005 *
    10000 == -20000.5), so the tie branch is actually exercised
    end-to-end."""
    import pandas as pd

    from qcache_spark.plans.arrow import half_up

    ties = pa.array([-2.5, -0.5, 0.5, 2.5, -2.4, -2.6, 0.49999999999999994, -20000.5])
    assert half_up(ties).to_pylist() == [-3.0, -1.0, 1.0, 3.0, -2.0, -3.0, 0.0, -20001.0]

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
    ldf = _to_spark(spark, execute_local(q, pa.Table.from_pandas(pdf)).sliced)
    assert _rows(sdf) == _rows(ldf)


def test_welford_paths_agree_bitwise():
    """std/var run Welford's update either across groups (numpy) or
    row by row (a float loop); both give the same bits."""
    from qcache_spark.plans.arrow import _Groups, _welford_m2

    rng = np.random.default_rng(0)
    keys = rng.integers(0, 40, 5000)
    values = pa.array(np.round(rng.random(5000) * 1e7, 2), mask=rng.random(5000) < 0.05)
    rows = pa.table({"k": keys, "row": np.arange(5000)}).group_by("k", use_threads=False)
    groups = _Groups(rows.aggregate([("row", "list")]).column("row_list"), values)
    looped = [_welford_m2(groups.values[s:s + c].tolist()) for s, c in zip(groups.starts, groups.counts)]
    assert groups._m2_across_groups().tolist() == looped


def test_unsliced_len_matches(spark, sf_dir):
    q = {"select": ["o_orderkey"], "order_by": ["o_orderkey"], "offset": 5, "limit": 10}
    qr = compile_query(q, load_table(spark, sf_dir, "orders"))
    mirror = _load_mirror(os.path.join(sf_dir, "orders.parquet"))
    assert execute_local(q, mirror).unsliced_len == qr.unsliced_len()


def test_fcode_fast_paths_match_spark(spark, tmp_path):
    """The mirror reads a low-cardinality string column as a
    dictionary, whose predicates run once per distinct value: a
    20k-row one WITH nulls, compared query-for-query against the
    Catalyst path."""
    import pandas as pd

    n = 20000
    cats = ["alpha", "beta", "gamma", None]
    pdf = pd.DataFrame(
        {"k": range(n), "cat": [cats[i % 4] for i in range(n)]}
    )
    path = str(tmp_path / "cats.parquet")
    pdf.to_parquet(path)
    mirror = _load_mirror(path)
    assert pa.types.is_dictionary(mirror.schema.field("cat").type)  # precondition

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
            (tuple(_norm(v) for v in r.values()) for r in local.to_pylist()),
            key=repr,
        )
        c_rows = sorted(
            (tuple(_norm(r[c]) for c in local.column_names) for r in catalyst.collect()),
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
    for name in ("arrow.py", "filters.py", "expressions.py", "aggregates.py", "compiler.py"):
        for node in ast.walk(ast.parse(open(os.path.join(pkg, name)).read())):
            if isinstance(node, ast.Call):
                fn = node.func
                called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if called in checks:
                    offenders.append(f"{name}:{node.lineno}")
    assert not offenders, offenders


def test_driver_executor_reads_arrow_in_place():
    """The driver executor imports no pandas, and the router's read
    path (`execute`, `try_local` with its mirror and Spark frame,
    `result_rows`) converts nothing to pandas: a read runs on the
    Arrow table where it lies."""
    import ast

    import qcache_spark.fastpath as fastpath
    import qcache_spark.plans as plans

    executor = ast.parse(open(os.path.join(os.path.dirname(plans.__file__), "arrow.py")).read())
    imported = set()
    for node in ast.walk(executor):
        if isinstance(node, ast.Import):
            imported |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module.split(".")[0])
    assert "pandas" not in imported, imported

    read_path = {"execute", "try_local", "_load_mirror", "_to_spark", "result_rows"}
    router = ast.parse(open(fastpath.__file__).read())
    defined = {fn.name for fn in router.body if isinstance(fn, ast.FunctionDef)}
    assert read_path <= defined
    conversions = [
        f"{fn.name}:{node.lineno}"
        for fn in router.body if isinstance(fn, ast.FunctionDef) and fn.name in read_path
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "to_pandas"
    ]
    assert not conversions, conversions


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
