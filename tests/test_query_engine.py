"""Port of the reference engine's correctness matrix
(/root/reference/test/test_qframe.py) onto the Spark compiler.

Row-order comparisons are order-insensitive unless the query has an
order_by (SURVEY.md §7: Spark gives no order guarantee without sort;
the reference's implicit pandas ordering is an implementation detail).
"""
from __future__ import annotations

import pytest

from qcache_spark import MalformedQueryException, compile_query, compile_update


def rows(df, column="foo"):
    return [r[column] for r in df.collect()]


def query_rows(frame, q, column="foo", **kw):
    return rows(compile_query(q, frame, **kw).sliced, column)


def assert_rows_unordered(frame, q, expected, column="foo", **kw):
    assert sorted(query_rows(frame, q, column, **kw), key=str) == sorted(
        expected, key=str
    )


def assert_rows_ordered(frame, q, expected, column="foo", **kw):
    assert query_rows(frame, q, column, **kw) == expected


# ---------------------------------------------------------------- filters

@pytest.mark.parametrize(
    "operation, column, value, expected",
    [
        ("<", "bar", 2, ["bbb"]),
        ("<=", "bar", 3.25, ["bbb", "aaa"]),
        (">", "baz", 6, ["aaa", "ccc"]),
        (">=", "baz", 5, ["bbb", "aaa", "ccc"]),
        ("==", "qux", "'qqq'", ["bbb", "aaa"]),
        ("!=", "qux", "'qqq'", ["ccc"]),
        ("==", "baz", 5, ["bbb"]),
    ],
)
def test_comparison_filters(basic_frame, operation, column, value, expected):
    assert_rows_unordered(basic_frame, {"where": [operation, column, value]}, expected)


def test_comparison_with_nan_is_false(basic_frame):
    # ccc has bar = null; pandas NaN comparisons are False
    assert_rows_unordered(basic_frame, {"where": ["<", "bar", 100]}, ["bbb", "aaa"])
    assert_rows_unordered(basic_frame, {"where": [">", "bar", 0]}, ["bbb", "aaa"])
    # ... but != with NaN is True in numpy semantics
    assert_rows_unordered(basic_frame, {"where": ["!=", "bar", 1.25]}, ["aaa", "ccc"])


def test_negation_of_nan_comparison(basic_frame):
    # !(bar < 100): NaN row comes back (pandas two-valued logic)
    assert_rows_unordered(basic_frame, {"where": ["!", ["<", "bar", 100]]}, ["ccc"])


@pytest.mark.parametrize(
    "operation, expected",
    [
        (["&", ["==", "qux", "'qqq'"], [">", "baz", 6]], ["aaa"]),
        (["|", ["==", "baz", 5], ["==", "baz", 9]], ["bbb", "ccc"]),
        (["&", ["==", "qux", "'qqq'"]], ["bbb", "aaa"]),  # 1-clause OK since 0.3.0
        (["|", ["==", "baz", 5]], ["bbb"]),
        (["!", ["==", "qux", "'qqq'"]], ["ccc"]),
    ],
)
def test_logical_filters(basic_frame, operation, expected):
    assert_rows_unordered(basic_frame, {"where": operation}, expected)


def test_in_filter(basic_frame):
    assert_rows_unordered(basic_frame, {"where": ["in", "foo", ["aaa", "ccc"]]}, ["aaa", "ccc"])
    assert_rows_unordered(basic_frame, {"where": ["in", "baz", [5, 9]]}, ["bbb", "ccc"])
    assert_rows_unordered(basic_frame, {"where": ["in", "baz", []]}, [])


def test_isnull_filter(basic_frame):
    assert_rows_unordered(basic_frame, {"where": ["isnull", "bar"]}, ["ccc"])
    assert_rows_unordered(basic_frame, {"where": ["!", ["isnull", "bar"]]}, ["bbb", "aaa"])


def test_column_to_column_comparison(basic_frame):
    # bare string second arg = column reference
    assert_rows_unordered(basic_frame, {"where": ["<", "bar", "baz"]}, ["bbb", "aaa"])


def test_unknown_column_in_comparison_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        query_rows(basic_frame, {"where": ["==", "foo", "abcdef"]})


@pytest.mark.parametrize(
    "q",
    [
        {"where": ["<", "bar"]},  # missing arg
        {"where": ["<", "bar", 1, 2]},  # too many args
        {"where": ["!", ["==", "foo", "'a'"], ["==", "foo", "'b'"]]},  # ! arity
        {"where": ["isnull"]},
        {"where": ["&", []]},  # empty nested expression
        {"where": ["&"]},  # joining op needs >= 1 clause
        {"where": ["unknown_op", "foo", 1]},
        {"where": "not_a_list"},
    ],
)
def test_malformed_filters(basic_frame, q):
    with pytest.raises(MalformedQueryException):
        # filters may compile lazily; force at least plan construction
        compile_query(q, basic_frame).sliced.collect()


def test_empty_where_is_noop(basic_frame):
    assert_rows_unordered(basic_frame, {"where": []}, ["bbb", "aaa", "ccc"])


# bitwise — reference matrix test_qframe.py:150-174
@pytest.mark.parametrize(
    "op, mask, expected",
    [
        ("all_bits", 1, [1, 3, 5]),
        ("all_bits", 2, [2, 3]),
        ("all_bits", 3, [3]),
        ("all_bits", 4, [4, 5]),
        ("all_bits", 5, [5]),
        ("any_bits", 1, [1, 3, 5]),
        ("any_bits", 3, [1, 2, 3, 5]),
        ("any_bits", 4, [4, 5]),
        ("any_bits", 7, [1, 2, 3, 4, 5]),
        ("any_bits", 8, []),
    ],
)
def test_bitwise_filters(bitwise_frame, op, mask, expected):
    assert_rows_unordered(bitwise_frame, {"where": [op, "foo", mask]}, expected)


def test_bitwise_errors(bitwise_frame):
    with pytest.raises(MalformedQueryException):
        query_rows(bitwise_frame, {"where": ["all_bits", "foo", 1.5]})
    with pytest.raises(MalformedQueryException):
        query_rows(bitwise_frame, {"where": ["all_bits", "baz", 1]})  # string col
    with pytest.raises(MalformedQueryException):
        query_rows(bitwise_frame, {"where": ["any_bits", "bar", 1]})  # float col


# like / ilike — reference matrix test_qframe.py:208-227
@pytest.mark.parametrize(
    "op, pattern, expected",
    [
        # exact reference matrix (test_qframe.py:206-221)
        ("like", "'a%'", [1]),
        ("like", "'%g'", [2]),
        ("like", "'%d%'", [1, 2]),
        ("like", "'%cc%'", []),
        ("like", "''", []),
        ("like", "'%'", [1, 2, 3, 4]),
        ("like", "'%%'", [1, 2, 3, 4]),
        ("like", "'%D%'", []),  # case sensitive
        ("ilike", "'%D%'", [1, 2]),  # case insensitive
        ("like", "'%g[a-z]{2}j%'", [3, 4]),  # embedded regex
        ("like", "'%g[a-z]{3}j%'", []),
        ("like", "'g[a-z]{2}j'", [3, 4]),
        ("like", "'g[a-z]{2}'", []),
        ("like", "'g[a-z]{2}%'", [3, 4]),
        ("like", "'g[a-z]{3}'", [3, 4]),
        ("ilike", "'ABCD'", [1]),
    ],
)
def test_like_filters(string_frame, op, pattern, expected):
    assert_rows_unordered(string_frame, {"where": [op, "bar", pattern]}, expected)


def test_like_errors(string_frame):
    with pytest.raises(MalformedQueryException):
        query_rows(string_frame, {"where": ["like", "bar", "abc"]})  # unquoted
    with pytest.raises(MalformedQueryException):
        query_rows(string_frame, {"where": ["like", "foo", "'abc'"]})  # int col
    with pytest.raises(MalformedQueryException):
        query_rows(string_frame, {"where": ["like", "bar", 12]})  # non-string


def test_like_null_cells_never_match(basic_frame):
    # bar has a null; (i)like over a null cell is False, and its
    # negation is True (pandas na=False semantics) — here on qux/foo
    # (string cols without nulls) plus a null-bearing frame below.
    assert_rows_unordered(basic_frame, {"where": ["like", "qux", "'qqq'"]}, ["bbb", "aaa"])


def test_contains_filter(basic_frame):
    # the reference's aspirational `contains` op (skipped test
    # test_qframe.py:92-95), realized here
    assert_rows_unordered(basic_frame, {"where": ["contains", "foo", "'bb'"]}, ["bbb"])
    assert_rows_unordered(
        basic_frame, {"where": ["!", ["contains", "foo", "'bb'"]]}, ["aaa", "ccc"]
    )


def test_contains_is_not_regex(string_frame):
    # regex metacharacters are literal for contains
    assert_rows_unordered(string_frame, {"where": ["contains", "bar", "'[a-z]'"]}, [])


def test_contains_errors(basic_frame):
    with pytest.raises(MalformedQueryException):
        query_rows(basic_frame, {"where": ["contains", "foo", "bb"]})  # unquoted
    with pytest.raises(MalformedQueryException):
        query_rows(basic_frame, {"where": ["contains", "baz", "'1'"]})  # int col


def test_like_on_nullable_string(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,xyz\nbbb,\nccc,xyw")
    assert_rows_unordered(frame, {"where": ["like", "bar", "'xy%'"]}, ["aaa", "ccc"])
    assert_rows_unordered(frame, {"where": ["!", ["like", "bar", "'xy%'"]]}, ["bbb"])


# ---------------------------------------------------------------- projection

def test_select_subset_and_reorder(basic_frame):
    result = compile_query({"select": ["baz", "foo"]}, basic_frame).sliced
    assert result.columns == ["baz", "foo"]


def test_select_missing_column_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query({"select": ["nonexistent"]}, basic_frame).sliced.collect()


def test_select_omitted_is_select_star(basic_frame):
    result = compile_query({}, basic_frame).sliced
    assert result.columns == ["foo", "bar", "baz", "qux"]
    assert result.count() == 3


# alias calculations — reference test_qframe.py:417-486
def test_alias_constant(calculation_frame):
    result = compile_query(
        {"select": [["=", "const_col", 55], "foo"]}, calculation_frame
    ).sliced
    assert result.columns == ["const_col", "foo"]
    assert all(r["const_col"] == 55 for r in result.collect())


def test_alias_quoted_string_constant(calculation_frame):
    result = compile_query({"select": [["=", "s", "'hello'"], "foo"]}, calculation_frame).sliced
    assert all(r["s"] == "hello" for r in result.collect())


def test_alias_column_rename(calculation_frame):
    result = compile_query({"select": [["=", "foo2", "foo"]]}, calculation_frame).sliced
    assert sorted(rows(result, "foo2")) == [1, 1, 2, 3, 3]


def test_alias_arithmetic_nesting(calculation_frame):
    result = compile_query(
        {"select": [["=", "calc", ["+", "foo", ["*", 2, "bar"]]]]}, calculation_frame
    ).sliced
    assert sorted(rows(result, "calc")) == sorted([21, 23, 42, 63, 69])


def test_alias_sqrt(calculation_frame):
    result = compile_query(
        {"select": [["=", "r", ["sqrt", ["*", "foo", "foo"]]]]}, calculation_frame
    ).sliced
    assert sorted(rows(result, "r")) == [1.0, 1.0, 2.0, 3.0, 3.0]


def test_alias_references_previous_alias(calculation_frame):
    result = compile_query(
        {"select": [["=", "a", ["+", "foo", 1]], ["=", "b", ["*", "a", 10]]]},
        calculation_frame,
    ).sliced
    assert sorted(rows(result, "b")) == sorted([20, 20, 30, 40, 40])


def test_alias_errors(calculation_frame):
    with pytest.raises(MalformedQueryException):  # unknown function
        compile_query(
            {"select": [["=", "x", ["nosuchfn", "foo"]]]}, calculation_frame
        ).sliced.collect()
    with pytest.raises(MalformedQueryException):  # bad alias name
        compile_query(
            {"select": [["=", "bad alias!", "foo"]]}, calculation_frame
        ).sliced.collect()
    with pytest.raises(MalformedQueryException):  # arity
        compile_query(
            {"select": [["=", "x", ["+", "foo", "bar", "foo"]]]}, calculation_frame
        ).sliced.collect()
    with pytest.raises(MalformedQueryException):  # unknown column in expr
        compile_query(
            {"select": [["=", "x", ["+", "nope", 1]]]}, calculation_frame
        ).sliced.collect()


def test_mixing_alias_and_aggregate_raises(calculation_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"select": [["=", "x", "foo"], ["sum", "bar"]], "group_by": ["foo"]},
            calculation_frame,
        ).sliced.collect()


# ---------------------------------------------------------------- aggregation

def test_group_by_sum(calculation_frame):
    result = compile_query(
        {"select": ["foo", ["sum", "bar"]], "group_by": ["foo"], "order_by": ["foo"]},
        calculation_frame,
    ).sliced
    assert [(r["foo"], r["bar"]) for r in result.collect()] == [(1, 21), (2, 20), (3, 63)]


def test_group_by_count(calculation_frame):
    result = compile_query(
        {"select": ["foo", ["count", "bar"]], "group_by": ["foo"], "order_by": ["foo"]},
        calculation_frame,
    ).sliced
    assert [(r["foo"], r["bar"]) for r in result.collect()] == [(1, 2), (2, 1), (3, 2)]


@pytest.mark.parametrize(
    "fn, expected",
    [
        ("min", [(1, 10), (2, 20), (3, 30)]),
        ("max", [(1, 11), (2, 20), (3, 33)]),
        ("mean", [(1, 10.5), (2, 20.0), (3, 31.5)]),
        ("nunique", [(1, 2), (2, 1), (3, 2)]),
    ],
)
def test_group_by_other_fns(calculation_frame, fn, expected):
    result = compile_query(
        {"select": ["foo", [fn, "bar"]], "group_by": ["foo"], "order_by": ["foo"]},
        calculation_frame,
    ).sliced
    assert [(r["foo"], r["bar"]) for r in result.collect()] == expected


def test_remaining_aggregate_names(calculation_frame):
    # the duck-typed pandas-method surface: std/var/prod (first/last
    # are order-dependent in the reference and partition-dependent in
    # Spark — covered as "returns a value from the group")
    # (a later aggregate on the same column replaces the earlier one,
    # matching the reference's {column: fn} dict — query.py:119-130)
    got = {
        r["foo"]: r["bar"]
        for r in compile_query(
            {"select": ["foo", ["sum", "bar"], ["max", "bar"]], "group_by": ["foo"]},
            calculation_frame,
        ).sliced.collect()
    }
    assert got[1] == 11  # max wins, not sum

    import math

    for fn, expected_grp1 in [
        ("std", math.sqrt(0.5)),  # values 10,11
        ("var", 0.5),
        ("prod", 110.0),
        ("sum", 21),
        ("median", 10.5),
    ]:
        got = {
            r["foo"]: r["bar"]
            for r in compile_query(
                {"select": ["foo", [fn, "bar"]], "group_by": ["foo"]},
                calculation_frame,
            ).sliced.collect()
        }
        assert got[1] == pytest.approx(expected_grp1), fn


def test_first_last_return_group_member(calculation_frame):
    for fn in ("first", "last"):
        got = {
            r["foo"]: r["bar"]
            for r in compile_query(
                {"select": ["foo", [fn, "bar"]], "group_by": ["foo"]},
                calculation_frame,
            ).sliced.collect()
        }
        assert got[1] in (10, 11) and got[2] == 20 and got[3] in (30, 33)


def test_unknown_aggregation_fn_raises(calculation_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"select": ["foo", ["nosuchagg", "bar"]], "group_by": ["foo"]},
            calculation_frame,
        ).sliced.collect()


def test_group_by_without_aggregate_raises(calculation_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"select": ["foo", "bar"], "group_by": ["foo"]}, calculation_frame
        ).sliced.collect()


def test_group_by_missing_column_raises(calculation_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"select": ["nope", ["sum", "bar"]], "group_by": ["nope"]},
            calculation_frame,
        ).sliced.collect()


def test_aggregate_without_group_by(calculation_frame):
    result = compile_query(
        {"select": [["max", "foo"]]}, calculation_frame
    ).sliced.collect()
    assert len(result) == 1 and result[0]["foo"] == 3


def test_multiple_aggregates_without_group_by(calculation_frame):
    result = compile_query(
        {"select": [["max", "foo"], ["min", "bar"]]}, calculation_frame
    ).sliced.collect()
    assert result[0]["foo"] == 3 and result[0]["bar"] == 10


def test_mix_aggregate_and_plain_column_without_group_by_raises(calculation_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"select": [["max", "foo"], "bar"]}, calculation_frame
        ).sliced.collect()


def test_count_star(basic_frame):
    result = compile_query({"select": [["count"]]}, basic_frame).sliced.collect()
    assert len(result) == 1 and result[0]["count"] == 3


def test_count_star_with_where(basic_frame):
    result = compile_query(
        {"select": [["count"]], "where": ["==", "qux", "'qqq'"]}, basic_frame
    ).sliced.collect()
    assert result[0]["count"] == 2


# ---------------------------------------------------------------- distinct

def test_distinct_all_columns(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "a,b\n1,x\n1,x\n2,y")
    result = compile_query({"distinct": []}, frame).sliced
    assert result.count() == 2


def test_distinct_subset(basic_frame):
    result = compile_query({"distinct": ["qux"], "select": ["qux"]}, basic_frame).sliced
    assert sorted(rows(result, "qux")) == ["qqq", "www"]


def test_distinct_before_select(basic_frame):
    # dedup columns needn't be projected (runs before select)
    result = compile_query({"distinct": ["qux"], "select": ["baz"]}, basic_frame).sliced
    assert result.count() == 2


# ---------------------------------------------------------------- order/slice

def test_order_by_asc_desc(basic_frame):
    assert_rows_ordered(basic_frame, {"order_by": ["baz"]}, ["bbb", "aaa", "ccc"])
    assert_rows_ordered(basic_frame, {"order_by": ["-baz"]}, ["ccc", "aaa", "bbb"])


def test_order_by_multi_column(calculation_frame):
    result = compile_query({"order_by": ["foo", "-bar"]}, calculation_frame).sliced
    assert [(r["foo"], r["bar"]) for r in result.collect()] == [
        (1, 11), (1, 10), (2, 20), (3, 33), (3, 30),
    ]


def test_order_by_invalid_format_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query({"order_by": [["baz"]]}, basic_frame).sliced.collect()


def test_order_by_unknown_column_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query({"order_by": ["nope"]}, basic_frame).sliced.collect()


def test_order_by_after_projection_sees_alias(calculation_frame):
    result = compile_query(
        {"select": [["=", "dbl", ["*", "bar", 2]]], "order_by": ["-dbl"], "limit": 1},
        calculation_frame,
    ).sliced.collect()
    assert result[0]["dbl"] == 66


def test_offset_limit_and_unsliced_len(basic_frame):
    qr = compile_query({"order_by": ["baz"], "offset": 1, "limit": 1}, basic_frame)
    assert rows(qr.sliced) == ["aaa"]
    assert qr.unsliced_len() == 3


def test_float_offset_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query({"offset": 1.5}, basic_frame)
    with pytest.raises(MalformedQueryException):
        compile_query({"limit": 2.5}, basic_frame)


def test_top_k(calculation_frame):
    result = compile_query(
        {"order_by": ["-bar"], "limit": 2}, calculation_frame
    ).sliced
    assert rows(result, "bar") == [33, 30]


# ---------------------------------------------------------------- subqueries

def test_from_subquery_aggregate_then_alias(spark):
    # reference test_qframe.py:561-582: aggregate then compute percentage
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\n1,10\n1,15\n5,50")
    q = {
        "select": ["foo", ["=", "pct", ["*", 100, ["/", "bar", 75]]]],
        "from": {"select": ["foo", ["sum", "bar"]], "group_by": ["foo"]},
        "order_by": ["foo"],
    }
    result = compile_query(q, frame).sliced.collect()
    assert [(r["foo"], round(r["pct"], 4)) for r in result] == [
        (1, round(100 * 25 / 75, 4)),
        (5, round(100 * 50 / 75, 4)),
    ]


def test_in_subquery(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,10\nbbb,15\nccc,50")
    q = {"where": ["in", "foo", {"where": [">", "bar", 12]}]}
    assert_rows_unordered(frame, q, ["bbb", "ccc"])


def test_not_in_subquery(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,10\nbbb,15\nccc,50")
    q = {"where": ["!", ["in", "foo", {"where": [">", "bar", 12]}]]}
    assert_rows_unordered(frame, q, ["aaa"])


def test_in_subquery_nested_in_boolean_tree(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,10\nbbb,15\nccc,50")
    q = {
        "where": [
            "|",
            ["in", "foo", {"where": [">", "bar", 40]}],
            ["==", "bar", 10],
        ]
    }
    assert_rows_unordered(frame, q, ["aaa", "ccc"])


def test_in_subquery_runs_against_root_frame(spark):
    # even inside a `from`-subquery chain, `in` sees the ROOT frame
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,10\nbbb,15\nccc,50")
    q = {
        "from": {"where": ["<", "bar", 20]},
        "where": ["in", "foo", {"where": [">", "bar", 12]}],
    }
    assert_rows_unordered(frame, q, ["bbb"])


def test_in_subquery_unknown_column_raises(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\naaa,10")
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"where": ["in", "nope", {"where": [">", "bar", 0]}]}, frame
        ).sliced.collect()


# ---------------------------------------------------------------- validation

def test_unknown_clause_raises(basic_frame):
    with pytest.raises(MalformedQueryException) as e:
        compile_query({"selcet": ["foo"]}, basic_frame)
    assert "selcet" in str(e.value)


def test_non_dict_query_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(["select", "foo"], basic_frame)


def test_group_by_plus_distinct_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"group_by": ["qux"], "distinct": ["qux"], "select": [["sum", "baz"]]},
            basic_frame,
        )


# ---------------------------------------------------------------- enums

def test_enum_rejects_ordered_comparison(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"where": ["<", "qux", "'rrr'"]},
            basic_frame,
            enum_columns=frozenset(["qux"]),
        ).sliced.collect()
    # equality still fine
    result = compile_query(
        {"where": ["==", "qux", "'qqq'"]},
        basic_frame,
        enum_columns=frozenset(["qux"]),
    ).sliced
    assert result.count() == 2


# ---------------------------------------------------------------- unicode

def test_unicode_roundtrip(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "foo,bar\n1,räksmörgås\n2,Iñtërnâtiônàližætiøn\n3,")
    assert_rows_unordered(
        frame, {"where": ["==", "bar", "'räksmörgås'"]}, [1]
    )


# ---------------------------------------------------------------- update

def update_rows(frame, q, columns):
    result = compile_update(q, frame)
    return sorted(
        [tuple(r[c] for c in columns) for r in result.collect()], key=str
    )


def test_update_simple_assignment(basic_frame):
    q = {"update": [["baz", 100]], "where": ["==", "qux", "'qqq'"]}
    assert update_rows(basic_frame, q, ["foo", "baz"]) == sorted(
        [("bbb", 100), ("aaa", 100), ("ccc", 9)], key=str
    )


def test_update_quoted_string_value(basic_frame):
    q = {"update": [["qux", "'zzz'"]], "where": ["==", "foo", "'aaa'"]}
    assert update_rows(basic_frame, q, ["foo", "qux"]) == sorted(
        [("bbb", "qqq"), ("aaa", "zzz"), ("ccc", "www")], key=str
    )


def test_update_self_referring(basic_frame):
    q = {"update": [["+", "baz", 2]], "where": [">", "baz", 5]}
    assert update_rows(basic_frame, q, ["foo", "baz"]) == sorted(
        [("bbb", 5), ("aaa", 9), ("ccc", 11)], key=str
    )


@pytest.mark.parametrize(
    "op, value, expected",
    [
        ("-", 1, 4), ("*", 3, 15), ("/", 5, 1.0), ("%", 3, 2),
        ("**", 2, 25), ("<<", 1, 10), (">>", 1, 2), ("&", 4, 4),
        ("|", 2, 7), ("^", 1, 4),
    ],
)
def test_update_self_referring_operators(basic_frame, op, value, expected):
    q = {"update": [[op, "baz", value]], "where": ["==", "foo", "'bbb'"]}
    result = compile_update(q, basic_frame)
    got = {r["foo"]: r["baz"] for r in result.collect()}
    assert got["bbb"] == expected
    assert got["aaa"] == 7 and got["ccc"] == 9


def test_update_mask_fixed_before_updates(spark):
    # mask reads pre-update values even when the update rewrites the
    # mask column itself
    from tests.conftest import make_frame

    frame = make_frame(spark, "a,b\n1,0\n5,0")
    q = {"update": [["a", 99], ["b", 1]], "where": ["<", "a", 3]}
    result = compile_update(q, frame)
    assert sorted([(r["a"], r["b"]) for r in result.collect()]) == [(5, 0), (99, 1)]


def test_update_where_in_list(basic_frame):
    q = {"update": [["baz", 0]], "where": ["in", "foo", ["'aaa'", "'ccc'"]]}
    got = {r["foo"]: r["baz"] for r in compile_update(q, basic_frame).collect()}
    assert got == {"aaa": 0, "ccc": 0, "bbb": 5}


def test_update_where_isnull(basic_frame):
    q = {"update": [["bar", 0.0]], "where": ["isnull", "bar"]}
    got = {r["foo"]: r["bar"] for r in compile_update(q, basic_frame).collect()}
    assert got["ccc"] == 0.0 and got["bbb"] == 1.25


def test_update_where_rejects_logical_ops(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_update(
            {"update": [["baz", 0]], "where": ["&", ["==", "baz", 5], ["==", "baz", 7]]},
            basic_frame,
        )


def test_update_missing_where_raises(basic_frame):
    with pytest.raises(MalformedQueryException):
        compile_update({"update": [["baz", 0]]}, basic_frame)


def test_update_column_value(basic_frame):
    # bare string value = copy another column
    q = {"update": [["baz", "bar"]], "where": ["==", "foo", "'bbb'"]}
    got = {r["foo"]: r["baz"] for r in compile_update(q, basic_frame).collect()}
    assert got["bbb"] == 1.25 or got["bbb"] == 1  # long col may truncate


# ------------------------------------------------------- division by zero

def test_division_by_zero_yields_null_not_error(spark):
    # reference: int/0 -> inf in-engine, null on the JSON wire
    # (test_api.py:109-116). Under Spark ANSI mode plain `/` raises;
    # the engine compiles `/` to try_divide -> null, matching the
    # wire contract (documented deviation for the CSV path).
    from tests.conftest import make_frame
    from qcache_spark.sources import rows_to_json
    import json

    frame = make_frame(spark, "foo,bar\n1,0\n1,2\n")
    result = compile_query(
        {"select": [["=", "q", ["/", "foo", "bar"]]]}, frame
    ).sliced
    values = sorted(
        (r["q"] is None, r["q"]) for r in result.collect()
    )
    assert values[0] == (False, 0.5) and values[1][0] is True
    wire = json.loads(rows_to_json(result.collect()))
    assert sorted(wire, key=repr) == sorted([{"q": 0.5}, {"q": None}], key=repr)


def test_update_division_by_zero_yields_null(spark):
    from tests.conftest import make_frame

    frame = make_frame(spark, "a,b\n4,0\n9,3\n")
    q = {"update": [["/", "a", "b"]], "where": [">", "a", 0]}
    got = {r["b"]: r["a"] for r in compile_update(q, frame).collect()}
    assert got == {0: None, 3: 3.0}


@pytest.mark.parametrize(
    "q",
    [
        {"update": [["+", "i", 1]], "where": ["==", "i", 1]},
        {"update": [["i", "j"]], "where": ["==", "i", 1]},
        {"update": [["s", None]], "where": ["==", "i", 1]},
        {"update": [["i", "'7'"]], "where": ["==", "i", 1]},
        {"update": [["i", 1.5]], "where": ["==", "i", 1]},
        {"update": [["i", 1 << 63]], "where": ["==", "i", 1]},
        {"update": [["i", 0]], "where": ["==", "s", 1]},
        {"update": [["i", 0]], "where": ["==", "i", "j"]},
        {"update": [["i", 0]], "where": ["<", "f", 1.0]},
        {"update": [["i", 0]], "where": ["&", ["==", "i", 1], ["==", "j", 2]]},
        {"update": [["i", 0]], "where": ["in", "s", ["'a'", None]]},
        {"update": [["nope", 0]], "where": ["==", "i", 1]},
        {"update": [["i", 0]]},
    ],
)
def test_update_arrow_declines_outside_its_subset(q):
    """The driver-side update takes literal assignments of the
    column's own kind under a column-vs-literal `where`; anything else
    (here: self-referring, column values, null, cross-kind, an ordered
    compare on a float column holding NaN, logical operators, unknown
    columns, a missing where) is left to compile_update."""
    import pyarrow as pa

    from qcache_spark.plans.local import Unsupported
    from qcache_spark.plans.update import update_arrow

    table = pa.table({"i": pa.array([1, 2], pa.int64()), "j": pa.array([2, 2], pa.int64()),
                      "f": [float("nan"), 1.5], "s": ["a", None]})
    with pytest.raises(Unsupported):
        update_arrow(q, table)


def test_load_table_events_on_foreign_session(spark, sf_dir):
    """load_table must read events.parquet TIMESTAMP(NANOS) on a
    caller-supplied session (e.g. the driver harness, which does not
    use get_spark()) and canonicalize ts to TimestampNTZType — the type
    the native Spark ≥4.1 reader and DuckDB both produce, so every path
    (batch/stream/mirror/oracle) agrees. VERDICT r1 item 1 + r4 item 1."""
    from pyspark.sql import types as T

    from qcache_spark.session import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
        # real 2024-era wall times, not 1970 garbage from a double
        # nanos->micros conversion
        row = df.selectExpr("min(year(ts)) AS y").collect()[0]
        assert row["y"] >= 2000
        assert df.limit(1).count() == 1
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_zero_float_offset_limit_raise(basic_frame):
    # falsy-but-wrong-typed slice params must 400, not no-op
    # (reference qcache/qframe/common.py:12-14)
    with pytest.raises(MalformedQueryException):
        compile_query({"offset": 0.0}, basic_frame)
    with pytest.raises(MalformedQueryException):
        compile_query({"limit": 0.0}, basic_frame)
    with pytest.raises(MalformedQueryException):
        compile_query({"offset": True}, basic_frame)


# ------------------------------------------------ grouping sets (q-grammar)


def _gs_frame(spark):
    from tests.conftest import make_frame

    return make_frame(spark, "g1,g2,v\nA,x,1\nA,y,2\nB,x,3\n")


def test_group_by_rollup_grammar(spark):
    q = {"group_by": {"rollup": ["g1", "g2"]}, "select": ["g1", "g2", ["sum", "v"]]}
    rows = sorted(
        (tuple(r) for r in compile_query(q, _gs_frame(spark)).sliced.collect()),
        key=repr,
    )
    assert (None, None, 6) in rows          # grand total
    assert ("A", None, 3) in rows           # subtotal level
    assert ("A", "x", 1) in rows            # leaf level
    assert len(rows) == 6                   # no cube-only rows
    assert (None, "x", 4) not in rows


def test_group_by_cube_grammar(spark):
    q = {"group_by": {"cube": ["g1", "g2"]}, "select": ["g1", "g2", ["sum", "v"]]}
    rows = {tuple(r) for r in compile_query(q, _gs_frame(spark)).sliced.collect()}
    assert (None, "x", 4) in rows and (None, "y", 2) in rows
    assert len(rows) == 8


def test_group_by_grouping_sets_grammar(spark):
    q = {
        "group_by": {"grouping_sets": [["g1"], ["g2"], []]},
        "select": ["g1", "g2", ["sum", "v"]],
    }
    rows = {tuple(r) for r in compile_query(q, _gs_frame(spark)).sliced.collect()}
    assert rows == {
        ("A", None, 3), ("B", None, 3),
        (None, "x", 4), (None, "y", 2),
        (None, None, 6),
    }


def test_group_by_structured_malformed(spark):
    frame = _gs_frame(spark)
    bad = [
        {"rollup": ["g1"], "cube": ["g2"]},       # two modes
        {"bogus": ["g1"]},                          # unknown mode
        {"rollup": []},                             # empty columns
        {"rollup": "g1"},                           # not a list
        {"rollup": [1]},                            # non-string column
        {"grouping_sets": []},                      # no sets
        {"grouping_sets": ["g1"]},                  # set not a list
        {"grouping_sets": [[]]},                    # only the empty set
    ]
    for spec in bad:
        with pytest.raises(MalformedQueryException):
            compile_query(
                {"group_by": spec, "select": ["g1", ["sum", "v"]]}, frame
            )
    # unknown column inside a structured spec
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"group_by": {"rollup": ["nope"]}, "select": [["sum", "v"]]}, frame
        )
    # aggregate still required
    with pytest.raises(MalformedQueryException):
        compile_query({"group_by": {"rollup": ["g1"]}, "select": ["g1"]}, frame)
    # distinct still conflicts
    with pytest.raises(MalformedQueryException):
        compile_query(
            {"group_by": {"rollup": ["g1"]}, "distinct": ["g1"],
             "select": ["g1", ["sum", "v"]]},
            frame,
        )


def test_group_by_structured_falls_back_to_spark(spark, sf_dir):
    """The local executor must decline structured group_by (Unsupported,
    not Malformed) so the router serves it from the Catalyst plan."""
    from qcache_spark.plans.local import Unsupported, execute_local

    import pandas as pd

    with pytest.raises(Unsupported):
        execute_local(
            {"group_by": {"rollup": ["g"]}, "select": ["g", ["sum", "v"]]},
            pd.DataFrame({"g": ["a"], "v": [1]}),
        )
    # end-to-end through the router at a fastpath-eligible size
    from __spark_entry__ import _gq

    q = {
        "group_by": {"rollup": ["l_returnflag"]},
        "select": ["l_returnflag", ["count", "l_orderkey"]],
    }
    out = _gq(spark, sf_dir, "lineitem", q)
    rows = {r["l_returnflag"]: r["l_orderkey"] for r in out.collect()}
    assert None in rows  # grand-total row present
    assert rows[None] == sum(v for k, v in rows.items() if k is not None)


# ---------------------------------------------- marker-name collision (r4)


def test_in_subquery_with_colliding_marker_columns(spark):
    """A dataset whose columns are named like the internal join
    markers must still filter correctly (ADVICE r4: fixed names made
    the join condition ambiguous)."""
    from tests.conftest import make_frame

    frame = make_frame(
        spark,
        "foo,__in_value__,__in_marker_0__\n"
        "1,a,x\n2,b,y\n3,c,z\n",
    )
    # top-level semi join path
    q = {"where": ["in", "foo", {"where": [">", "foo", 1], "select": ["foo"]}]}
    got = sorted(r["foo"] for r in compile_query(q, frame).sliced.collect())
    assert got == [2, 3]
    # nested (marker-join) path
    q2 = {
        "where": [
            "|",
            ["in", "foo", {"where": [">", "foo", 2], "select": ["foo"]}],
            ["==", "foo", 1],
        ]
    }
    got2 = sorted(r["foo"] for r in compile_query(q2, frame).sliced.collect())
    assert got2 == [1, 3]
    # the internal columns never leak into the result
    cols = compile_query(q2, frame).sliced.columns
    assert cols == ["foo", "__in_value__", "__in_marker_0__"]
