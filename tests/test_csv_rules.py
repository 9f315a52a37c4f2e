"""Differential gate for the CSV store parse: `parse_csv` (pyarrow.csv,
typed by the rules table in `sources/ingest.py`) against the
reference's `pandas.read_csv(na_values=[""], keep_default_na=False)`
with its type hints, on hypothesis-generated bodies. Schemas and values
must agree, except where the rules table departs from pandas on
purpose:
- float values are compared with pandas' correctly rounded
  `round_trip` converter, as its default one is one ulp off on many
  `repr` texts (types still come from the default one);
- an integer literal outside int64 makes its column a string, where
  pandas reads uint64 or, after a non-integer cell, float64;
- in a header-only body a repeated name `a.1` takes the hint of `a`,
  as it does in a body with rows (pandas forgets it there).
A body pandas rejects must be a 400 here too."""
from __future__ import annotations

import csv
import io
import os
import re
import sys
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcache_spark.errors import MalformedQueryException
from qcache_spark.sources import ingest, parse_csv

_INT_TEXT = re.compile(r"^[ \t\n\v\f\r]*[+-]?[0-9]+[ \t\n\v\f\r]*$")


def _outside_int64(cell) -> bool:
    return isinstance(cell, str) and bool(_INT_TEXT.match(cell)) and not (
        -(2 ** 63) <= int(cell) < 2 ** 63)


def _reference(body: bytes, types: dict) -> pa.Table | None:
    """The parent's parse of `body` as the table the store kept, or
    None for a 400."""
    dtype = {c: float if t == "float" else str for c, t in types.items()} or None
    options = dict(na_values=[""], keep_default_na=False)
    try:
        pdf = pd.read_csv(io.BytesIO(body), dtype=dtype, **options)
        # the same floats, correctly rounded; this converter also reads
        # an overflowing `1e400` as inf, where the default keeps a string
        exact = pd.read_csv(io.BytesIO(body), dtype=dtype, float_precision="round_trip", **options)
        cells = pd.read_csv(io.BytesIO(body), dtype=str, **options)
    except (pd.errors.EmptyDataError, pd.errors.ParserError, ValueError):
        return None
    # pandas gives a repeat `a.1` of `a` the hint of `a` when it has none
    header = next((row for row in csv.reader(io.StringIO(body.decode("utf-8-sig"))) if row), [])
    if len(header) != len(pdf.columns):
        header = list(pdf.columns)
    columns = []
    for i, (name, raw) in enumerate(zip(pdf.columns, header)):
        hint = types.get(name, types.get(raw or f"Unnamed: {i}"))
        if hint in ("string", "enum"):
            column = pa.array(pdf[name], from_pandas=True).cast(pa.string())
        elif hint == "float" and not len(pdf):
            column = pa.array([], pa.float64())
        elif hint is None and any(_outside_int64(c) for c in cells[name]):
            column = pa.array(cells[name], from_pandas=True).cast(pa.string())
        elif pdf[name].dtype == exact[name].dtype == np.float64:
            column = pa.array(exact[name], from_pandas=True)
        else:
            column = pa.array(pdf[name], from_pandas=True)
        columns.append(column)
    return pa.Table.from_arrays(columns, names=[str(c) for c in pdf.columns])


_TOKENS = [
    "", "", "0", "1", "-1", "+1", "007", " 5", "5 ", "\t3", "1.5", "-0.0", "1.", ".5", "1e5",
    "1E+05", "1e-400", "1e400", "-1e400", "nan", "NaN", "-nan", "inf", "-inf", "+Infinity",
    "INF", " inf", "0x10", "0X1f", "9223372036854775807", "9223372036854775808",
    "-9223372036854775809", "99999999999999999999", "True", "FALSE", "true", "T", " True",
    "2020-01-01", "12:30:00", "2020-01-01 12:30:00", "2020-01-01T12:30", "N/A", "null",
    "None", "a b", "x,y", 'say "hi"', "line\nbreak", "é", "1_000", "1d5", "-", ".", "e5",
    "1.5e", "2.6231334044184953", "0.1", "1e-05",
]
_CELL = st.one_of(
    st.sampled_from(_TOKENS),
    st.integers(-(2 ** 70), 2 ** 70).map(str),
    st.floats(allow_nan=False).map(repr),
    st.text(alphabet="0123456789+-.eE xaTrue", max_size=6),
)
# each column draws its cells from one kind, so typed columns occur often
_KINDS = [
    st.integers(-(10 ** 6), 10 ** 6).map(str),
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.sampled_from(["True", "False", "true", "FALSE"]),
    st.sampled_from(["ann", "bob", "1", "2.5"]),
    _CELL,
]
_HEADER = st.sampled_from(["a", "b", "a", "", "a.1", " c", "Unnamed: 1", "x y", "é"])


def _quote(cell: str) -> str:
    if any(ch in cell for ch in ',"\n\r'):
        return '"' + cell.replace('"', '""') + '"'
    return cell


@st.composite
def _body(draw):
    width = draw(st.integers(1, 4))
    header = [draw(_HEADER) for _ in range(width)]
    kinds = [draw(st.sampled_from(_KINDS)) for _ in range(width)]
    rows = []
    for _ in range(draw(st.integers(0, 6))):
        row = [draw(st.one_of(kind, st.just("")) if draw(st.booleans()) else kind) for kind in kinds]
        if draw(st.integers(0, 15)) == 0:  # a ragged row
            row = row[:-1] if draw(st.booleans()) else row + ["9"]
        rows.append(row)
    if width == 1:
        # pandas skips a line of only spaces as blank; a one-column
        # body keeps such a cell (see test_one_column_blank_line)
        rows = [r for r in rows if not r or r[0] == "" or r[0].strip(" \t\v\f")]
    end = draw(st.sampled_from(["\n", "\r\n"]))
    text = end.join(",".join(_quote(c) for c in line) for line in [header] + rows)
    if draw(st.booleans()):
        text += end
    hints = {}
    for name in set(header):
        hint = draw(st.sampled_from([None, None, None, "string", "float", "enum"]))
        if hint:
            hints[name] = hint
    return text.encode("utf-8"), hints


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(case=_body())
def test_csv_parse_matches_reference_rules(case):
    body, hints = case
    split = ingest._split_with_pandas
    used = []
    expected = _reference(body, hints)
    # a context per example: the function-scoped fixture would stack
    # one wrapper per example until the call chain overflows the stack
    with pytest.MonkeyPatch.context() as m:
        m.setattr(ingest, "_split_with_pandas", lambda b: used.append(1) or split(b))
        try:
            table, enums = parse_csv(body, hints)
        except MalformedQueryException as e:
            assert expected is None, (body, hints, str(e), expected)
            return
    assert expected is not None, (body, hints, table)
    assert table.schema == expected.schema, (body, hints, table.schema, expected.schema)
    assert table.equals(expected), (body, hints, table.to_pydict(), expected.to_pydict())
    assert enums == {c for c, t in hints.items() if t == "enum"}
    if used:  # counted by `--hypothesis-show-statistics`
        event(f"split by pandas: {_fallback_kind(body, hints)}")


def _fallback_kind(body: bytes, hints: dict) -> str:
    """Why pyarrow.csv could not read a body that pandas split: a row
    of the wrong width, a header with no line end after it, or a cell a
    `float` hint reads as a bool."""
    try:
        ingest._read_csv(body, ingest._parse_type_hints(hints)[0])
    except pa.ArrowInvalid as e:
        kind = {"Expected": "ragged rows", "Empty CSV": "a header alone, unended",
                "conversion error": "a hinted bool"}
        return next(v for k, v in kind.items() if k in str(e))
    raise AssertionError(f"pandas split a body pyarrow.csv reads: {body!r}")


def test_one_column_blank_line():
    """pandas skips a line of only spaces as blank; pyarrow.csv skips
    only empty lines, so in a one-column body such a line is a cell
    (in a wider body it is a ragged row, which pandas splits)."""
    table, _ = parse_csv(b"a\n1\n  \n2\n")
    assert table.column("a").to_pylist() == ["1", "  ", "2"]
    table, _ = parse_csv(b"a,b\n1,2\n  \n3,4\n")
    assert table.to_pydict() == {"a": [1, 3], "b": [2, 4]}


@pytest.mark.parametrize("text,typ,values", [
    ("1\n\n2", pa.float64(), [1.0, None, 2.0]),
    ("nan\n1.5", pa.string(), ["nan", "1.5"]),
    ("0x10\n1", pa.string(), ["0x10", "1"]),
    ("1e400\n1", pa.string(), ["1e400", "1"]),
    ("+1\n2", pa.int64(), [1, 2]),
    ("99999999999999999999\n1", pa.string(), ["99999999999999999999", "1"]),
    ("9223372036854775808\n1", pa.string(), ["9223372036854775808", "1"]),
    ("1.5\n99999999999999999999", pa.string(), ["1.5", "99999999999999999999"]),
    ("2020-01-01\n2020-01-02", pa.string(), ["2020-01-01", "2020-01-02"]),
    ("12:00:00\n13:00:00", pa.string(), ["12:00:00", "13:00:00"]),
    ("2020-01-01 12:00:00\n2020-01-01T13:00", pa.string(),
     ["2020-01-01 12:00:00", "2020-01-01T13:00"]),
    ("", pa.float64(), [None]),
    ("-Infinity\n1.5", pa.float64(), [float("-inf"), 1.5]),
    (" inf\n1", pa.string(), [" inf", "1"]),
    ("True\n\nfalse", pa.bool_(), [True, None, False]),
    ("True\n1", pa.string(), ["True", "1"]),
])
def test_rules_table_cases(text, typ, values):
    """The rules table's divergences between pandas and pyarrow.csv,
    one cell kind each (a second column keeps the empty lines rows)."""
    body = "a,z\n" + "".join(f"{line},0\n" for line in text.split("\n"))
    table, _ = parse_csv(body.encode())
    assert table.schema.field("a").type == typ
    assert table.column("a").to_pylist() == values


def test_header_names_follow_pandas():
    table, _ = parse_csv(b"a,a,,a.1,a\n1,2,3,4,5\n")
    assert table.column_names == ["a", "a.2", "Unnamed: 2", "a.1", "a.3"]
    assert table.column_names == list(pd.read_csv(io.BytesIO(b"a,a,,a.1,a\n1,2,3,4,5\n")).columns)


def test_ragged_rows_split_by_pandas():
    """pyarrow.csv raises on a row of the wrong width; pandas pads a
    short row and indexes a long one, as the reference did."""
    table, _ = parse_csv(b"a,b\n1,2\n3\n")
    assert table.to_pydict() == {"a": [1, 3], "b": [2.0, None]}
    table, _ = parse_csv(b"a,b\n1,2,3\n")
    assert table.to_pydict() == {"a": [2], "b": [3]}


def test_float_hint_rejects_what_pandas_rejects():
    for cell in ("nan", "1e400", "x"):
        with pytest.raises(MalformedQueryException, match="could not convert string to float"):
            parse_csv(f"a,b\n{cell},1\n".encode(), {"a": "float"})
    table, _ = parse_csv(b"a,b\n+2,1\n 1.5,2\n,3\n", {"a": "float", "b": "string"})
    assert table.column("a").to_pylist() == [2.0, 1.5, None]
    assert table.column("b").to_pylist() == ["1", "2", "3"]


def test_repr_floats_are_correctly_rounded():
    """Each stored float is the double nearest its text, as Python's
    float() reads it; pandas' default parser is off by one ulp on some."""
    values = np.random.default_rng(5).random(2000) * 10.0
    texts = [repr(float(v)) for v in values]
    table, _ = parse_csv(("x\n" + "\n".join(texts) + "\n").encode())
    assert table.column("x").to_pylist() == [float(t) for t in texts]
    default = pd.read_csv(io.BytesIO(("x\n" + "\n".join(texts)).encode()))["x"].tolist()
    assert default != [float(t) for t in texts]  # the reference's rounding differs
