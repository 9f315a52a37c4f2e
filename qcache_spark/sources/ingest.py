"""Ingest/serialize: CSV and JSON in, CSV and JSON out — plus parquet.

Mirrors the reference contract:
- CSV: only the EMPTY STRING is null (`na_values=['']`,
  `keep_default_na=False` — qcache/qframe/__init__.py:51-55;
  "N/A"/"nan"/"null" stay strings, test_qframe.py:658-683).
- Type hints: `string` forces object dtype, `float` forces float64,
  `enum` forces category (qcache/app.py:150-168). Enum maps to Spark
  StringType plus an engine-side marker that rejects </> filters
  (test_qframe.py:627-629); storage-wise parquet/Tungsten dictionary-
  encode low-cardinality strings already.
- Stand-in columns: add a missing column as a typed constant or a copy
  of another column, resolved left-to-right
  (qcache/qframe/__init__.py:26-38, test_api.py:530-537).

Scale note: HTTP-posted bodies are driver-sized by definition (the
reference's whole design point); big data enters through
`spark.read.parquet/csv/json` on a path, which stays fully
distributed. Both paths end in the same DataFrame-typed world.
"""
from __future__ import annotations

import io
import json
import math
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import MalformedQueryException, raise_malformed


def _parse_type_hints(types: Optional[dict]) -> tuple[dict, set]:
    """Split hints into pandas dtype overrides + enum column set.
    Unknown type name → error (qcache/app.py:163-166)."""
    dtypes: dict = {}
    enum_columns: set = set()
    for column, type_name in (types or {}).items():
        if type_name == "string":
            dtypes[column] = str
        elif type_name == "float":
            dtypes[column] = float
        elif type_name == "enum":
            enum_columns.add(column)
            dtypes[column] = str
        else:
            raise MalformedQueryException(
                f"Invalid type '{type_name}' for column '{column}'"
            )
    return dtypes, enum_columns


def _stand_in_value_column(df: DataFrame, value: str):
    """A stand-in value is an int, float, quoted string, or another
    column's name (qcache/qframe/__init__.py:14-23)."""
    if value.startswith(("'", '"')):
        return F.lit(value.strip("'\""))
    try:
        return F.lit(int(value))
    except ValueError:
        pass
    try:
        return F.lit(float(value))
    except ValueError:
        pass
    return F.col(value)


def apply_stand_in_columns(df: DataFrame, stand_ins: Optional[Iterable[tuple[str, str]]]) -> DataFrame:
    """Applied at both store and query time (qcache/app.py:170-171,188).
    Chained definitions resolve left-to-right (test_api.py:530-537)."""
    if not stand_ins:
        return df
    for column, value in stand_ins:
        if column not in df.columns:
            df = df.withColumn(column, _stand_in_value_column(df, value))
    return df


def parse_stand_in_header(header: Optional[str]) -> list[tuple[str, str]]:
    """`X-QCache-stand-in-columns: foo=10;bar=baz` → [(col, value), ...]"""
    if not header:
        return []
    pairs = []
    for part in header.split(";"):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise MalformedQueryException(f"Invalid stand-in column: {part}")
        column, value = part.split("=", 1)
        pairs.append((column.strip(), value.strip()))
    return pairs


def parse_csv(csv_text: str, types: Optional[dict] = None) -> tuple[pd.DataFrame, set]:
    """CSV body → pandas frame, with the reference's null and type-hint
    rules. Returns (frame, enum_columns)."""
    dtypes, enum_columns = _parse_type_hints(types)
    try:
        pdf = pd.read_csv(
            io.StringIO(csv_text),
            na_values=[""],
            keep_default_na=False,
            dtype=dtypes or None,
        )
    except (pd.errors.EmptyDataError, pd.errors.ParserError, ValueError) as e:
        raise MalformedQueryException(f"Invalid CSV body: {e}")
    # pandas upcasts int columns with nulls to float; Spark keeps
    # nullable long — preserve pandas-visible behavior by letting the
    # inferred dtype stand (SURVEY.md §7 "hard parts").
    return pdf, enum_columns


def from_csv(
    spark: SparkSession,
    csv_text: str,
    types: Optional[dict] = None,
    stand_in_columns: Optional[list[tuple[str, str]]] = None,
) -> tuple[DataFrame, set]:
    """CSV body → DataFrame (Arrow-accelerated createDataFrame).
    Returns (df, enum_columns)."""
    pdf, enum_columns = parse_csv(csv_text, types)
    return frame_from_pandas(spark, pdf, stand_in_columns), enum_columns


def frame_from_pandas(
    spark: SparkSession,
    pdf: pd.DataFrame,
    stand_in_columns: Optional[list[tuple[str, str]]] = None,
) -> DataFrame:
    """A parsed body as a Spark frame, stand-in columns applied."""
    return apply_stand_in_columns(_create_df(spark, pdf), stand_in_columns)


def _create_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """createDataFrame that also accepts a ZERO-ROW pandas frame (a
    header-only CSV / empty JSON list — the reference's pandas engine
    stores these happily; Spark raises CANNOT_INFER_EMPTY_SCHEMA).
    Schema comes from the pandas dtypes; all-NaN object columns (what
    read_csv infers when there is nothing to see) become string."""
    if len(pdf) > 0:
        return spark.createDataFrame(pdf)
    from pyspark.sql import types as T

    # Local dtype map instead of pyspark.pandas.typedef (ADVICE r7):
    # importing pyspark.pandas enforces its pandas/pyarrow minimum
    # versions at import time, so a deployment without pyarrow would
    # 500 on an empty upload even though nothing else needs it. A
    # zero-row frame only ever has dtypes read_csv/from_records can
    # infer from NOTHING plus explicit dtype hints — this map covers
    # that whole surface; anything exotic degrades to string, which
    # for an empty column is lossless.
    _DTYPE_TO_SPARK = {
        "int8": T.ByteType(),
        "int16": T.ShortType(),
        "int32": T.IntegerType(),
        "int64": T.LongType(),
        "uint8": T.ShortType(),
        "uint16": T.IntegerType(),
        "uint32": T.LongType(),
        "uint64": T.LongType(),
        "float32": T.FloatType(),
        "float64": T.DoubleType(),
        "bool": T.BooleanType(),
        "datetime64[ns]": T.TimestampType(),
        "datetime64[us]": T.TimestampType(),
        "datetime64[ms]": T.TimestampType(),
        "datetime64[s]": T.TimestampType(),
    }
    fields = [
        T.StructField(
            str(col),
            _DTYPE_TO_SPARK.get(str(pdf[col].dtype), T.StringType()),
            True,
        )
        for col in pdf.columns
    ]
    return spark.createDataFrame([], T.StructType(fields))


def parse_json_records(data: str | list, types: Optional[dict] = None) -> tuple[pd.DataFrame, set]:
    """JSON list-of-objects body → pandas frame
    (reference from_dicts, qcache/qframe/__init__.py:57-69). Returns
    (frame, enum_columns)."""
    if isinstance(data, str):
        data = json.loads(data)
    if not isinstance(data, list):
        raise_malformed("JSON body must be a list of records", type(data).__name__)
    _, enum_columns = _parse_type_hints(types)
    pdf = pd.DataFrame.from_records(data)
    for col, type_name in (types or {}).items():
        if type_name == "string" or type_name == "enum":
            pdf[col] = pdf[col].astype(str)
        elif type_name == "float":
            pdf[col] = pdf[col].astype(float)
    return pdf, enum_columns


def from_json_records(
    spark: SparkSession,
    data: str | list,
    types: Optional[dict] = None,
    stand_in_columns: Optional[list[tuple[str, str]]] = None,
) -> tuple[DataFrame, set]:
    """JSON list-of-objects body → DataFrame. Returns (df, enum_columns)."""
    pdf, enum_columns = parse_json_records(data, types)
    return frame_from_pandas(spark, pdf, stand_in_columns), enum_columns


def rows_to_csv(rows: list, columns: list[str]) -> str:
    """Serialize already-collected rows (single job for the whole
    request when the caller also needs the row count)."""
    pdf = pd.DataFrame.from_records([r.asDict() for r in rows], columns=columns)
    return pdf.to_csv(index=False)


def iter_csv_chunks(df: DataFrame, batch_rows: int = 2000):
    """Bounded-driver-memory CSV serialization (VERDICT r8 missing #2):
    yields encoded CSV chunks from ``toLocalIterator`` — the driver
    holds ONE partition plus one ``batch_rows`` buffer at a time,
    never the whole result, so a legitimately large export streams
    instead of being refused by the materialization cap.

    Rows are rendered with object dtype on purpose: per-batch pandas
    dtype INFERENCE would make the rendering depend on where batch
    boundaries fall (an int column becomes float64 — '1' vs '1.0' —
    exactly when its batch happens to contain a null). Object dtype
    keeps each value's rendering a pure function of the value. The
    first chunk carries the header, even for a zero-row result."""
    cols = df.columns
    first = True
    buf: list = []

    def render() -> bytes:
        nonlocal first
        # dtype=object at CONSTRUCTION (from_records + astype would
        # already have inferred int->float64 for batches with a null)
        pdf = pd.DataFrame(
            {c: pd.Series([r[c] for r in buf], dtype=object) for c in cols},
            columns=cols,
        )
        out = pdf.to_csv(index=False, header=first).encode("utf-8")
        first = False
        return out

    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row.asDict())
        if len(buf) >= batch_rows:
            yield render()
            buf = []
    yield render()


def rows_to_json(rows: list) -> str:
    out = []
    for row in rows:
        d = {}
        for k, v in row.asDict().items():
            if isinstance(v, float) and (math.isinf(v) or math.isnan(v)):
                v = None
            d[k] = v
        out.append(d)
    return json.dumps(out, default=str)
