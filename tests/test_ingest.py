"""File-connector + ingest semantics tests."""
from __future__ import annotations

import json
import os

import pytest

from qcache_spark import MalformedQueryException
from qcache_spark.sources import (
    from_csv,
    parse_header_pairs,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    write_orc,
    write_parquet,
)


def test_orc_roundtrip_with_partition_prune(spark, tmp_path):
    df = spark.range(80).selectExpr("id", "id % 4 as bucket")
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["bucket"])
    back = read_orc(spark, out)
    assert back.count() == 80
    pruned = back.filter("bucket = 1")
    assert pruned.count() == 20
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_csv_null_contract(spark, tmp_path):
    # only '' is null; N/A, nan, null stay strings (reference
    # test_qframe.py:658-683)
    p = tmp_path / "data.csv"
    p.write_text("foo,bar\na,\nb,N/A\nc,nan\nd,null\ne,x\n")
    df = read_csv(spark, str(p))
    rows = {r["foo"]: r["bar"] for r in df.collect()}
    assert rows == {"a": None, "b": "N/A", "c": "nan", "d": "null", "e": "x"}


def test_http_body_csv_null_contract(spark):
    df, _ = from_csv(spark, "foo,bar\na,\nb,N/A\n")
    rows = {r["foo"]: r["bar"] for r in df.collect()}
    assert rows == {"a": None, "b": "N/A"}


def test_json_lines_roundtrip(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text("\n".join(json.dumps({"a": i, "b": f"x{i}"}) for i in range(5)))
    df = read_json(spark, str(p))
    assert df.count() == 5
    assert set(df.columns) == {"a", "b"}


def test_parquet_partitioned_write_prunes(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id % 4 as bucket")
    out = str(tmp_path / "part")
    write_parquet(df, out, partition_by=["bucket"])
    back = read_parquet(spark, out)
    pruned = back.filter("bucket = 2")
    assert pruned.count() == 25
    # partition pruning visible in the scan: only one partition dir read
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_header_pairs_keep_order_and_name_the_header_in_errors():
    """One parser reads `X-QCache-types` and `X-QCache-stand-in-columns`:
    pairs in header order, blanks skipped, a bad part named per header."""
    assert parse_header_pairs(None, "type hint") == []
    assert parse_header_pairs(" b = x ;; a=y=z ", "stand-in column") == [("b", "x"), ("a", "y=z")]
    with pytest.raises(MalformedQueryException, match="^Invalid type hint: foo$"):
        parse_header_pairs("a=string;foo", "type hint")
    with pytest.raises(MalformedQueryException, match="^Invalid stand-in column: bar$"):
        parse_header_pairs("bar", "stand-in column")
