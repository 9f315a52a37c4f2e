"""End-to-end HTTP tests, porting the reference API contract
(/root/reference/test/test_api.py): store→query round trips in all
CSV/JSON combos, pagination header, type hints, stand-in columns,
updates, eviction, statistics, error codes."""
from __future__ import annotations

import contextlib
import gzip
import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from qcache_spark.server import make_server, serve_forever_in_thread

CSV_BODY = "foo,bar\n1,10\n2,20\n3,30\n"


@pytest.fixture(scope="module")
def server(spark):
    srv = make_server(spark, max_cache_size=1 << 30)
    serve_forever_in_thread(srv)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def call(base, method, path, body=None, headers=None, timeout=None):
    req = urllib.request.Request(
        base + path, data=body, method=method, headers=headers or {}
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


def store(base, key, body=CSV_BODY, ctype="text/csv", headers=None):
    h = {"Content-Type": ctype}
    h.update(headers or {})
    return call(base, "POST", f"/qcache/dataset/{key}", body.encode(), h)


def query(base, key, q, accept="application/json", headers=None):
    h = {"Accept": accept}
    h.update(headers or {})
    qs = urllib.parse.quote(json.dumps(q))
    return call(base, "GET", f"/qcache/dataset/{key}?q={qs}", None, h)


def test_status(server):
    code, body, _ = call(server, "GET", "/qcache/status")
    assert code == 200 and body == b"OK"


def test_store_query_roundtrip_csv_json(server):
    code, _, _ = store(server, "t1")
    assert code == 201
    code, body, headers = query(server, "t1", {"where": [">", "bar", 15]})
    assert code == 200
    rows = json.loads(body)
    assert sorted(r["foo"] for r in rows) == [2, 3]
    assert headers["X-QCache-unsliced-length"] == "2"

    code, body, _ = query(server, "t1", {}, accept="text/csv")
    assert code == 200
    assert body.decode().splitlines()[0] == "foo,bar"


def test_store_json_query(server):
    body = json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    code, _, _ = store(server, "t2", body, ctype="application/json")
    assert code == 201
    code, out, _ = query(server, "t2", {"where": ["==", "b", "'y'"]})
    assert json.loads(out) == [{"a": 2, "b": "y"}]


def test_query_by_post(server):
    store(server, "t3")
    code, body, headers = call(
        server,
        "POST",
        "/qcache/dataset/t3/q",
        json.dumps({"select": [["count"]]}).encode(),
        {"Accept": "application/json"},
    )
    assert code == 200
    assert json.loads(body) == [{"count": 3}]


def test_pagination_header(server):
    store(server, "t4")
    code, body, headers = query(
        server, "t4", {"order_by": ["foo"], "offset": 1, "limit": 1}
    )
    assert json.loads(body) == [{"foo": 2, "bar": 20}]
    assert headers["X-QCache-unsliced-length"] == "3"


def test_unknown_dataset_404(server):
    code, body, _ = query(server, "nope", {})
    assert code == 404
    assert "error" in json.loads(body)


def test_malformed_query_400(server):
    store(server, "t5")
    code, body, _ = query(server, "t5", {"selcet": ["foo"]})
    assert code == 400
    assert "selcet" in json.loads(body)["error"]


@pytest.mark.parametrize(
    "bad",
    [
        {"limit": -1},
        {"offset": -1},
        {"where": ["!", "o_orderkey"]},
        {"where": ["&", "o_orderkey", ["==", "o_orderkey", 1]]},
        {"where": [["==", "o_orderkey", 1]]},
        {"select": ["nope", 5]},
    ],
)
def test_grammar_errors_are_400_not_500(server, bad):
    store(server, "grammar400", "o_orderkey,o_comment\n1,a\n2,b\n")
    code, body, _ = query(server, "grammar400", bad)
    assert code == 400, (bad, code, body)
    assert "error" in json.loads(body)


def sql_post(base, sql, accept="application/json"):
    return call(
        base, "POST", "/qcache/sql", sql.encode(), {"Accept": accept}
    )


def test_sql_endpoint_select(server):
    store(server, "sqlt1")
    code, body, headers = sql_post(
        server, "SELECT foo, bar FROM sqlt1 WHERE bar > 15 ORDER BY foo"
    )
    assert code == 200
    assert json.loads(body) == [{"foo": 2, "bar": 20}, {"foo": 3, "bar": 30}]
    assert headers["X-QCache-unsliced-length"] == "2"
    # CSV negotiation works like the other endpoints
    code, body, _ = sql_post(server, "SELECT count(*) AS n FROM sqlt1", "text/csv")
    assert code == 200 and body.decode().splitlines() == ["n", "3"]


def test_sql_endpoint_cross_dataset_join(server):
    store(server, "sqlt2a", "k,v\n1,100\n2,200\n")
    store(server, "sqlt2b", "k,w\n2,x\n3,y\n")
    code, body, _ = sql_post(
        server,
        "SELECT a.k AS k, a.v AS v, b.w AS w FROM sqlt2a a JOIN sqlt2b b ON a.k = b.k",
    )
    assert code == 200
    assert json.loads(body) == [{"k": 2, "v": 200, "w": "x"}]


def test_sql_endpoint_rejects_writes_and_ddl(server):
    store(server, "sqlt3")
    for bad in [
        "INSERT INTO sqlt3 VALUES (9, 9)",
        "CREATE TABLE boom (a INT)",
        "DROP TABLE sqlt3",
        "SET spark.sql.shuffle.partitions=1",
        "CACHE TABLE sqlt3",
        "SELECT 1; SELECT 2",
        "SELECT * FROM parquet.`/root/testdata/sf0.001/orders.parquet`",
        "",
    ]:
        code, body, _ = sql_post(server, bad)
        assert code == 400, f"{bad!r} -> {code}"


def test_sql_endpoint_rejects_file_read_obfuscations(server):
    """The read check is structural (parsed-plan relation allowlist),
    so comment/case/quoting tricks that defeat a raw-text regex must
    still 400 — including path tables nested in subquery expressions
    and multi-part catalog names."""
    store(server, "sqlt6")
    for bad in [
        # bracketed comment between format token and dot/backtick
        "SELECT * FROM text/**/.`/etc/passwd`",
        "SELECT * FROM parquet/**/ . `/root/testdata/sf0.001/orders.parquet`",
        "SELECT * FROM PARQUET.`/root/testdata/sf0.001/orders.parquet`",
        # path table hidden inside a subquery EXPRESSION (not a plan child)
        "SELECT * FROM sqlt6 WHERE foo IN (SELECT 1 FROM text.`/etc/passwd`)",
        "SELECT (SELECT count(*) FROM text.`/etc/passwd`) AS n FROM sqlt6",
        # multi-part names: catalog / global temp / db-qualified
        "SELECT * FROM global_temp.anything",
        "SELECT * FROM spark_catalog.default.sqlt6",
        "SELECT * FROM default.sqlt6",
    ]:
        code, body, _ = sql_post(server, bad)
        assert code == 400, f"{bad!r} -> {code}"
        assert "error" in json.loads(body)


def test_sql_endpoint_semicolon_in_string_literal_ok(server):
    store(server, "sqlt7", "k,s\n1,a;b\n2,c\n")
    code, body, _ = sql_post(server, "SELECT k FROM sqlt7 WHERE s = 'a;b'")
    assert code == 200
    assert json.loads(body) == [{"k": 1}]
    # trailing semicolons still tolerated
    code, body, _ = sql_post(server, "SELECT count(*) AS n FROM sqlt7;")
    assert code == 200 and json.loads(body) == [{"n": 2}]


def test_sql_endpoint_ctes_and_result_cap(spark):
    srv = make_server(spark, sql_max_rows=4)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        store(base, "sqlt8", "a\n1\n2\n3\n")
        # CTE names are allowed relations
        code, body, _ = sql_post(
            base, "WITH c AS (SELECT a FROM sqlt8 WHERE a > 1) SELECT sum(a) AS s FROM c"
        )
        assert code == 200 and json.loads(body) == [{"s": 5}]
        # 3x3 cross join = 9 rows > cap of 4 -> 400, not an OOM attempt
        code, body, _ = sql_post(
            base, "SELECT x.a AS xa FROM sqlt8 x CROSS JOIN sqlt8 y"
        )
        assert code == 400 and "limit" in json.loads(body)["error"].lower()
        # an explicit LIMIT under the cap passes
        code, body, _ = sql_post(
            base, "SELECT x.a AS xa FROM sqlt8 x CROSS JOIN sqlt8 y LIMIT 3"
        )
        assert code == 200 and len(json.loads(body)) == 3
    finally:
        srv.shutdown()


def test_sql_endpoint_unknown_view_and_deleted_dataset(server):
    code, body, _ = sql_post(server, "SELECT * FROM no_such_view_xyz")
    assert code == 400
    # deleting a dataset removes its SQL view on the next sync
    store(server, "sqlt4")
    code, _, _ = sql_post(server, "SELECT count(*) AS n FROM sqlt4")
    assert code == 200
    call(server, "DELETE", "/qcache/dataset/sqlt4")
    code, _, _ = sql_post(server, "SELECT count(*) AS n FROM sqlt4")
    assert code == 400


def test_sql_endpoint_requires_auth_when_configured(spark):
    import base64

    srv = make_server(spark, basic_auth="u:p", allow_plaintext_auth=True)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, _, _ = call(base, "POST", "/qcache/sql", b"SELECT 1 AS x")
        assert code == 401
        auth = {"Authorization": "Basic " + base64.b64encode(b"u:p").decode()}
        code, body, _ = call(base, "POST", "/qcache/sql", b"SELECT 1 AS x", auth)
        assert code == 200 and json.loads(body) == [{"x": 1}]
    finally:
        srv.shutdown()


def test_sql_endpoint_sees_replaced_dataset(server):
    store(server, "sqlt5", "a\n1\n")
    code, body, _ = sql_post(server, "SELECT sum(a) AS s FROM sqlt5")
    assert json.loads(body) == [{"s": 1}]
    store(server, "sqlt5", "a\n5\n7\n")  # replace
    code, body, _ = sql_post(server, "SELECT sum(a) AS s FROM sqlt5")
    assert json.loads(body) == [{"s": 12}]


def test_unsupported_content_type_415(server):
    code, _, _ = store(server, "t6", "x", ctype="text/xml")
    assert code == 415


def test_unsupported_charset_400(server):
    code, _, _ = store(server, "t7", CSV_BODY, ctype="text/csv; charset=latin-1")
    assert code == 400


def test_not_acceptable_406(server):
    store(server, "t8")
    code, _, _ = query(server, "t8", {}, accept="text/xml")
    assert code == 406


def test_delete_dataset(server):
    store(server, "t9")
    code, _, _ = call(server, "DELETE", "/qcache/dataset/t9")
    assert code == 200
    code, _, _ = query(server, "t9", {})
    assert code == 404


def test_get_on_q_endpoint_is_404(server):
    store(server, "t10")
    code, _, _ = call(server, "GET", "/qcache/dataset/t10/q")
    assert code == 404


def test_type_hints(server):
    # all-digit strings must stay strings with a hint (README.rst:350-376)
    body = "some_key,value\n123456,1\nabcdef,2\n"
    store(server, "th", body, headers={"X-QCache-types": "some_key=string"})
    code, out, _ = query(server, "th", {"where": ["==", "some_key", "'123456'"]})
    assert code == 200
    assert json.loads(out) == [{"some_key": "123456", "value": 1}]


def test_unknown_type_hint_400(server):
    code, _, _ = store(
        server, "th2", CSV_BODY, headers={"X-QCache-types": "foo=bignum"}
    )
    assert code == 400


def test_stand_in_columns(server):
    store(
        server,
        "si",
        CSV_BODY,
        headers={"X-QCache-stand-in-columns": "baz=10;qux=baz"},
    )
    code, out, _ = query(server, "si", {"select": ["foo", "baz", "qux"], "limit": 1, "order_by": ["foo"]})
    assert json.loads(out) == [{"foo": 1, "baz": 10, "qux": 10}]


def test_stand_in_at_query_time(server):
    store(server, "si2")
    code, out, _ = query(
        server,
        "si2",
        {"select": ["foo", "extra"], "limit": 1, "order_by": ["foo"]},
        headers={"X-QCache-stand-in-columns": "extra='abc'"},
    )
    assert json.loads(out) == [{"foo": 1, "extra": "abc"}]


def test_update_statement_roundtrip(server):
    store(server, "upd")
    code, body, _ = call(
        server,
        "POST",
        "/qcache/dataset/upd/q",
        json.dumps({"update": [["+", "bar", 5]], "where": ["==", "foo", 1]}).encode(),
        {"Accept": "application/json"},
    )
    assert code == 200
    _, out, _ = query(server, "upd", {"order_by": ["foo"]})
    assert [r["bar"] for r in json.loads(out)] == [15, 20, 30]


def test_gzip_roundtrip(server):
    body = gzip.compress(CSV_BODY.encode())
    code, _, _ = call(
        server,
        "POST",
        "/qcache/dataset/gz",
        body,
        {"Content-Type": "text/csv", "Content-Encoding": "gzip"},
    )
    assert code == 201
    qs = urllib.parse.quote(json.dumps({}))
    code, out, headers = call(
        server,
        "GET",
        f"/qcache/dataset/gz?q={qs}",
        None,
        {"Accept": "application/json", "Accept-Encoding": "gzip"},
    )
    assert code == 200
    assert headers.get("Content-Encoding") == "gzip"
    assert len(json.loads(gzip.decompress(out))) == 3


def test_statistics_reset_on_read(server):
    store(server, "st")
    query(server, "st", {})
    query(server, "nope_missing", {})
    code, body, _ = call(server, "GET", "/qcache/statistics")
    snap = json.loads(body)
    assert snap["hit_count"] >= 1
    assert snap["miss_count"] >= 1
    assert snap["store_count"] >= 1
    assert len(snap["query_durations"]) >= 1
    assert snap["statistics_duration"] >= 0.0
    # after a read everything resets: only the standing keys remain
    # (reference contract, test_api.py:338-340)
    code, body, _ = call(server, "GET", "/qcache/statistics")
    snap2 = json.loads(body)
    assert set(snap2.keys()) == {
        "dataset_count", "cache_size", "statistics_duration", "statistics_buffer_size",
    }


def test_result_cache_serves_and_invalidates(server):
    store(server, "rc", "foo,bar\n1,10\n2,20\n")
    q = {"select": [["sum", "bar"]]}
    _, out1, _ = query(server, "rc", q)
    _, out2, _ = query(server, "rc", q)  # served from the result cache
    assert json.loads(out1) == json.loads(out2) == [{"bar": 30}]
    # update bumps the dataset version -> cache must not serve stale
    call(
        server,
        "POST",
        "/qcache/dataset/rc/q",
        json.dumps({"update": [["bar", 0]], "where": ["==", "foo", 1]}).encode(),
        {"Accept": "application/json"},
    )
    _, out3, _ = query(server, "rc", q)
    assert json.loads(out3) == [{"bar": 20}]
    # replacing the dataset invalidates too
    store(server, "rc", "foo,bar\n9,5\n")
    _, out4, _ = query(server, "rc", q)
    assert json.loads(out4) == [{"bar": 5}]


def test_basic_auth(spark):
    from qcache_spark.server import make_server, serve_forever_in_thread

    # plaintext basic auth needs the explicit opt-in (the TLS-required
    # refusal is covered in test_tls_cli.py)
    srv = make_server(spark, basic_auth="admin:secret", allow_plaintext_auth=True)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, _, headers = call(base, "GET", "/qcache/status")
        assert code == 401
        assert "Basic" in headers.get("WWW-Authenticate", "")
        import base64

        good = {"Authorization": "Basic " + base64.b64encode(b"admin:secret").decode()}
        code, body, _ = call(base, "GET", "/qcache/status", None, good)
        assert code == 200 and body == b"OK"
        bad = {"Authorization": "Basic " + base64.b64encode(b"admin:wrong").decode()}
        assert call(base, "GET", "/qcache/status", None, bad)[0] == 401
    finally:
        srv.shutdown()


def test_replace_key(server):
    store(server, "rk")
    store(server, "rk", "foo,bar\n9,90\n")
    code, out, _ = query(server, "rk", {})
    assert json.loads(out) == [{"foo": 9, "bar": 90}]


def test_statistics_duration_is_time_since_reset(server):
    import time as _t

    # drain whatever the previous tests accumulated → resets the clock
    call(server, "GET", "/qcache/statistics")
    _t.sleep(0.3)
    _, body, _ = call(server, "GET", "/qcache/statistics")
    snap = json.loads(body)
    # reference semantics (qcache/statistics.py): duration covers the
    # whole window since the last reset, not the snapshot call itself
    assert snap["statistics_duration"] >= 0.25


def test_store_bucketed_header(spark):
    """X-QCache-bucket-by extension header: dataset lands in the
    bucketed layout and queries on the key stay exchange-free."""
    from qcache_spark.server import make_server, serve_forever_in_thread

    srv = make_server(spark)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        body = "k,v\n" + "\n".join(f"{i % 5},{i}" for i in range(200))
        code, _, _ = store(
            base, "bkt", body, headers={"X-QCache-bucket-by": "k:4"}
        )
        assert code == 201
        item = srv.RequestHandlerClass.catalog.get("bkt")
        assert item.bucket_by == (("k",), 4)
        plan = item.df.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        code, out, _ = query(
            base, "bkt", {"group_by": ["k"], "select": ["k", ["sum", "v"]],
                          "order_by": ["k"]}
        )
        assert code == 200
        rows = json.loads(out)
        assert len(rows) == 5 and rows[0]["k"] == 0
        # malformed bucket spec → 400
        code, _, _ = store(base, "bad", body, headers={"X-QCache-bucket-by": ":x"})
        assert code == 400
    finally:
        srv.shutdown()


def test_custom_url_prefix(spark):
    srv = make_server(spark, url_prefix="/api/v2")
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body, _ = call(base, "GET", "/api/v2/status")
        assert code == 200 and body == b"OK"
        # default prefix no longer routes
        code, _, _ = call(base, "GET", "/qcache/status")
        assert code == 404
        code, _, _ = call(
            base, "POST", "/api/v2/dataset/px", CSV_BODY.encode(),
            {"Content-Type": "text/csv"},
        )
        assert code == 201
        qs = urllib.parse.quote(json.dumps({"select": ["foo"]}))
        code, body, _ = call(
            base, "GET", f"/api/v2/dataset/px?q={qs}", None,
            {"Accept": "application/json"},
        )
        assert code == 200 and len(json.loads(body)) == 3
    finally:
        srv.shutdown()


def test_rollup_grammar_over_http(server):
    """Structured group_by travels the full HTTP path: JSON dict in
    the q param -> compile -> rollup rows (incl. the grand total) on
    the wire; malformed specs 400 like any grammar error."""
    store(server, "gs1", "g,v\na,1\na,2\nb,3\n")
    code, body, _ = query(
        server, "gs1",
        {"group_by": {"rollup": ["g"]}, "select": ["g", ["sum", "v"]]},
    )
    assert code == 200
    rows = {r["g"]: r["v"] for r in json.loads(body)}
    assert rows == {"a": 3, "b": 3, None: 6}
    code, body, _ = query(
        server, "gs1",
        {"group_by": {"bogus": ["g"]}, "select": ["g", ["sum", "v"]]},
    )
    assert code == 400


# -- pipeline-operator endpoint (server/pipeline.py) ------------------


def pipeline(base, key, spec, accept="application/json"):
    return call(
        base,
        "POST",
        f"/qcache/dataset/{key}/pipeline",
        json.dumps(spec).encode(),
        {"Accept": accept},
    )


def test_pipeline_dedup_count(server):
    store(server, "pl1", "a,b\n1,x\n1,x\n2,y\n3,y\n")
    code, body, _ = pipeline(server, "pl1", {"op": "dedup_count"})
    assert code == 200
    assert json.loads(body) == [
        {"n_rows": 4, "n_distinct": 3, "n_duplicates": 1}
    ]
    code, body, _ = pipeline(
        server, "pl1", {"op": "dedup_count", "params": {"columns": ["b"]}}
    )
    assert json.loads(body) == [
        {"n_rows": 4, "n_distinct": 2, "n_duplicates": 2}
    ]


def test_pipeline_cardinality(server):
    store(server, "pl2", "g,v\na,1\na,1\na,2\nb,9\n")
    code, body, _ = pipeline(
        server,
        "pl2",
        {"op": "cardinality", "params": {"column": "v", "exact": True}},
    )
    assert code == 200
    assert json.loads(body) == [{"n_distinct": 3}]
    code, body, _ = pipeline(
        server,
        "pl2",
        {
            "op": "cardinality",
            "params": {"column": "v", "group_by": ["g"], "exact": True},
        },
    )
    got = {r["g"]: r["n_distinct"] for r in json.loads(body)}
    assert got == {"a": 2, "b": 1}
    # HLL estimate at tiny cardinalities is exact
    code, body, _ = pipeline(
        server, "pl2", {"op": "cardinality", "params": {"column": "v"}}
    )
    assert json.loads(body) == [{"n_distinct": 3}]


def test_pipeline_split_counts(server):
    rows = "".join(f"{i},p\n" for i in range(40))
    store(server, "pl3", "id,x\n" + rows)
    code, body, _ = pipeline(
        server,
        "pl3",
        {
            "op": "split_counts",
            "params": {
                "key_column": "id",
                "weights": {"train": 8, "valid": 1, "test": 1},
            },
        },
    )
    assert code == 200
    got = {r["split"]: r["n_rows"] for r in json.loads(body)}
    assert set(got) <= {"train", "valid", "test"}
    assert sum(got.values()) == 40
    assert got["train"] > got.get("valid", 0)  # 8:1:1 weighting


def test_pipeline_quality_summary(server):
    body = json.dumps(
        [
            {"doc": 1, "text": "the quick brown fox jumps over the lazy dog"},
            {"doc": 2, "text": "1234 5678 !!!! ????"},
        ]
    )
    store(server, "pl4", body, ctype="application/json")
    code, out, _ = pipeline(
        server, "pl4", {"op": "quality_summary", "params": {"text_column": "text"}}
    )
    assert code == 200
    (row,) = json.loads(out)
    assert row["n_rows"] == 2
    assert 0.0 <= row["min_quality"] <= row["p50_quality"] <= row["max_quality"] <= 1.0
    assert row["max_quality"] > 0.5  # the clean English sentence


def test_pipeline_csv_negotiation(server):
    store(server, "pl5", "a\n1\n1\n")
    code, body, _ = pipeline(
        server, "pl5", {"op": "dedup_count"}, accept="text/csv"
    )
    assert code == 200
    lines = body.decode().splitlines()
    assert lines[0] == "n_rows,n_distinct,n_duplicates"
    assert lines[1] == "2,1,1"


def test_pipeline_errors(server):
    store(server, "pl6", "a,b\n1,x\n")
    # unknown dataset -> 404
    code, _, _ = pipeline(server, "nope_pipeline", {"op": "dedup_count"})
    assert code == 404
    # malformed JSON -> 400
    code, body, _ = call(
        server, "POST", "/qcache/dataset/pl6/pipeline", b"{not json",
        {"Accept": "application/json"},
    )
    assert code == 400
    # unknown op -> 400 listing supported ops
    code, body, _ = pipeline(server, "pl6", {"op": "drop_table"})
    assert code == 400 and b"dedup_count" in body
    # unknown column -> 400
    code, _, _ = pipeline(
        server, "pl6", {"op": "cardinality", "params": {"column": "zz"}}
    )
    assert code == 400
    # unknown param -> 400
    code, _, _ = pipeline(
        server, "pl6", {"op": "dedup_count", "params": {"colums": ["a"]}}
    )
    assert code == 400
    # bad weights -> 400, not a 500
    code, _, _ = pipeline(
        server,
        "pl6",
        {
            "op": "split_counts",
            "params": {"key_column": "a", "weights": {"train": -1}},
        },
    )
    assert code == 400
    # bad rsd -> 400
    code, _, _ = pipeline(
        server,
        "pl6",
        {"op": "cardinality", "params": {"column": "a", "rsd": 2.0}},
    )
    assert code == 400
    # non-object body -> 400
    code, _, _ = pipeline(server, "pl6", ["op", "dedup_count"])
    assert code == 400


def test_pipeline_top_values(server):
    store(server, "pl7", "k\n" + "a\n" * 5 + "b\n" * 3 + "c\n" + "d\n")
    code, body, _ = pipeline(
        server, "pl7", {"op": "top_values", "params": {"column": "k", "n": 2}}
    )
    assert code == 200
    assert json.loads(body) == [
        {"value": "a", "n_rows": 5},
        {"value": "b", "n_rows": 3},
    ]
    # deterministic tiebreak on the value itself: c before d at n=4
    code, body, _ = pipeline(
        server, "pl7", {"op": "top_values", "params": {"column": "k", "n": 4}}
    )
    assert [r["value"] for r in json.loads(body)] == ["a", "b", "c", "d"]
    # bad n -> 400
    code, _, _ = pipeline(
        server, "pl7", {"op": "top_values", "params": {"column": "k", "n": 0}}
    )
    assert code == 400


def test_pipeline_validation_hardening(server):
    store(server, "pl8", "a,b\n1,x\n2,y\n3,z\n")
    # non-string op (unhashable) -> 400, not a 500 TypeError
    code, _, _ = pipeline(server, "pl8", {"op": ["dedup_count"]})
    assert code == 400
    code, _, _ = pipeline(server, "pl8", {"op": {"x": 1}})
    assert code == 400
    # group_by: null / non-list -> 400, not a 500 TypeError
    for bad in (None, "a", 0, False):
        code, _, _ = pipeline(
            server,
            "pl8",
            {"op": "cardinality", "params": {"column": "b", "group_by": bad}},
        )
        assert code == 400, bad
    # grouped cardinality on a near-unique key stays bounded (cap), so
    # the summary contract holds even for pathological group keys
    code, body, _ = pipeline(
        server,
        "pl8",
        {
            "op": "cardinality",
            "params": {"column": "b", "group_by": ["a"], "exact": True},
        },
    )
    assert code == 200 and len(json.loads(body)) == 3  # <= _MAX_GROUPS


def test_explain_endpoint(server):
    store(server, "ex1", "a,b\n1,x\n2,y\n3,z\n")
    code, body, _ = call(
        server,
        "POST",
        "/qcache/dataset/ex1/explain",
        json.dumps({"where": [">", "a", 1], "select": ["a"]}).encode(),
    )
    assert code == 200
    plan = body.decode()
    assert "Filter" in plan or "LocalTableScan" in plan
    # update statements have no read plan -> 400
    code, _, _ = call(
        server,
        "POST",
        "/qcache/dataset/ex1/explain",
        json.dumps({"update": [["a", 1]]}).encode(),
    )
    assert code == 400
    # malformed JSON -> 400, unknown dataset -> 404
    code, _, _ = call(server, "POST", "/qcache/dataset/ex1/explain", b"{oops")
    assert code == 400
    code, _, _ = call(
        server, "POST", "/qcache/dataset/nope_ex/explain", b"{}"
    )
    assert code == 404


def test_pipeline_histogram(server):
    store(server, "pl9", "v\n0\n1\n2\n3\n4\n5\n6\n7\n8\n10\n")
    code, body, _ = pipeline(
        server, "pl9", {"op": "histogram", "params": {"column": "v", "bins": 2}}
    )
    assert code == 200
    rows = json.loads(body)
    # domain [0,10], width 5: [0,5) has 0..4 -> 5 rows, [5,10] has
    # 5..8 and the closed right edge 10 -> 5 rows
    assert [(r["bin_start"], r["bin_end"], r["n_rows"]) for r in rows] == [
        (0.0, 5.0, 5),
        (5.0, 10.0, 5),
    ]
    # explicit domain narrows the census to [0, 4]
    code, body, _ = pipeline(
        server,
        "pl9",
        {"op": "histogram",
         "params": {"column": "v", "bins": 2, "min": 0, "max": 4}},
    )
    rows = json.loads(body)
    assert sum(r["n_rows"] for r in rows) == 5
    # constant column: degenerate single-bin answer, not a crash
    store(server, "pl9c", "v\n7\n7\n7\n")
    code, body, _ = pipeline(
        server, "pl9c", {"op": "histogram", "params": {"column": "v"}}
    )
    assert code == 200
    assert json.loads(body) == [{"bin_start": 7.0, "bin_end": 7.0, "n_rows": 3}]
    # all-null numeric column: empty histogram, not a 500 (ADVICE r6 —
    # float(None) on the min/max agg)
    store(server, "pl9n", "k,v\na,\nb,\n", headers={"X-QCache-types": "v=float"})
    code, body, _ = pipeline(
        server, "pl9n", {"op": "histogram", "params": {"column": "v"}}
    )
    assert code == 200
    assert json.loads(body) == []
    # one explicit bound + all-null data: still empty, still 200
    code, body, _ = pipeline(
        server, "pl9n",
        {"op": "histogram", "params": {"column": "v", "min": 0}},
    )
    assert code == 200
    assert json.loads(body) == []
    # non-numeric column / bad bins -> 400
    store(server, "pl9s", "s\nx\ny\n")
    code, _, _ = pipeline(
        server, "pl9s", {"op": "histogram", "params": {"column": "s"}}
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "pl9", {"op": "histogram", "params": {"column": "v", "bins": 0}}
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "pl9",
        {"op": "histogram", "params": {"column": "v", "min": "zero"}},
    )
    assert code == 400


def test_pipeline_funnel(server):
    store(
        server,
        "pl10",
        "user_id,event_type,ts\n"
        "1,view,2024-01-01 00:00:00\n"
        "1,click,2024-01-01 00:01:00\n"
        "1,purchase,2024-01-01 00:02:00\n"
        "2,view,2024-01-01 00:00:00\n"
        "2,click,2024-01-01 00:01:00\n"
        # user 3 clicks BEFORE viewing: strict ordering drops the click
        "3,click,2024-01-01 00:00:00\n"
        "3,view,2024-01-01 00:01:00\n",
    )
    code, body, _ = pipeline(
        server,
        "pl10",
        {"op": "funnel", "params": {"steps": ["view", "click", "purchase"]}},
    )
    assert code == 200
    rows = {r["step"]: r["n_users"] for r in json.loads(body)}
    assert rows == {"view": 3, "click": 2, "purchase": 1}
    # duplicate steps / empty steps / unknown column -> 400
    for bad in (
        {"steps": ["view", "view"]},
        {"steps": []},
        {"steps": ["view"], "user_column": "nope"},
    ):
        code, _, _ = pipeline(server, "pl10", {"op": "funnel", "params": bad})
        assert code == 400


def test_pipeline_percentiles(server):
    store(server, "pl11", "g,v\n" + "".join(f"a,{i}\n" for i in range(1, 101)))
    code, body, _ = pipeline(
        server,
        "pl11",
        {"op": "percentiles",
         "params": {"column": "v", "probabilities": [0.5, 0.99]}},
    )
    assert code == 200
    row = json.loads(body)[0]
    assert row["p0_5"] == 50 and row["p0_99"] == 99
    # grouped form keeps the group key and flattens per-prob columns
    code, body, _ = pipeline(
        server,
        "pl11",
        {"op": "percentiles",
         "params": {"column": "v", "probabilities": [0.5], "group_by": ["g"]}},
    )
    assert json.loads(body) == [{"g": "a", "p0_5": 50}]
    # bad probability / non-numeric column -> 400
    code, _, _ = pipeline(
        server, "pl11",
        {"op": "percentiles", "params": {"column": "v", "probabilities": [1.5]}},
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "pl11",
        {"op": "percentiles", "params": {"column": "g"}},
    )
    assert code == 400


def test_operator_caches_endpoint(server, spark):
    """GET /qcache/operator-caches lists registered operator-lifetime
    cache families; DELETE releases them (the opcache.py workload-
    boundary API exposed without Python)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from qcache_spark import opcache

    frame = spark.range(100).withColumn("x", F.lit(1)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    frame.count()
    opcache.register(spark, "http.test", frame, budget=0)
    code, body, _ = call(server, "GET", "/qcache/operator-caches")
    assert code == 200
    snap = json.loads(body)
    assert "http.test" in snap["families"]
    assert snap["cached_bytes"] > 0
    code, body, _ = call(server, "DELETE", "/qcache/operator-caches")
    assert code == 200
    assert json.loads(body)["released"] >= 1
    code, body, _ = call(server, "GET", "/qcache/operator-caches")
    assert json.loads(body)["families"] == []


def test_store_empty_dataset(server):
    """Header-only CSV and [] JSON store as zero-row datasets and
    query back as [] — the reference's pandas engine accepts these;
    Spark's CANNOT_INFER_EMPTY_SCHEMA must not surface as a 500."""
    code, _, _ = store(server, "empty1", "a,b\n")
    assert code == 201
    code, body, _ = query(server, "empty1", {})
    assert code == 200 and json.loads(body) == []
    code, _, _ = store(
        server, "empty2", "[]", ctype="application/json"
    )
    assert code == 201
    code, body, _ = query(server, "empty2", {"where": ["==", "x", 1]})
    # unknown column on a zero-column dataset is still a 400, not a 500
    assert code == 400


EVENTS_CSV = (
    "event_id,user_id,event_type,ts,value\n"
    "1,1,view,2024-01-01 10:00:00,1.0\n"
    "2,1,click,2024-01-01 10:30:00,2.5\n"
    "3,1,purchase,2024-01-01 11:10:00,9.0\n"
    "4,2,view,2024-01-01 10:05:00,1.5\n"
    "5,2,click,2024-01-01 11:20:00,0.5\n"
    "6,3,view,2024-01-01 12:00:00,3.0\n"
)


def test_pipeline_ohlc(server):
    store(server, "plohlc", EVENTS_CSV)
    code, body, _ = pipeline(
        server, "plohlc",
        {"op": "ohlc", "params": {"group_by": "event_type",
                                  "bucket_seconds": 3600}},
    )
    assert code == 200
    rows = json.loads(body)
    view_10 = [r for r in rows if r["event_type"] == "view"
               and r["bucket_start_s"] == 1704103200][0]
    assert view_10["n"] == 2
    assert view_10["open"] == 1.0 and view_10["close"] == 1.5
    assert view_10["high"] == 1.5 and view_10["low"] == 1.0
    assert view_10["sum_value_e4"] == 25000
    # ungrouped form aggregates across types
    code, body, _ = pipeline(
        server, "plohlc",
        {"op": "ohlc", "params": {"group_by": None, "bucket_seconds": 86400}},
    )
    rows = json.loads(body)
    assert len(rows) == 1 and rows[0]["n"] == 6
    # bad bucket / unknown column -> 400
    code, _, _ = pipeline(
        server, "plohlc", {"op": "ohlc", "params": {"bucket_seconds": 0}}
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "plohlc", {"op": "ohlc", "params": {"value_column": "nope"}}
    )
    assert code == 400
    # non-numeric value column -> 400
    code, _, _ = pipeline(
        server, "plohlc", {"op": "ohlc", "params": {"value_column": "event_type"}}
    )
    assert code == 400


def test_pipeline_percentile_stats(server):
    store(server, "plpct", EVENTS_CSV)
    code, body, _ = pipeline(
        server, "plpct",
        {"op": "percentile_stats", "params": {"pct": 0.5}},
    )
    assert code == 200
    rows = {r["event_type"]: r for r in json.loads(body)}
    # view values: 1.0, 1.5, 3.0 -> k=2, p50 = 1.5
    assert rows["view"]["n"] == 3 and rows["view"]["k"] == 2
    assert rows["view"]["p_value"] == 1.5 and rows["view"]["n_tail"] == 1
    code, _, _ = pipeline(
        server, "plpct", {"op": "percentile_stats", "params": {"pct": 1.5}}
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "plpct",
        {"op": "percentile_stats", "params": {"value_column": "event_type"}},
    )
    assert code == 400


def test_max_result_rows_cap(spark):
    """VERDICT r7 missing #1: with max_result_rows set, an uncapped
    query over a bigger-than-cap dataset gets a 413 with the documented
    error body instead of a driver-side full materialization; a
    windowed query under the cap still succeeds; the default (0) keeps
    the reference's full-table contract."""
    srv = make_server(spark, max_cache_size=1 << 30, max_result_rows=2)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, _, _ = store(base, "capped")  # 3 rows > cap of 2
        assert code == 201
        code, body, _ = query(base, "capped", {})
        assert code == 413
        assert b"materialization cap" in body
        # a sliced page under the cap works, with the true unsliced length
        code, body, headers = query(base, "capped", {"limit": 2})
        assert code == 200
        assert len(json.loads(body)) == 2
        assert headers["X-QCache-unsliced-length"] == "3"
        # filters that shrink the result under the cap also pass
        code, body, _ = query(base, "capped", {"where": [">", "bar", 15]})
        assert code == 200 and len(json.loads(body)) == 2
    finally:
        srv.shutdown()


def test_streaming_csv_egress_bypasses_cap(spark):
    """VERDICT r8 missing #2: an over-cap result with the streaming
    opt-in (X-QCache-Stream: csv) arrives complete as chunked CSV
    with bounded driver memory; without the opt-in the 413 contract
    is unchanged; a non-CSV Accept with the opt-in is 406."""
    srv = make_server(spark, max_cache_size=1 << 30, max_result_rows=2)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, _, _ = store(base, "bigexp")  # 3 rows > cap of 2
        assert code == 201
        # default: still refused
        code, body, _ = query(base, "bigexp", {})
        assert code == 413
        # opt-in: full table streams through the cap
        code, body, headers = query(
            base, "bigexp", {}, accept="text/csv",
            headers={"X-QCache-Stream": "csv"},
        )
        assert code == 200
        assert headers.get("Transfer-Encoding") == "chunked"
        assert "Content-Length" not in headers
        lines = body.decode().strip().splitlines()
        assert lines[0].split(",")[0] == "foo"
        assert len(lines) == 1 + 3  # header + ALL rows, not the cap
        # ordering/filters still apply on the streamed plan
        code, body, _ = query(
            base, "bigexp", {"where": [">", "bar", 15]},
            accept="text/csv", headers={"X-QCache-Stream": "csv"},
        )
        assert code == 200
        assert len(body.decode().strip().splitlines()) == 1 + 2
        # JSON accept cannot stream: explicit 406, not silent fallback
        code, body, _ = query(
            base, "bigexp", {}, headers={"X-QCache-Stream": "csv"}
        )
        assert code == 406
        # zero-row streamed result still carries the CSV header line
        code, body, _ = query(
            base, "bigexp", {"where": [">", "bar", 10_000]},
            accept="text/csv", headers={"X-QCache-Stream": "csv"},
        )
        assert code == 200
        assert body.decode().strip().splitlines()[0].startswith("foo")
    finally:
        srv.shutdown()


def test_streaming_csv_matches_monolithic_rendering(spark):
    """Chunk boundaries must not change value rendering: a column
    whose nulls sit in a later batch renders ints identically in
    every batch (object-dtype construction, not per-batch inference)."""
    from qcache_spark.sources.ingest import iter_csv_chunks

    rows = [(i, i * 10 if i != 7 else None) for i in range(9)]
    df = spark.createDataFrame(rows, ["k", "v"]).orderBy("k")
    streamed = b"".join(iter_csv_chunks(df, batch_rows=3)).decode()
    lines = streamed.strip().splitlines()
    assert lines[0] == "k,v"
    assert lines[1] == "0,0"       # int rendering in the null-free batch
    assert lines[8] == "7,"        # null renders empty
    assert lines[9] == "8,80"      # batch AFTER the null: still int
    assert len(lines) == 10


def test_pipeline_percentile_stats_null_groups(server):
    """ADVICE r7: nulls in group_column must not 500 the op (null-group
    rows are documented as excluded, '' parses as null on ingest)."""
    csv = (
        "event_id,user_id,event_type,ts,value\n"
        "1,1,view,2024-01-01 10:00:00,1.0\n"
        "2,1,,2024-01-01 10:30:00,2.5\n"
        "3,2,view,2024-01-01 11:10:00,3.0\n"
        "4,2,,2024-01-01 11:20:00,4.0\n"
    )
    store(server, "plpctnull", csv)
    code, body, _ = pipeline(
        server, "plpctnull",
        {"op": "percentile_stats", "params": {"pct": 1.0}},
    )
    assert code == 200
    rows = {r["event_type"]: r for r in json.loads(body)}
    assert set(rows) == {"view"}  # null group excluded, not crashed
    assert rows["view"]["n"] == 2 and rows["view"]["p_value"] == 3.0
    # degenerate: EVERY group null -> empty result, still 200
    csv_all_null = (
        "event_id,user_id,event_type,ts,value\n"
        "1,1,,2024-01-01 10:00:00,1.0\n"
        "2,1,,2024-01-01 10:30:00,2.5\n"
    )
    store(server, "plpctnull2", csv_all_null)
    code, body, _ = pipeline(
        server, "plpctnull2", {"op": "percentile_stats", "params": {}}
    )
    assert code == 200
    assert json.loads(body) == []


def test_pipeline_transitions(server):
    store(server, "pltr", EVENTS_CSV)
    code, body, _ = pipeline(server, "pltr", {"op": "transitions"})
    assert code == 200
    rows = {(r["from_type"], r["to_type"]): r for r in json.loads(body)}
    # u1: view->click->purchase; u2: view->click; u3: no transition
    assert rows[("view", "click")]["n_transitions"] == 2
    assert rows[("view", "click")]["n_users"] == 2
    assert rows[("click", "purchase")]["n_transitions"] == 1
    assert ("purchase", "view") not in rows
    code, _, _ = pipeline(
        server, "pltr", {"op": "transitions", "params": {"user_column": "nope"}}
    )
    assert code == 400


def test_pipeline_snapshot_diff(server):
    store(server, "snap_old", "id,price,qty\n1,10,5\n2,20,3\n3,30,1\n")
    store(server, "snap_new", "id,price,qty\n2,20,4\n3,30,1\n4,40,2\n")
    code, body, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff", "params": {"right": "snap_new", "keys": ["id"]}},
    )
    assert code == 200
    m = {r["metric"]: r["n_rows"] for r in json.loads(body)}
    assert m["added"] == 1      # id 4
    assert m["removed"] == 1    # id 1
    assert m["changed"] == 1    # id 2 (qty 3 -> 4)
    assert m["unchanged"] == 1  # id 3
    assert m["col:qty"] == 1 and m["col:price"] == 0
    # compare_columns restricts the census
    code, body, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff",
         "params": {"right": "snap_new", "keys": ["id"],
                    "compare_columns": ["price"]}},
    )
    m = {r["metric"]: r["n_rows"] for r in json.loads(body)}
    assert m["changed"] == 0 and m["unchanged"] == 2 and "col:qty" not in m
    # unknown right dataset -> 404; bad keys -> 400
    code, body, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff", "params": {"right": "nope", "keys": ["id"]}},
    )
    assert code == 404 and json.loads(body) == {"error": "Unknown dataset: nope"}
    code, _, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff", "params": {"right": "snap_new", "keys": []}},
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff",
         "params": {"right": "snap_new", "keys": ["id"],
                    "compare_columns": ["id"]}},
    )
    assert code == 400
    code, _, _ = pipeline(
        server, "snap_old",
        {"op": "snapshot_diff", "params": {"keys": ["id"]}},
    )
    assert code == 400


def test_pipeline_check_constraints(server):
    store(server, "plq", "id,v\n1,10\n2,20\n3,\n")
    code, body, _ = pipeline(
        server,
        "plq",
        {"op": "check_constraints", "params": {"constraints": [
            {"name": "id_ok", "kind": "completeness", "col": "id",
             "min_rate": 1.0},
            {"name": "v_ok", "kind": "completeness", "col": "v",
             "min_rate": 0.9},
            {"name": "rows", "kind": "row_count", "op": ">=", "bound": 3},
        ]}},
    )
    assert code == 200
    rows = {r["check_name"]: r for r in json.loads(body)}
    assert rows["id_ok"]["passed"] == 1
    # 2/3 non-null -> 666666 < 900000
    assert rows["v_ok"]["metric_e6"] == 666666
    assert rows["v_ok"]["passed"] == 0
    assert rows["rows"]["passed"] == 1
    # 400 paths: bad spec, unknown column, unknown param
    code, body, _ = pipeline(
        server, "plq", {"op": "check_constraints", "params": {}}
    )
    assert code == 400
    code, body, _ = pipeline(
        server,
        "plq",
        {"op": "check_constraints", "params": {"constraints": [
            {"name": "x", "kind": "completeness", "col": "nope",
             "min_rate": 1.0}]}},
    )
    assert code == 400
    code, body, _ = pipeline(
        server,
        "plq",
        {"op": "check_constraints", "params": {"constraints": [
            {"name": "x", "kind": "wat", "col": "id"}]}},
    )
    assert code == 400


def test_pipeline_drift(server):
    store(server, "drift_old", "lang,n\nen,50\nen,150\nde,250\n")
    store(server, "drift_new", "lang,n\nen,50\nfr,150\nfr,250\n")
    code, body, _ = pipeline(
        server,
        "drift_old",
        {"op": "drift", "params": {
            "right": "drift_new",
            "categorical": ["lang"],
            "numeric_bins": {"n": [100, 200]},
        }},
    )
    assert code == 200
    rows = {(r["column"], r["bucket"]): r for r in json.loads(body)}
    assert rows[("lang", "fr")]["base_n"] == 0
    assert rows[("lang", "fr")]["curr_n"] == 2
    assert rows[("n", "[100,200)")]["base_n"] == 1
    assert all(r["psi_e6"] >= 0 for r in rows.values())
    # 400: missing right, unknown right -> 404, unknown column
    code, _, _ = pipeline(server, "drift_old", {"op": "drift", "params": {}})
    assert code == 400
    code, _, _ = pipeline(
        server, "drift_old",
        {"op": "drift", "params": {"right": "no_such", "categorical": ["lang"]}},
    )
    assert code == 404
    code, _, _ = pipeline(
        server, "drift_old",
        {"op": "drift", "params": {"right": "drift_new",
                                   "categorical": ["nope"]}},
    )
    assert code == 400
    # ADVICE r11: explicit falsy non-list categorical (JSON null / 0
    # / "") must be a 400 on the isinstance guard, not a 500 from
    # list(None) deep inside population_stability
    for bad in (None, 0, ""):
        code, _, _ = pipeline(
            server, "drift_old",
            {"op": "drift", "params": {"right": "drift_new",
                                       "categorical": bad}},
        )
        # None/0/"" normalize to [] -> "nothing to track" ValueError
        # -> 400 either way; the point is it is never a 500
        assert code == 400
    code, _, _ = pipeline(
        server, "drift_old",
        {"op": "drift", "params": {"right": "drift_new",
                                   "categorical": {"lang": 1}}},
    )
    assert code == 400


def test_pipeline_drift_high_cardinality_400(server):
    """ADVICE r11: PSI rows are ADDITIVE per column, so silently
    truncating at _MAX_GROUPS would under-report drift. Over-cap
    bucket counts must refuse with a 400 naming the fix."""
    csv = "k\n" + "\n".join(f"v{i}" for i in range(1100))
    store(server, "drift_hc_a", csv)
    store(server, "drift_hc_b", csv)
    code, body, _ = pipeline(
        server, "drift_hc_a",
        {"op": "drift", "params": {"right": "drift_hc_b",
                                   "categorical": ["k"]}},
    )
    assert code == 400
    assert b"high-cardinality" in body


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_bad_content_length_is_400_and_closes(server, length):
    """A negative or non-numeric Content-Length is bad client input:
    400 before any body read (read(-1) would block until the client
    hangs up), and the connection closes so the unread body is never
    parsed as a next request."""
    import socket

    host, port = server[len("http://"):].split(":")
    with socket.create_connection((host, int(port)), timeout=10) as sock:
        sock.sendall(
            b"POST /qcache/dataset/bad_len HTTP/1.1\r\n"
            b"Host: x\r\nContent-Type: text/csv\r\n"
            b"Content-Length: " + length.encode() + b"\r\n\r\n"
            b"foo,bar\n1,2\n"
        )
        data = b""
        while True:
            chunk = sock.recv(4096)
            if not chunk:  # server closed the connection
                break
            data += chunk
    assert data.startswith(b"HTTP/1.1 400"), data[:200]
    assert b"Content-Length" in data
    code, _, _ = call(server, "GET", "/qcache/dataset/bad_len?q=%7B%7D")
    assert code == 404


# ------------------------------------------- driver-resident datasets

DIFF_CSV = """id,name,grade,score,flag,ratio
1,ann,a,10.5,True,0.25
2,bob,b,,False,
3,,a,7.25,True,1.5
4,dora,c,-2.5,False,0.5
5,ed,b,,True,-0.75
6,flo,a,3.0,False,2.0
"""

# Every multi-row query is ordered and every float is exact in binary,
# so the two executors must agree byte for byte.
DIFF_BATTERY = [
    {"order_by": ["id"]},
    {"where": ["isnull", "score"], "select": ["id", "score"], "order_by": ["id"]},
    {"where": ["!=", "score", 7.25], "select": ["id", "score", "ratio"], "order_by": ["id"]},
    {"where": ["==", "grade", "'a'"], "select": ["id", "grade"], "order_by": ["-id"]},
    {"where": ["&", "flag", [">", "ratio", 0]], "select": ["id", "flag"], "order_by": ["id"]},
    {"where": ["in", "name", ["ann", "ed", "zed"]], "select": ["id"], "order_by": ["id"]},
    {"where": ["like", "name", "'%o%'"], "select": ["name"], "order_by": ["name"]},
    {"select": ["id", ["=", "twice", ["*", "score", 2]], ["=", "up", ["upper", "name"]],
                ["=", "q", ["/", "id", "ratio"]]], "order_by": ["id"]},
    {"group_by": ["grade"], "select": ["grade", ["sum", "score"], ["count", "name"],
                                      ["max", "id"], ["mean", "ratio"]],
     "order_by": ["grade"]},
    # min/max of strings skip the nulls; over only nulls they are null
    {"select": [["sum", "id"], ["max", "score"], ["min", "name"]]},
    {"group_by": ["grade"], "select": ["grade", ["max", "name"]], "order_by": ["grade"]},
    {"where": ["isnull", "name"], "select": [["min", "name"], ["count", "id"]]},
    {"select": [["count"]]},
    {"where": ["in", "id", {"where": [">", "score", 5], "select": ["id"]}],
     "select": ["id", "name"], "order_by": ["id"]},
    {"where": ["|", ["in", "id", {"where": ["<", "ratio", 0], "select": ["id"]}],
               ["==", "name", "'ann'"]], "select": ["id"], "order_by": ["id"]},
    {"distinct": ["grade", "flag"], "select": ["grade", "flag"], "order_by": ["grade", "flag"]},
    {"select": ["id", "name"], "order_by": ["name", "-id"], "offset": 1, "limit": 3},
    {"from": {"group_by": ["grade"], "select": ["grade", ["count", "id"]]},
     "where": [">", "id", 1], "select": ["grade", "id"], "order_by": ["grade"]},
    {"where": [">", "id", 100], "select": ["id", "name"]},
    {"where": [">", "id", 100], "select": ["id"], "limit": 2},
    # a quoted number reads as the number where one is needed
    {"where": [">", "score", "'5.5'"], "select": ["id", ["=", "next", ["+", "id", "'1'"]]],
     "order_by": ["id"]},
]


def _local_counts(base):
    snap = json.loads(call(base, "GET", "/qcache/statistics")[1])
    return snap.get("local_query_count", 0), snap.get("local_fallback_count", 0)


def _same_answers(base, key_r, key_p, queries):
    """Each query answers the resident key `key_r` and the persisted
    key `key_p` with the same body and unsliced length, in JSON and
    CSV."""
    for q in queries:
        for accept in ("application/json", "text/csv"):
            code_r, body_r, head_r = query(base, key_r, q, accept)
            code_p, body_p, head_p = query(base, key_p, q, accept)
            assert code_r == code_p == 200, (q, body_r, body_p)
            assert body_r == body_p, (q, accept, body_r, body_p)
            assert (head_r["X-QCache-unsliced-length"]
                    == head_p["X-QCache-unsliced-length"]), q


@pytest.fixture
def resident_server(spark):
    srv = make_server(spark, max_cache_size=1 << 30)
    serve_forever_in_thread(srv)
    yield f"http://127.0.0.1:{srv.server_address[1]}", srv.RequestHandlerClass.catalog
    srv.shutdown()


def test_resident_and_persisted_datasets_answer_identically(resident_server, monkeypatch):
    """The same queries on a driver-resident key (local executor) and
    on a Spark-persisted key (threshold patched to 0, Catalyst) give
    byte-identical bodies and unsliced lengths, in JSON and CSV."""
    from qcache_spark import fastpath

    base, catalog = resident_server
    types = {"X-QCache-types": "grade=enum"}
    assert store(base, "resident", DIFF_CSV, headers=types)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "persisted", DIFF_CSV, headers=types)[0] == 201
    assert catalog.get("resident").table is not None
    assert catalog.get("persisted").table is None
    _local_counts(base)
    _same_answers(base, "resident", "persisted", DIFF_BATTERY)
    assert _local_counts(base) == (2 * len(DIFF_BATTERY), 0)


DIFF_UPDATES = [
    {"update": [["name", "'zed'"]], "where": ["==", "grade", "'a'"]},
    {"update": [["score", 1.5], ["ratio", 4]], "where": ["isnull", "score"]},
    {"update": [["flag", False]], "where": ["in", "name", ["'bob'", "'ed'"]]},
    {"update": [["id", 40]], "where": ["<", "ratio", 0.5]},
    {"update": [["name", "'x'"]], "where": ["!=", "name", "'ann'"]},
    {"update": [["score", 0]], "where": [">=", "id", 3.5]},
    {"update": [["grade", "'b'"]], "where": ["in", "id", []]},
    # self-referring: outside the Arrow subset, so Spark applies it
    {"update": [["+", "id", 100]], "where": ["==", "flag", True]},
]


def _value_types(schema):
    """A schema with each dictionary type replaced by its value type."""
    import pyarrow as pa

    return [(f.name, f.type.value_type if pa.types.is_dictionary(f.type) else f.type)
            for f in schema]


def test_resident_and_persisted_updates_agree(resident_server, monkeypatch):
    """Updates applied on the driver to a resident key leave the same
    table as Spark leaves on a persisted key; the key stays resident
    with its stored column types."""
    from qcache_spark import fastpath

    base, catalog = resident_server
    types = {"X-QCache-types": "grade=enum"}
    assert store(base, "resident_u", DIFF_CSV, headers=types)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "persisted_u", DIFF_CSV, headers=types)[0] == 201
    schema = catalog.get("resident_u").table.schema
    _local_counts(base)
    for upd in DIFF_UPDATES:
        for key in ("resident_u", "persisted_u"):
            code, body, _ = call(base, "POST", f"/qcache/dataset/{key}/q",
                                 json.dumps(upd).encode(), {"Accept": "application/json"})
            assert code == 200, (key, upd, body)
        for accept in ("application/json", "text/csv"):
            _, body_r, _ = query(base, "resident_u", {"order_by": ["id"]}, accept)
            _, body_p, _ = query(base, "persisted_u", {"order_by": ["id"]}, accept)
            assert body_r == body_p, (upd, body_r, body_p)
    item = catalog.get("resident_u")
    # an assigned column is stored again by the size rule: `name`, all
    # 'x' now, may be a dictionary where it was plain
    assert item.table is not None and _value_types(item.table.schema) == _value_types(schema)
    assert item.byte_size == item.table.nbytes + 100
    # 7 updates on the driver and 1 on Spark; 2 reads per update
    n = len(DIFF_UPDATES)
    assert _local_counts(base) == (n - 1 + 2 * n, 1)


def test_local_fallback_is_counted(resident_server):
    """A query the local executor declines (a global aggregate over no
    rows) is answered by Catalyst and counted as a fallback."""
    base, _ = resident_server
    store(base, "fb")
    _local_counts(base)
    code, body, _ = query(base, "fb", {"where": [">", "foo", 9], "select": [["sum", "bar"]]})
    assert code == 200 and json.loads(body) == [{"bar": None}]
    code, body, _ = query(base, "fb", {"select": [["sum", "bar"]]})
    assert code == 200 and json.loads(body) == [{"bar": 60}]
    assert _local_counts(base) == (1, 1)


def test_resident_store_rules(resident_server):
    """Only a non-empty, unbucketed store of int64/float64/bool/string
    columns is kept driver-resident."""
    base, catalog = resident_server
    store(base, "r_ok", "a,b,c,d\n1,1.5,x,True\n")
    store(base, "r_empty", "a,b\n")
    store(base, "r_json_mixed", json.dumps([{"a": 1}, {"a": "x"}]), "application/json")
    store(base, "r_bucketed", headers={"X-QCache-bucket-by": "foo:2"})
    store(base, "r_stand_in", headers={"X-QCache-stand-in-columns": "baz=10"})
    table = catalog.get("r_ok").table
    assert table is not None
    assert [str(t) for t in table.schema.types] == ["int64", "double", "string", "bool"]
    assert catalog.get("r_ok").byte_size == table.nbytes + 100
    for key in ("r_empty", "r_json_mixed", "r_bucketed", "r_stand_in"):
        assert catalog.get(key).table is None, key
    # a header-only body is stored in Spark, its columns as strings
    assert catalog.get("r_empty").df.dtypes == [("a", "string"), ("b", "string")]
    code, body, _ = query(base, "r_empty", {}, accept="text/csv")
    assert code == 200 and body.decode().splitlines() == ["a,b"]
    assert json.loads(query(base, "r_empty", {})[1]) == []


def _job_mark(spark, group):
    """The id of a marker job run in job group `group`: every job the
    server runs later has a larger id."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_resident_store_and_reads_run_no_spark_job(resident_server, spark):
    """A small store, the four small-table read shapes (== +
    distinct + limit, group_by aggregate, order_by + offset/limit,
    in-list) and a literal update run no Spark job; the update keeps
    the dataset resident with its Arrow schema and size formula."""
    import numpy as np

    base, catalog = resident_server
    rng = np.random.default_rng(7)
    n = 500
    rows = ["text1,classifier,text2,text3,some_number,float1,float2,float3,path"]
    for i in range(n):
        rows.append(
            f"t{rng.integers(10)},cls_{rng.integers(10)},w{i},v{i % 37},"
            f"{rng.integers(40)},{rng.random() * 1000:.6f},{rng.random() * 1000:.6f},"
            f"{rng.random() * 1000:.6f},/data/part-{rng.integers(10000)}"
        )
    shapes = [
        {"where": ["&", ["==", "classifier", "'cls_3'"], ["<", "float1", 700.5]],
         "distinct": ["text1", "classifier", "some_number"],
         "select": ["text1", "classifier", "some_number"], "limit": 50},
        {"where": [">", "float2", 100.25], "group_by": ["text1"],
         "select": ["text1", ["sum", "some_number"], ["max", "float3"], ["count", "path"]]},
        {"where": ["<", "float3", 900.5], "select": ["text2", "some_number", "float1"],
         "order_by": ["-float1", "text2"], "offset": 7, "limit": 20},
        {"where": ["&", ["in", "some_number", [1, 5, 9, 20, 33]], [">", "float2", 50.5]],
         "select": ["classifier", "some_number", "float2", "text3"],
         "order_by": ["float2", "text3"], "limit": 100},
    ]
    before = max(_job_mark(spark, "resident-before"))
    assert store(base, "mb", "\n".join(rows) + "\n")[0] == 201
    for q in shapes:
        code, body, headers = query(base, "mb", q)
        assert code == 200, body
        assert int(headers["X-QCache-unsliced-length"]) >= len(json.loads(body)) > 0
    item = catalog.get("mb")
    schema = item.table.schema
    code, _, _ = call(
        base, "POST", "/qcache/dataset/mb/q",
        json.dumps({"update": [["some_number", 99]], "where": ["==", "text1", "'t3'"]}).encode(),
        {"Accept": "application/json"},
    )
    assert code == 200
    after = min(_job_mark(spark, "resident-after"))
    assert after - before - 1 == 0

    updated = catalog.get("mb")
    assert updated.version != item.version
    assert updated.table is not None and updated.table.schema == schema
    assert updated.byte_size == updated.table.nbytes + 100
    _, body, _ = query(base, "mb", {"where": ["==", "text1", "'t3'"],
                                    "select": [["min", "some_number"]]})
    assert json.loads(body) == [{"some_number": 99}]


def _mb_csv(n, seed):
    """A memory_benchmark-shaped CSV: 10-value text1 and classifier, a
    37-value text3, a 40-value some_number, a unique text2 and text8,
    floats, a path and a nullable 5-value note."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = ["text1,classifier,text2,text3,text8,some_number,float1,float2,float3,note,path"]
    for i in range(n):
        note = f"n{rng.integers(5)}" if rng.random() < 0.7 else ""
        rows.append(
            f"t{rng.integers(10)},cls_{rng.integers(10)},w{i},v{i % 37},x{i},"
            f"{rng.integers(40)},{rng.random() * 1000:.6f},{rng.random() * 1000:.6f},"
            f"{rng.random() * 1000:.6f},{note},/data/part-{rng.integers(10000)}"
        )
    return "\n".join(rows) + "\n"


# The four small-table read shapes, each ordered so that the two
# executors must agree byte for byte, an ordered select-all and an
# isnull filter on the nullable dictionary column.
ENCODED_BATTERY = [
    {"where": ["&", ["==", "classifier", "'cls_3'"], ["<", "float1", 700.5]],
     "distinct": ["text1", "classifier", "some_number"],
     "select": ["text1", "classifier", "some_number"],
     "order_by": ["text1", "some_number"], "limit": 50},
    {"where": [">", "float2", 100.25], "group_by": ["text1"],
     "select": ["text1", ["sum", "some_number"], ["max", "float3"], ["count", "note"]],
     "order_by": ["text1"]},
    {"where": ["<", "float3", 900.5], "select": ["text2", "some_number", "float1"],
     "order_by": ["-float1", "text2"], "offset": 7, "limit": 20},
    {"where": ["&", ["in", "some_number", [1, 5, 9, 20, 33]], [">", "float2", 50.5]],
     "select": ["classifier", "some_number", "float2", "text3"],
     "order_by": ["float2", "text3"], "limit": 100},
    {"order_by": ["text2"]},
    {"where": ["isnull", "note"], "select": ["text2", "note", "some_number"],
     "order_by": ["-text2"], "limit": 30},
]



def test_resident_columns_follow_the_size_rule():
    """A string or int64 column is a dictionary with the narrowest
    index when that is smaller than the plain array; float, bool and
    unique columns stay plain; decoded, the columns are the frame's."""
    import pandas as pd
    import pyarrow as pa

    from qcache_spark.fastpath import resident_table
    from qcache_spark.plans import arrow

    n = 1000
    pdf = pd.DataFrame({
        "k128": [f"v{i % 128}" for i in range(n)],
        "k129": [f"v{i % 129}" for i in range(n)],
        "unique": [f"u{i}" for i in range(n)],
        "one_repeat": [f"long-value-{min(i, n - 2)}" for i in range(n)],
        "ints": [i % 3 for i in range(n)],
        "unique_ints": list(range(n)),
        "f": [float(i % 3) for i in range(n)],
        "b": [i % 2 == 0 for i in range(n)],
        "nulls": ["x" if i % 2 else None for i in range(n)],
    })
    table = resident_table(pa.Table.from_pandas(pdf, preserve_index=False))
    dictionary = pa.dictionary
    assert dict(zip(table.column_names, table.schema.types)) == {
        "k128": dictionary(pa.int8(), pa.string()),
        "k129": dictionary(pa.int16(), pa.string()),
        "unique": pa.string(),
        "one_repeat": pa.string(),
        "ints": dictionary(pa.int8(), pa.int64()),
        "unique_ints": pa.int64(),
        "f": pa.float64(),
        "b": pa.bool_(),
        "nulls": dictionary(pa.int8(), pa.string()),
    }
    assert table.column("nulls").null_count == n // 2
    for name in ("k128", "k129", "unique", "one_repeat", "ints", "unique_ints", "nulls"):
        plain = pa.array(pdf[name], from_pandas=True)
        encoded = plain.dictionary_encode()
        index = pa.int8() if len(encoded.dictionary) <= 128 else pa.int16()
        encoded = pa.DictionaryArray.from_arrays(encoded.indices.cast(index), encoded.dictionary)
        smaller = encoded if encoded.nbytes < plain.nbytes else plain
        assert table.column(name).nbytes == smaller.nbytes, name
    assert all(c.num_chunks == 1 for c in table.columns)
    decoded = pa.table([arrow.plain(c) for c in table.columns], names=table.column_names)
    assert decoded.equals(pa.Table.from_pandas(pdf, preserve_index=False))


def test_encoded_resident_table_answers_like_persisted(resident_server, monkeypatch, spark):
    """A memory_benchmark table keeps its repeated columns as
    dictionaries, is sized by them, and answers reads, a declined
    query and SQL exactly as the same CSV stored persisted."""
    import pyarrow as pa

    from qcache_spark import fastpath
    from qcache_spark.sources import parse_csv

    base, catalog = resident_server
    csv = _mb_csv(2000, 11)
    assert store(base, "enc", csv)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "enc_p", csv)[0] == 201
    item = catalog.get("enc")
    assert catalog.get("enc_p").table is None
    types = dict(zip(item.table.column_names, item.table.schema.types))
    for name in ("text1", "classifier", "text3", "some_number", "note"):
        assert pa.types.is_dictionary(types[name]), name
    assert types["text2"] == types["text8"] == pa.string()
    assert types["float1"] == pa.float64()
    plain = parse_csv(csv.encode())[0]
    assert item.byte_size == item.table.nbytes + 100 < plain.nbytes + 100

    _local_counts(base)
    _same_answers(base, "enc", "enc_p", ENCODED_BATTERY)
    assert _local_counts(base) == (2 * len(ENCODED_BATTERY), 0)

    # declined by the local executor: Catalyst reads the Arrow table
    declined = {"where": [">", "some_number", 100],
                "select": [["sum", "some_number"], ["max", "text1"]]}
    _same_answers(base, "enc", "enc_p", [declined])
    assert _local_counts(base) == (0, 2)
    assert item.frame(spark).dtypes == catalog.get("enc_p").df.dtypes
    code, body, _ = sql_post(
        base, "SELECT typeof(text1) AS t, typeof(some_number) AS n, count(*) AS c "
              "FROM enc GROUP BY 1, 2")
    assert code == 200, body
    assert json.loads(body) == [{"t": "string", "n": "bigint", "c": 2000}]


def test_encoded_updates_run_no_spark_job_and_match_persisted(resident_server, monkeypatch,
                                                              spark):
    """The cache_aside update, and literal updates that assign or
    filter on dictionary columns, run on the driver with no Spark job
    and leave the same table as Spark leaves on a persisted key."""
    import pyarrow as pa

    from qcache_spark import fastpath

    base, catalog = resident_server
    csv = _mb_csv(2000, 12)
    assert store(base, "enc_u", csv)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "enc_up", csv)[0] == 201
    updates = [
        {"update": [["text8", "'tag'"]], "where": ["==", "classifier", "'cls_3'"]},
        {"update": [["classifier", "'cls_new'"], ["some_number", 99]],
         "where": ["in", "text1", ["'t1'", "'t2'"]]},
        {"update": [["note", "'n9'"]], "where": ["<", "some_number", 5]},
        {"update": [["float1", 0.5]], "where": ["isnull", "note"]},
    ]
    _local_counts(base)
    before = max(_job_mark(spark, "encoded-before"))
    for upd in updates:
        code, body, _ = call(base, "POST", "/qcache/dataset/enc_u/q",
                             json.dumps(upd).encode(), {"Accept": "application/json"})
        assert code == 200, (upd, body)
    after = min(_job_mark(spark, "encoded-after"))
    assert after - before - 1 == 0
    assert _local_counts(base) == (len(updates), 0)
    for upd in updates:
        code, body, _ = call(base, "POST", "/qcache/dataset/enc_up/q",
                             json.dumps(upd).encode(), {"Accept": "application/json"})
        assert code == 200, (upd, body)
    _same_answers(base, "enc_u", "enc_up", ENCODED_BATTERY)
    item = catalog.get("enc_u")
    assert item.byte_size == item.table.nbytes + 100
    for name in ("text1", "classifier", "some_number", "note"):
        assert pa.types.is_dictionary(item.table.schema.field(name).type), name


@pytest.mark.parametrize(
    "ctype,body",
    [("text/csv", b"a,b\n1,\xff\n"), ("application/json", b'[{"a": "\xff"}]'),
     # pyarrow.csv reads a bad cell as a binary column: still a 400
     ("text/csv", b"a,\xffb\n1,2\n"), ("text/csv", b"a,b\n1,2\n3,4\xff\n5,6\n")],
)
def test_store_body_that_is_not_utf8_is_400(server, ctype, body):
    code, resp, _ = call(server, "POST", "/qcache/dataset/not_utf8", body,
                         {"Content-Type": ctype})
    assert code == 400, resp
    assert "utf-8" in json.loads(resp)["error"]
    assert call(server, "GET", "/qcache/dataset/not_utf8?q=%7B%7D")[0] == 404


def test_repr_floats_are_found_by_equality(resident_server, monkeypatch):
    """A float stored as its `repr` text is found by `==` on that same
    literal, on a resident and on a persisted key: the store parse
    rounds correctly, as the query's JSON literal does."""
    import numpy as np

    from qcache_spark import fastpath

    base, catalog = resident_server
    values = [float(v) for v in np.random.default_rng(3).random(20) * 10.0]
    csv = "i,x\n" + "".join(f"{i},{v!r}\n" for i, v in enumerate(values))
    assert store(base, "repr_r", csv)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "repr_p", csv)[0] == 201
    assert catalog.get("repr_r").table is not None and catalog.get("repr_p").table is None
    for key in ("repr_r", "repr_p"):
        for i, v in enumerate(values):
            code, body, _ = query(base, key, {"where": ["==", "x", v], "select": ["i"]})
            assert code == 200 and json.loads(body) == [{"i": i}], (key, v, body)


def test_like_open_repetition_is_400(resident_server, monkeypatch):
    """`{,n}` is a 400 on a resident and a persisted key (Java's regex
    rejects it, so Catalyst used to answer 500); a brace and a comma
    inside a class still match as literals on both."""
    from qcache_spark import fastpath

    base, _ = resident_server
    csv = "i,s\na,x\nb,{\nc,\"a,b\"\n"
    assert store(base, "rep_r", csv)[0] == 201
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        assert store(base, "rep_p", csv)[0] == 201
    for key in ("rep_r", "rep_p"):
        code, body, _ = query(base, key, {"where": ["like", "s", "'a{,3}'"]})
        assert code == 400 and "repetition" in json.loads(body)["error"], (key, body)
    _same_answers(base, "rep_r", "rep_p",
                  [{"where": ["like", "s", "'%[{,]%'"], "select": ["i"], "order_by": ["i"]}])
    assert json.loads(query(base, "rep_r", {"where": ["like", "s", "'%[{,]%'"],
                                            "select": ["i"], "order_by": ["i"]})[1]) == [
        {"i": "b"}, {"i": "c"}]


def test_keep_alive_status_has_no_delayed_ack_floor(server):
    """With Nagle's algorithm on, a keep-alive response body waited
    for the client's delayed ACK (~40 ms)."""
    import http.client
    import statistics
    import time

    host, port = server.split("//")[1].split(":")
    conn = http.client.HTTPConnection(host, int(port))
    try:
        times = []
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("GET", "/qcache/status")
            resp = conn.getresponse()
            assert resp.read() == b"OK"
            times.append(time.perf_counter() - t0)
    finally:
        conn.close()
    assert statistics.median(times) < 0.010, times


@pytest.mark.parametrize(
    "bad",
    [
        {"where": ["==", "s", 5]},
        {"where": ["<", "i", "'x'"]},
        {"where": ["==", "i", "s"]},
        {"where": ["==", "f", "'1.5x'"]},
        {"where": ["==", "b", 1]},
        {"where": ["!=", "i", True]},
        {"select": [["=", "y", ["+", "s", 1]]]},
        {"select": [["=", "y", ["sqrt", "s"]]]},
        {"where": ["like", "s", "'[a'"]},
        # a group name Java's regex cannot hold
        {"where": ["like", "s", "'%(?P<a_b>a)%'"]},
    ],
)
@pytest.mark.parametrize("resident", [True, False])
def test_type_mismatch_and_bad_pattern_are_400(resident_server, monkeypatch, bad, resident):
    from qcache_spark import fastpath

    base, catalog = resident_server
    if not resident:
        monkeypatch.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
    store(base, "mixed", "i,f,s,b\n1,1.5,a,True\n2,2.5,b,False\n")
    assert (catalog.get("mixed").table is not None) == resident
    code, body, _ = query(base, "mixed", bad)
    assert code == 400, (bad, code, body)
    assert "error" in json.loads(body)


def test_named_group_like_patterns_answer_alike(resident_server, monkeypatch):
    """A like pattern with a named group, Python's `(?P<n>...)`, and
    its backreference `(?P=n)` get one answer on a resident key and a
    persisted one, where Java spells them `(?<n>...)` and `\\k<n>`.
    RE2 has no backreferences, so that query falls back on the
    resident key."""
    from qcache_spark import fastpath

    base, catalog = resident_server
    csv = "i,s\n1,foo\n2,bar\n3,boo\n4,\n5,Bob\n"
    store(base, "groups", csv)
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        store(base, "groups_p", csv)
    assert catalog.get("groups").table is not None
    assert catalog.get("groups_p").table is None
    queries = [
        {"where": ["like", "s", "'%(?P<n>o)%'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["ilike", "s", "'(?P<first>b)%'"], "select": ["i", "s"], "order_by": ["i"]},
        {"where": ["like", "s", "'%(?P<n>o)(?P=n)%'"], "select": ["i"], "order_by": ["i"]},
    ]
    _local_counts(base)
    _same_answers(base, "groups", "groups_p", queries)
    assert _local_counts(base) == (4, 2)
    assert json.loads(query(base, "groups", queries[2])[1]) == [{"i": 1}, {"i": 3}]


def test_like_on_line_breaks_and_unicode_answers_alike(resident_server, monkeypatch):
    """Java's regex (the persisted key's) matches `$` before a final
    line break, stops `.` at \\r, and folds case in ASCII only; RE2
    does not. A resident key answers such a like as the persisted key
    does, by falling back; a like both engines read alike stays
    local."""
    from qcache_spark import fastpath

    base, catalog = resident_server
    csv = 'i,s,u\n1,"abc\n",É\n2,"a\rc",é\n3,abc,eé\n4,b,b\n'
    store(base, "breaks", csv)
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        store(base, "breaks_p", csv)
    assert catalog.get("breaks").table is not None
    assert catalog.get("breaks_p").table is None
    queries = [
        {"where": ["like", "s", "'abc'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["like", "s", "'%c'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["like", "s", "'a.c'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["ilike", "u", "'é'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["like", "u", "'[[:alpha:]]%'"], "select": ["i"], "order_by": ["i"]},
        {"where": ["like", "u", "'%é'"], "select": ["i", "u"], "order_by": ["i"]},
    ]
    _local_counts(base)
    _same_answers(base, "breaks", "breaks_p", queries)
    assert _local_counts(base) == (2, 10)
    assert json.loads(query(base, "breaks", queries[0])[1]) == [{"i": 1}, {"i": 3}]


def test_nullable_bool_and_int_columns_stay_resident(resident_server, monkeypatch):
    """A bool column with an empty cell is stored resident and answers
    like the persisted store; so is an int64 column that a Spark-run
    update leaves with a null."""
    from qcache_spark import fastpath

    base, catalog = resident_server
    csv = "a,b,c\n1,True,x\n2,,y\n3,False,x\n"
    store(base, "nulls", csv)
    with monkeypatch.context() as m:
        m.setattr(fastpath, "MAX_FASTPATH_BYTES", 0)
        store(base, "nulls_p", csv)
    table = catalog.get("nulls").table
    assert table is not None and table.column("b").null_count == 1
    assert catalog.get("nulls_p").table is None
    queries = [
        {"order_by": ["a"]},
        {"where": ["!", "b"], "select": ["a", "b"], "order_by": ["a"]},
        {"where": ["isnull", "b"], "select": ["a", "c"]},
        {"group_by": ["b"], "select": ["b", ["sum", "a"]], "order_by": ["-b"]},
    ]
    _local_counts(base)
    _same_answers(base, "nulls", "nulls_p", queries)
    assert _local_counts(base) == (2 * len(queries), 0)

    # a null literal is outside the Arrow update: Spark applies it
    upd = {"update": [["a", None]], "where": ["==", "c", "'y'"]}
    for key in ("nulls", "nulls_p"):
        code, body, _ = call(base, "POST", f"/qcache/dataset/{key}/q",
                             json.dumps(upd).encode(), {"Accept": "application/json"})
        assert code == 200, body
    table = catalog.get("nulls").table
    assert table is not None and table.column("a").null_count == 1
    _same_answers(base, "nulls", "nulls_p", queries)


def test_update_of_a_dataset_gone_meanwhile_is_404(resident_server, monkeypatch):
    """An update whose dataset is evicted or deleted while it is
    applied answers 404 like any miss (the client re-stores), not 500."""
    base, catalog = resident_server
    store(base, "gone")
    replace_df = catalog.replace_df

    def delete_then_replace(key, data):
        catalog.delete(key)
        return replace_df(key, data)

    monkeypatch.setattr(catalog, "replace_df", delete_then_replace)
    code, body, _ = call(
        base, "POST", "/qcache/dataset/gone/q",
        json.dumps({"update": [["bar", 0]], "where": ["==", "foo", 1]}).encode(),
        {"Accept": "application/json"},
    )
    assert code == 404, body
    assert json.loads(body) == {"error": "Unknown dataset: gone"}


def test_sql_over_resident_datasets_keeps_no_spark_copy(resident_server, spark):
    """A SQL statement reads a driver-resident dataset through a temp
    view that lives only while statements use it: afterwards no view
    and no Spark frame remain, and the cache size is unchanged."""
    import concurrent.futures

    base, catalog = resident_server
    store(base, "sqlres")
    store(base, "sqlres2", "foo,baz\n1,x\n3,y\n")
    size = json.loads(call(base, "GET", "/qcache/statistics")[1])["cache_size"]
    sql = ("SELECT a.foo AS foo, a.bar AS bar, b.baz AS baz FROM sqlres a "
           "JOIN sqlres2 b ON a.foo = b.foo ORDER BY foo")
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        answers = list(pool.map(lambda _: sql_post(base, sql), range(8)))
    for code, body, _ in answers:
        assert code == 200, body
        assert json.loads(body) == [{"foo": 1, "bar": 10, "baz": "x"},
                                    {"foo": 3, "bar": 30, "baz": "y"}]
    views = {t.name for t in spark.catalog.listTables()}
    assert not views & {"sqlres", "sqlres2"}, views
    assert catalog.get("sqlres").df is None and catalog.get("sqlres2").df is None
    snap = json.loads(call(base, "GET", "/qcache/statistics")[1])
    assert snap["cache_size"] == size


# ------------------------------------------- serving while Spark boots


def test_requests_that_need_no_spark_answer_while_the_session_boots(spark):
    """Built with a session factory, the server answers status,
    statistics, resident stores and reads while the factory has not
    returned; a SQL request waits for the session, then answers, and
    the boot has switched SQL-on-files off."""
    import threading

    released = threading.Event()

    def factory():
        assert released.wait(120)
        # a fresh session's default; the boot must switch it off
        spark.conf.set("spark.sql.runSQLOnFiles", "true")
        return spark

    srv = make_server(factory)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        assert call(base, "GET", "/qcache/status")[:2] == (200, b"OK")
        assert store(base, "early")[0] == 201
        assert srv.RequestHandlerClass.catalog.get("early").table is not None
        code, body, headers = query(base, "early", {"where": [">", "bar", 15], "order_by": ["foo"]})
        assert code == 200 and json.loads(body) == [{"foo": 2, "bar": 20}, {"foo": 3, "bar": 30}]
        assert headers["X-QCache-unsliced-length"] == "2"
        code, body, _ = call(base, "GET", "/qcache/statistics")
        assert code == 200 and json.loads(body)["store_count"] == 1

        answer = []
        waiter = threading.Thread(
            target=lambda: answer.append(sql_post(base, "SELECT sum(bar) AS s FROM early")))
        waiter.start()
        waiter.join(1.0)
        assert waiter.is_alive() and not answer and not srv.session.done()

        released.set()
        waiter.join(120)
        code, body, _ = answer[0]
        assert code == 200 and json.loads(body) == [{"s": 60}]
        assert spark.conf.get("spark.sql.runSQLOnFiles") == "false"
    finally:
        released.set()
        srv.session.exception(120)
        spark.conf.set("spark.sql.runSQLOnFiles", "false")
        srv.shutdown()
        srv.server_close()


def test_a_failed_boot_fails_the_requests_that_need_spark():
    """Requests that wait for a session whose boot raised get a 500
    carrying the boot error; the others still answer."""

    def factory():
        raise RuntimeError("no JVM here")

    srv = make_server(factory)
    serve_forever_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        assert isinstance(srv.session.exception(60), RuntimeError)
        assert store(base, "nojvm")[0] == 201
        code, body, _ = sql_post(base, "SELECT * FROM nojvm")
        assert code == 500
        assert json.loads(body) == {"error": "RuntimeError: no JVM here"}
        code, body, _ = store(base, "bucketed", headers={"X-QCache-bucket-by": "foo"})
        assert code == 500 and "no JVM here" in json.loads(body)["error"]
        assert call(base, "GET", "/qcache/status")[:2] == (200, b"OK")
    finally:
        srv.shutdown()
        srv.server_close()


@contextlib.contextmanager
def _server_without_spark(boot):
    """A server whose session factory blocks until the block exits
    (`boot="blocked"`) or has already raised (`"failed"`): whatever it
    answers needed no Spark."""
    released = threading.Event()

    def factory():
        if boot == "blocked":
            released.wait(120)
        raise RuntimeError("no JVM here")

    srv = make_server(factory)
    serve_forever_in_thread(srv)
    try:
        if boot == "failed":
            assert isinstance(srv.session.exception(60), RuntimeError)
        yield f"http://127.0.0.1:{srv.server_address[1]}", srv
    finally:
        released.set()
        srv.session.exception(60)
        srv.shutdown()
        srv.server_close()


@pytest.mark.parametrize(
    "path,body",
    [
        ("/qcache/dataset/k/q", b'{"where": ["==", "a", "\xff"]}'),
        ("/qcache/dataset/k/pipeline", b'{"op": "\xff"}'),
        ("/qcache/dataset/k/explain", b'{"where": ["==", "a", "\xff"]}'),
        ("/qcache/sql", b"SELECT '\xff'"),
    ],
)
def test_query_body_that_is_not_utf8_is_400(path, body):
    with _server_without_spark("blocked") as (base, _):
        code, resp, _ = call(base, "POST", path, body, {"Accept": "application/json"}, timeout=5)
    assert code == 400, resp
    assert "utf-8" in json.loads(resp)["error"]


@pytest.mark.parametrize(
    "method,path,body",
    [
        ("GET", "/qcache/dataset/absent?q=%7B%7D", None),
        ("POST", "/qcache/dataset/absent/q", b"{}"),
        ("POST", "/qcache/dataset/absent/explain", b"{}"),
        ("POST", "/qcache/dataset/absent/pipeline", b'{"op": "cardinality"}'),
    ],
)
def test_unknown_dataset_is_one_404(server, method, path, body):
    """Every route that reads a dataset answers an unknown key with the
    same 404 body and counts one miss and no hit."""
    call(server, "GET", "/qcache/statistics")  # reset the counters
    code, resp, _ = call(server, method, path, body, {"Accept": "application/json"})
    assert code == 404
    assert json.loads(resp) == {"error": "Unknown dataset: absent"}
    snap = json.loads(call(server, "GET", "/qcache/statistics")[1])
    assert snap.get("miss_count") == 1 and not snap.get("hit_count"), snap


MALFORMED_RESIDENT_UPDATES = [
    {"update": [["nope", 5]], "where": ["==", "foo", 1]},
    {"update": [["bar", 5]]},
    {"update": [["bar", 5]], "where": ["&", ["==", "foo", 1], ["==", "bar", 2]]},
    {"update": [["<<", "bar", 1.5]], "where": ["==", "foo", 1]},
    {"update": [["+", "bar", "nope"]], "where": ["==", "foo", 1]},
]


@pytest.mark.parametrize("upd", MALFORMED_RESIDENT_UPDATES)
@pytest.mark.parametrize("boot", ["blocked", "failed"])
def test_malformed_update_on_a_resident_key_needs_no_session(upd, boot):
    """A malformed update on a driver-resident key is a 400 at once,
    whether the Spark boot is still running or has failed; even the
    statements the Arrow update does not apply are checked first."""
    import time

    with _server_without_spark(boot) as (base, srv):
        assert store(base, "upd")[0] == 201
        assert srv.RequestHandlerClass.catalog.get("upd").table is not None
        t0 = time.perf_counter()
        code, body, _ = call(base, "POST", "/qcache/dataset/upd/q", json.dumps(upd).encode(),
                             {"Accept": "application/json"}, timeout=5)
        assert code == 400, body
        assert time.perf_counter() - t0 < 1.0
        assert srv.session.done() == (boot == "failed")
        code, body, _ = query(base, "upd", {"order_by": ["foo"]})
        assert code == 200 and json.loads(body) == [
            {"foo": 1, "bar": 10}, {"foo": 2, "bar": 20}, {"foo": 3, "bar": 30}]
