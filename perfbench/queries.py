"""Query shapes sent by the HTTP workloads, each paired with the SQL
that DuckDB runs over the same frame for the output check.

A shape returns a ``Query``: the qcache query dict plus how to judge a
response. ``order`` says whether row order is part of the answer;
``subset`` marks an unordered ``limit`` page, which may hold any
``limit`` rows of the full result.
"""
from __future__ import annotations

import json
import math
import urllib.parse
from dataclasses import dataclass

import numpy as np

from data import CLASSIFIER_POOL, N_SOME_NUMBER, PRIORITIES


@dataclass(frozen=True)
class Query:
    shape: str
    q: dict
    sql: str  # full (unsliced) result, columns in select order, table "t"
    order_by: str = ""  # SQL ORDER BY of the page, "" when unordered
    offset: int = 0
    limit: int | None = None

    @property
    def text(self) -> str:
        return json.dumps(self.q, separators=(",", ":"))

    def path(self, key: str) -> str:
        return f"/qcache/dataset/{key}?q=" + urllib.parse.quote(self.text)


def _lit(x: float) -> float:
    return round(float(x), 3)


# -- memory_benchmark row shape (small_read, cache_aside) ------------

def eq_distinct(rng: np.random.Generator) -> Query:
    """The reference benchmark query: ``==`` + distinct + limit 50."""
    c, x = str(rng.choice(CLASSIFIER_POOL)), _lit(rng.uniform(200, 1000))
    cols = ["text1", "classifier", "some_number"]
    return Query(
        "eq_distinct",
        {"where": ["&", ["==", "classifier", f"'{c}'"], ["<", "float1", x]],
         "distinct": cols, "select": cols, "limit": 50},
        f"SELECT DISTINCT text1, classifier, some_number FROM t "
        f"WHERE classifier = '{c}' AND float1 < {x}",
        limit=50,
    )


def group_agg(rng: np.random.Generator) -> Query:
    x = _lit(rng.uniform(0, 800))
    return Query(
        "group_agg",
        {"where": [">", "float2", x], "group_by": ["text1"],
         "select": ["text1", ["sum", "some_number"], ["max", "float3"], ["count", "path"]]},
        f"SELECT text1, SUM(some_number), MAX(float3), COUNT(path) FROM t "
        f"WHERE float2 > {x} GROUP BY text1",
    )


def order_page(rng: np.random.Generator) -> Query:
    x, offset = _lit(rng.uniform(100, 1000)), int(rng.integers(0, 200))
    return Query(
        "order_page",
        {"where": ["<", "float3", x], "select": ["text2", "some_number", "float1"],
         "order_by": ["-float1", "text2"], "offset": offset, "limit": 20},
        f"SELECT text2, some_number, float1 FROM t WHERE float3 < {x}",
        order_by="float1 DESC, text2", offset=offset, limit=20,
    )


def in_list(rng: np.random.Generator) -> Query:
    keys = sorted(int(k) for k in rng.choice(N_SOME_NUMBER, 5, replace=False))
    x = _lit(rng.uniform(0, 900))
    return Query(
        "in_list",
        {"where": ["&", ["in", "some_number", keys], [">", "float2", x]],
         "select": ["classifier", "some_number", "float2", "text3"],
         "order_by": ["float2", "text3"], "limit": 100},
        f"SELECT classifier, some_number, float2, text3 FROM t "
        f"WHERE some_number IN ({', '.join(map(str, keys))}) AND float2 > {x}",
        order_by="float2, text3", limit=100,
    )


SMALL_SHAPES = (eq_distinct, group_agg, order_page, in_list)


# -- lineitem / orders (large_scan) ----------------------------------

def q1_agg(rng: np.random.Generator) -> Query:
    day = (np.datetime64("1993-01-01") + int(rng.integers(0, 1400))).astype(str)
    return Query(
        "q1_agg",
        {"where": ["<=", "l_shipdate", f"'{day}'"],
         "group_by": ["l_returnflag", "l_linestatus"],
         "select": ["l_returnflag", "l_linestatus", ["sum", "l_quantity"],
                    ["sum", "l_extendedprice"], ["mean", "l_discount"], ["count", "l_orderkey"]],
         "order_by": ["l_returnflag", "l_linestatus"]},
        f"SELECT l_returnflag, l_linestatus, SUM(l_quantity), SUM(l_extendedprice), "
        f"AVG(l_discount), COUNT(l_orderkey) FROM t WHERE l_shipdate <= '{day}' "
        f"GROUP BY l_returnflag, l_linestatus",
        order_by="l_returnflag, l_linestatus",
    )


def filtered_page(rng: np.random.Generator) -> Query:
    x = _lit(rng.uniform(1000, 60_000))
    limit, offset = int(rng.integers(1000, 10_001)), int(rng.integers(0, 5000))
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    return Query(
        "filtered_page",
        {"where": ["&", [">", "l_extendedprice", x], ["==", "l_returnflag", "'R'"]],
         "select": cols, "order_by": ["l_orderkey", "l_linenumber"],
         "offset": offset, "limit": limit},
        f"SELECT {', '.join(cols)} FROM t WHERE l_extendedprice > {x} AND l_returnflag = 'R'",
        order_by="l_orderkey, l_linenumber", offset=offset, limit=limit,
    )


def q39_distinct(rng: np.random.Generator) -> Query:
    p, x = str(rng.choice(PRIORITIES)), _lit(rng.uniform(900, 400_000))
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    return Query(
        "q39_distinct",
        {"where": ["&", ["==", "o_orderpriority", f"'{p}'"], [">", "o_totalprice", x]],
         "distinct": cols, "select": cols, "order_by": ["o_custkey", "o_orderstatus"],
         "limit": 50},
        f"SELECT DISTINCT {', '.join(cols)} FROM t "
        f"WHERE o_orderpriority = '{p}' AND o_totalprice > {x}",
        order_by="o_custkey, o_orderstatus", limit=50,
    )


# shape -> stored dataset it reads
LARGE_SHAPES = ((q1_agg, "lineitem"), (filtered_page, "lineitem"), (q39_distinct, "orders"))


# -- output check -----------------------------------------------------

def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def _canon(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def check_response(con, query: Query, body: bytes, unsliced: str | None) -> str | None:
    """Compare one JSON response with DuckDB. ``con`` has the queried
    frame registered as ``t``. Returns None when it matches, else a
    one-line reason."""
    got = [tuple(r.values()) for r in json.loads(body)]
    full = con.execute(query.sql).fetchall()
    if unsliced is None or int(unsliced) != len(full):
        return f"unsliced length {unsliced} != {len(full)}"
    if query.order_by:
        page = con.execute(
            f"SELECT * FROM ({query.sql}) ORDER BY {query.order_by}"
            + (f" LIMIT {query.limit}" if query.limit is not None else "")
            + f" OFFSET {query.offset}"
        ).fetchall()
        return None if _rows_equal(got, page) else "page rows differ"
    if query.limit is not None:
        # unordered page: any `limit` distinct rows of the full result
        want_n = min(query.limit, len(full))
        if len(got) != want_n or len(set(got)) != len(got) or not set(got) <= set(full):
            return "unordered page is not a subset of the full result"
        return None
    return None if _rows_equal(_canon(got), _canon(full)) else "rows differ"
