"""Seeded input frames for every workload.

Everything here is pure pandas/numpy: the same seed gives the same
frames, byte for byte, and nothing reads files outside the checkout.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

# memory_benchmark row shape (FIXTURES.md §12): 14 columns — 9 strings,
# two of them drawn from 10-value pools (text1, classifier), one int
# from a 40-value pool, 3 floats and one path-like string.
TEXT1_POOL = [f"text1_{i}" for i in range(10)]
CLASSIFIER_POOL = [f"cls_{i}" for i in range(10)]
N_SOME_NUMBER = 40
MB_COLUMNS = (
    ["text1", "classifier"]
    + [f"text{i}" for i in range(2, 9)]
    + ["some_number", "float1", "float2", "float3", "path"]
)
# never read by any query; the cache_aside updates write it
UPDATE_COLUMN = "text8"


def _words(rng: np.random.Generator, n: int, length: int) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    raw = rng.choice(letters, size=(n, length))
    return raw.view(f"S{length}").ravel().astype(str)


def memory_benchmark_frame(rng: np.random.Generator, rows: int) -> pd.DataFrame:
    data = {
        "text1": rng.choice(TEXT1_POOL, rows),
        "classifier": rng.choice(CLASSIFIER_POOL, rows),
    }
    for i in range(2, 9):
        data[f"text{i}"] = _words(rng, rows, 8)
    data["some_number"] = rng.integers(0, N_SOME_NUMBER, rows)
    # 6-decimal floats: exact through CSV and unique enough to order by
    for i in (1, 2, 3):
        data[f"float{i}"] = np.round(rng.random(rows) * 1000.0, 6)
    data["path"] = np.char.add("/data/part-", rng.integers(0, 10_000, rows).astype(str))
    return pd.DataFrame(data, columns=MB_COLUMNS)


def log_spaced_rows(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[int]:
    """n row counts spread evenly in log scale over [lo, hi], jittered
    by the seed within their slot and shuffled."""
    slots = (np.arange(n) + rng.uniform(0.25, 0.75, n)) / n
    rows = np.exp(np.log(lo) + slots * (np.log(hi) - np.log(lo))).astype(int)
    return [int(x) for x in rng.permutation(rows)]


def basic_frame() -> pd.DataFrame:
    """FIXTURES.md §1, the control probe's dataset."""
    return pd.DataFrame(
        {
            "foo": ["bbb", "aaa", "ccc"],
            "bar": [1.25, 3.25, np.nan],
            "baz": [5, 7, 9],
            "qux": ["qqq", "qqq", "www"],
        }
    )


# -- TPC-H-shaped lineitem / orders (large_scan) ---------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, 2400, n)
    return (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype(str)


def orders_frame(rng: np.random.Generator, n_orders: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
            "o_orderdate": _dates(rng, n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )


def lineitem_frame(rng: np.random.Generator, n_orders: int, n_parts: int) -> pd.DataFrame:
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int64)
    return pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, n_parts + 1, n),
            "l_suppkey": rng.integers(1, max(2, n_parts // 20), n),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _dates(rng, n),
        }
    )


def tpch_frames(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """~600k lineitem / 150k orders rows at sf=0.1, like the TPC-H tables."""
    n_orders = max(50, int(1_500_000 * sf))
    n_parts = max(20, int(200_000 * sf))
    return {
        "orders": orders_frame(rng, n_orders),
        "lineitem": lineitem_frame(rng, n_orders, n_parts),
    }


# -- documents / embeddings / purchase edges (operator_batch) --------

VOCAB = (
    "a the data spark query table row column filter group join sort hash "
    "scan order line part value key window stream batch vector fast slow "
    "big small agg merge customer index cache page plan stage task job"
).split()


def documents_frame(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """Texts of 8-90 vocabulary words; a fifth of them are light edits
    of an earlier text, so the dedup operators find real clusters."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_frame(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pd.DataFrame:
    """Vectors around 10 label centres; a tenth are near-copies of an
    earlier vector."""
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    for i in range(1, n_vecs):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=dim)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )


def operator_frames(sf: float) -> dict[str, pd.DataFrame]:
    """Fixed content per scale (documents 5000 / embeddings 2000 /
    lineitem ~600k at sf=0.1): the recorded fingerprints in
    fingerprints.json describe exactly these frames."""
    rng = np.random.default_rng(20240531)
    n_orders = max(50, int(1_500_000 * sf))
    return {
        "documents": documents_frame(rng, max(40, int(50_000 * sf))),
        "embeddings": embeddings_frame(rng, max(40, int(20_000 * sf))),
        "lineitem": lineitem_frame(rng, n_orders, max(20, int(200_000 * sf)))[
            ["l_orderkey", "l_partkey"]
        ],
    }


def shuffled(frame: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The same rows in a seed-chosen order."""
    order = np.random.default_rng(seed).permutation(len(frame))
    return frame.iloc[order].reset_index(drop=True)
