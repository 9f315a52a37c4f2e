"""The operator_batch pipeline: a fixed sequence of public operator
calls over persisted documents / embeddings / lineitem frames, each
call timed from the call to its collected result.

The output check fingerprints the integer-valued columns of every
result, independent of row order, and compares them with the values
recorded in fingerprints.json.
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from qcache_spark.operators import dedup, graph, similarity
from qcache_spark.operators.similarity import IVFIndex

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
IVF_PARAMS = {"n_centroids": 8, "iters": 1}


def fingerprint(rows, columns) -> str:
    """Order-independent digest of the named integer columns."""
    tuples = sorted(tuple(int(r[c]) for c in columns) for r in rows)
    return hashlib.sha256(json.dumps(tuples).encode()).hexdigest()[:16]


def recorded_fingerprints(scale: float) -> dict:
    """The expected fingerprints for ``scale``. They were recorded once;
    a new set is a deliberate edit of fingerprints.json."""
    with open(FINGERPRINTS) as f:
        return json.load(f)[str(scale)]


def load_inputs(spark, parquet_dir: str) -> dict:
    """Read and persist the three inputs; returns the frames the
    pipeline calls use."""
    docs = spark.read.parquet(os.path.join(parquet_dir, "documents.parquet")).persist()
    emb = spark.read.parquet(os.path.join(parquet_dir, "embeddings.parquet")).persist()
    li = spark.read.parquet(os.path.join(parquet_dir, "lineitem.parquet")).persist()
    for df in (docs, emb, li):
        df.count()
    # the q90 order<->part purchase graph: orders even ids, parts odd
    o_id = (F.col("l_orderkey") * 2).cast("long")
    p_id = (F.col("l_partkey") * 2 + 1).cast("long")
    edges = li.select(o_id.alias("src"), p_id.alias("dst")).union(
        li.select(p_id.alias("src"), o_id.alias("dst"))
    )
    return {"documents": docs, "embeddings": emb, "edges": edges}


def _minhash_lsh_pairs(inputs, spark, workdir):
    rows = dedup.minhash_lsh_pairs(inputs["documents"], verify_threshold=0.5).collect()
    return fingerprint(rows, ("id_a", "id_b")), len(rows)


def _neardup_clusters(inputs, spark, workdir):
    docs = inputs["documents"]
    pairs = dedup.prefix_jaccard_pairs(docs, threshold_pct=60, shingle_size=3)
    rows = dedup.dedup_clusters(pairs.select("id_a", "id_b"), docs.select("doc_id")).collect()
    return fingerprint(rows, ("doc_id", "cluster_id")), len(rows)


def _semantic_dedup(inputs, spark, workdir):
    rows = similarity.semantic_dedup(
        inputs["embeddings"], n_centroids=8, iters=1, threshold=0.40
    ).collect()
    return fingerprint(rows, ("vec_id", "cluster_id")), len(rows)


def _ivf_admit(inputs, spark, workdir):
    emb = inputs["embeddings"]
    path = os.path.join(workdir, "ivf_index")
    # admit is not idempotent: every call starts from a fresh build
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_meta", ignore_errors=True)
    IVFIndex(emb.filter(F.col("vec_id") % 4 != 0), **IVF_PARAMS).write(spark, path)
    idx = IVFIndex.load(spark, path, expect=IVF_PARAMS)
    rows = idx.admit(emb.filter(F.col("vec_id") % 4 == 0), threshold=0.40, n_probe=1).select("vec_id").collect()
    return fingerprint(rows, ("vec_id",)), len(rows)


def _pagerank(inputs, spark, workdir):
    rows = graph.pagerank(inputs["edges"], iters=3).collect()
    return fingerprint(rows, ("id", "rank")), len(rows)


# (name used in metric names, callable); the order is the pipeline
PIPELINE = (
    ("minhash_lsh_pairs", _minhash_lsh_pairs),
    ("neardup_clusters", _neardup_clusters),
    ("semantic_dedup", _semantic_dedup),
    ("ivf_admit", _ivf_admit),
    ("pagerank", _pagerank),
)


def run_pipeline(inputs, spark, workdir, on_call=None) -> tuple[float, dict]:
    """One pass of the sequence. Returns (wall seconds, {call: (seconds,
    fingerprint, rows)}). ``on_call(name)`` returns a context manager
    entered around each call (the traced run's span and job group)."""
    out = {}
    t_start = time.perf_counter()
    for name, fn in PIPELINE:
        t0 = time.perf_counter()
        if on_call is None:
            fp, n = fn(inputs, spark, workdir)
        else:
            with on_call(name):
                fp, n = fn(inputs, spark, workdir)
        out[name] = (time.perf_counter() - t0, fp, n)
    return time.perf_counter() - t_start, out
