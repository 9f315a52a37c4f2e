"""Round-13 optimization pins: the cost-gated asymmetric PPJoin
prefix shape, the CC star-forest early stop, and the IVF BLAS probe
pass (the latter's plan/value pin lives in test_operators.py::
test_ivf_dup_probe_plan_prunes_and_maps)."""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qcache_spark.operators import dedup

ASYM_CONF = "spark.qcache.prefixJoin.asymmetricMinInputBytes"


@pytest.fixture(scope="module")
def spark():
    from qcache_spark.session import get_spark

    return get_spark(app_name="qcache-test-r13", cpus=4)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # clusters of near-identical docs + singletons, enough tokens for
    # 3-gram shingles
    base = "the quick brown fox jumps over the lazy dog near the river"
    for i in range(30):
        rows.append((i, base + f" variant {i % 5}"))
    for i in range(30, 40):
        rows.append((i, f"completely unrelated text number {i} with words"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {
        (r["id_a"], r["id_b"], r["inter"], r["n_a"], r["n_b"])
        for r in dedup.prefix_jaccard_pairs(
            df, threshold_pct=60, shingle_size=3
        ).collect()
    }


def test_asymmetric_prefix_join_result_identical(spark, docs):
    """The asymmetric (indexing-prefix) join shape is a pure plan
    change: forcing the gate both ways over the same corpus must give
    the exact same pair set (the PPJoin §5 prefix theorem: a pair with
    J >= t shares a token within the smaller side's
    n - ceil(2t*n/(100+t)) + 1 prefix and the larger side's
    n - ceil(t*n/100) + 1 prefix)."""
    old = spark.conf.get(ASYM_CONF, None)
    try:
        spark.conf.set(ASYM_CONF, str(1 << 60))  # force symmetric
        sym = _pairs(docs)
        spark.conf.set(ASYM_CONF, "0")  # force asymmetric
        asym = _pairs(docs)
    finally:
        if old is None:
            spark.conf.unset(ASYM_CONF)
        else:
            spark.conf.set(ASYM_CONF, old)
    assert sym == asym
    assert sym  # non-degenerate: the clusters above must pair


def test_asymmetric_gate_reads_input_size(spark, docs, tmp_path):
    """The gate is a Catalyst size estimate: parquet-backed KB-scale
    inputs sit far below the 4 MiB default (latency path), while an
    unknown-stats source (LogicalRDD from createDataFrame) estimates
    Long.MAX and conservatively takes the asymmetric scale shape."""
    p = str(tmp_path / "gate_docs.parquet")
    docs.write.mode("overwrite").parquet(p)
    pq = spark.read.parquet(p)
    default = int(spark.conf.get(ASYM_CONF, str(4 * 1024 * 1024)))
    est = int(
        pq._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert est < default  # real stats: tiny input -> latency path
    unknown = int(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert unknown >= default  # unknown stats -> scale path


def test_is_star_forest():
    from qcache_spark.session import get_spark

    spark = get_spark(app_name="qcache-test-r13", cpus=4)
    mk = lambda rows: spark.createDataFrame(rows, "u long, v long")
    # proper star forest: children {2,3} -> root 1, {5} -> 4
    assert dedup._is_star_forest(mk([(2, 1), (3, 1), (5, 4)]))
    # node on both sides (chain): not a forest
    assert not dedup._is_star_forest(mk([(3, 2), (2, 1)]))
    # duplicate-u multi-edge: not a forest
    assert not dedup._is_star_forest(mk([(3, 1), (3, 2)]))


def test_dedup_clusters_early_stop_labels(spark):
    """A clique pair graph converges in one star round; the structural
    early stop must return the same min-id labels the signature loop
    produced (fixpoint is idempotent, so stopping early is
    result-identical by construction — this pins it empirically)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (30, 31), (31, 32)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 30, 31, 32, 99]], "doc_id long"
    )
    out = dedup.dedup_clusters(pairs, ids)
    got = {(r["doc_id"], r["cluster_id"]) for r in out.collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (30, 30), (31, 30), (32, 30),
        (99, 99),
    }
    assert out.converged


def test_ivf_corpus_write_salts_by_size(spark, tmp_path):
    """ADVICE r12 #2: corpus-sized IVF writes split hot clusters
    across tasks/files once the Catalyst size estimate exceeds
    n_centroids * targetFileBytes; appends and unknown-stats inputs
    keep the one-file-per-cluster layout."""
    import numpy as np

    from qcache_spark import hadoopfs as hfs
    from qcache_spark.operators import similarity

    rows = [
        (i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(256)
    ]
    src = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(src)
    vecs = spark.read.parquet(src)  # parquet-backed: real stats
    idx = similarity.IVFIndex(vecs, n_centroids=2, iters=1)
    p1 = str(tmp_path / "ivf_plain")
    idx.write(spark, p1)
    n_plain = hfs.count_files(spark, p1)
    assert n_plain is not None and n_plain <= 2, n_plain
    # force the salt with a tiny file-size target
    old = spark.conf.get("spark.qcache.ivf.targetFileBytes", None)
    try:
        spark.conf.set("spark.qcache.ivf.targetFileBytes", "64")
        idx2 = similarity.IVFIndex(vecs, n_centroids=2, iters=1)
        p2 = str(tmp_path / "ivf_salted")
        idx2.write(spark, p2)
        n_salted = hfs.count_files(spark, p2)
        assert n_salted is not None and n_salted > 2, n_salted
        # same rows either way
        a = {tuple(r) for r in spark.read.parquet(p1).select("vec_id", "cluster_id").collect()}
        b = {tuple(r) for r in spark.read.parquet(p2).select("vec_id", "cluster_id").collect()}
        assert a == b
    finally:
        if old is None:
            spark.conf.unset("spark.qcache.ivf.targetFileBytes")
        else:
            spark.conf.set("spark.qcache.ivf.targetFileBytes", old)
