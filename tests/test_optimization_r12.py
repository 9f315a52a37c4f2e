"""Round-12 optimization pins: the internals changed for performance
must keep their new shape (and the helpers their contract), so a later
edit cannot silently reintroduce the removed work.

Covered (see OPTIMIZATION_r12.md):
1. meta sidecars are driver-side text files; the legacy parquet-dir
   representation stays readable and is replaced cleanly on write;
2. MinHashIndex.admit's survivors frame reads checkpointed relations —
   its plan no longer re-derives the probe + intra-join pipelines
   (the 102-Exchange survivors plan of the unoptimized version);
3. postings writes are range-distributed before partitionBy: the file
   count tracks the shuffle-partition count, not (input tasks x bands);
4. IVF writes are cluster-distributed: one file per cluster per write.
"""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from qcache_spark import hadoopfs as hfs
from qcache_spark.operators.dedup import MinHashIndex
from qcache_spark.operators.similarity import IVFIndex


def _uri(tmp_path, name: str) -> str:
    return "file:" + str(tmp_path / name)


@pytest.fixture()
def docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta {i} eta theta iota kappa")
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(4)


@pytest.fixture()
def vecs(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.random() for _ in range(8)]) for i in range(80)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)


# ------------------------------------------------------ meta sidecar


def test_meta_sidecar_is_text_file_and_replaces_parquet_dir(spark, tmp_path):
    path = _uri(tmp_path, "idx")
    # a legacy parquet-DIRECTORY sidecar occupying the slot
    spark.range(1).select(
        F.lit(json.dumps({"format_version": 0, "legacy": True})).alias("meta")
    ).write.parquet(path + "_meta")
    assert hfs.is_dir(spark, path + "_meta")
    # compat read sees the legacy representation
    assert hfs.read_meta_sidecar(spark, path)["legacy"] is True
    # the writer replaces the directory with a plain file
    hfs.write_meta_sidecar(spark, path, {"format_version": 1, "x": 2})
    assert not hfs.is_dir(spark, path + "_meta")
    assert hfs.read_meta_sidecar(spark, path) == {"format_version": 1, "x": 2}
    # missing sidecar is a loud error, not a None
    with pytest.raises(FileNotFoundError):
        hfs.read_meta_sidecar(spark, path + "_nowhere")


def test_index_meta_writes_run_zero_spark_jobs(spark, tmp_path, docs):
    """Control-plane metadata must be driver work (guide §5): a meta
    rewrite must not launch a Spark job (the pre-r12 1-row parquet
    relation launched one per write)."""
    path = _uri(tmp_path, "mh_zero_jobs")
    idx = MinHashIndex(docs)
    idx.write(spark, path)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    idx._write_meta(spark, path)
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "meta write launched a Spark job"


# -------------------------------------------- admit plan truncation


def test_minhash_admit_survivors_plan_is_truncated(spark, tmp_path, docs):
    """The survivors frame anti-joins a CHECKPOINTED dropped-id set;
    before r12 its plan inlined the whole probe + intra-join pipeline
    (102 Exchange nodes at bench scale) and re-ran it on every
    consumption."""
    path = _uri(tmp_path, "mh_admit_plan")
    corpus = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    idx = MinHashIndex(corpus)
    idx.write(spark, path)
    survivors = idx.admit(batch, verify_threshold=0.5)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:800]
    assert plan.count("Exchange") <= 4, plan[:800]
    # the expensive signature algebra must NOT appear in the consumer
    # plan (it lives behind the checkpoint cut)
    assert "posexplode" not in plan, plan[:800]


def test_ivf_admit_survivors_plan_is_truncated(spark, tmp_path, vecs):
    path = _uri(tmp_path, "ivf_admit_plan")
    corpus = vecs.filter("vec_id % 4 != 0")
    batch = vecs.filter("vec_id % 4 = 0")
    IVFIndex(corpus, n_centroids=4, iters=1).write(spark, path)
    idx = IVFIndex.load(spark, path, expect={"n_centroids": 4})
    survivors = idx.admit(batch, threshold=0.99, n_probe=1)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:800]
    # one Arrow assignment pass total: the batch UDF runs inside the
    # checkpointed `home` job, so the consumer plan has NO Python node
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        plan[:800]
    )


def test_ivf_admit_collects_the_batch_once(spark, tmp_path, vecs):
    """admit builds its driver-side batch payload only when a stage
    reads it (n_probe=1 or intra_batch). At n_probe=2 dup_probe
    collects the batch itself, so without intra_batch the admission
    runs one Spark job fewer than with it (the intra-batch stage
    itself runs inside the dropped-id checkpoint job)."""
    path = _uri(tmp_path, "ivf_admit_jobs")
    IVFIndex(vecs.filter("vec_id % 4 != 0"), n_centroids=4, iters=1).write(
        spark, path
    )
    idx = IVFIndex.load(spark, path)
    tracker = spark.sparkContext.statusTracker()
    jobs = {}
    for intra_batch, m in ((True, 0), (False, 2)):
        before = set(tracker.getJobIdsForGroup(None))
        idx.admit(
            vecs.filter(f"vec_id % 4 = {m}"),
            threshold=0.99,
            n_probe=2,
            intra_batch=intra_batch,
        )
        jobs[intra_batch] = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert jobs[False] < jobs[True], jobs


# ------------------------------------------------- write file counts


def test_postings_write_file_count_tracks_shuffle_partitions(
    spark, tmp_path, docs
):
    """Range distribution before the partitionBy write: file count is
    bounded by shuffle partitions + band boundaries, NOT by
    (input tasks x bands). docs is 4-partition input, 16 bands: the
    unshuffled write produced up to 64 files; the distributed one at
    most n_shuffle + bands - 1 (a range partition can straddle one
    band boundary)."""
    path = _uri(tmp_path, "mh_files")
    MinHashIndex(docs).write(spark, path)
    n = hfs.count_files(spark, path + "/postings")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n is not None and n <= n_shuffle + 16 - 1, n


def test_ivf_write_one_file_per_cluster(spark, tmp_path, vecs):
    """Hash distribution on cluster_id before the partitionBy write:
    exactly one file per non-empty cluster per write (the unshuffled
    write produced one per (input task, cluster) pair)."""
    path = _uri(tmp_path, "ivf_files")
    idx = IVFIndex(vecs, n_centroids=4, iters=1)
    idx.write(spark, path)
    n = hfs.count_files(spark, path)
    assert n is not None and n <= 4, n
    # appends keep the same discipline
    idx.append(vecs.withColumn("vec_id", F.col("vec_id") + 1000))
    n2 = hfs.count_files(spark, path)
    assert n2 is not None and n2 <= 8, n2
