"""Round-10 index operability tests: the maintenance lifecycle through
the Hadoop FileSystem API (VERDICT r9 #1), the single-writer admission
lease (Next #5), checkpoint-scoped replay watermarks (ADVICE r9 #2),
typed tombstones (ADVICE #3) and stale-tombstone clearing on overwrite
(ADVICE #1).

The ``file:`` scheme here exercises the exact code path HDFS/S3A
would take — ``Path.getFileSystem`` dispatch, ``FileSystem.exists/
listStatus/delete/rename`` — while ``os.path``-based code sees
NOTHING behind a ``file:`` URI string it never strips, so any
regression back to POSIX calls fails these tests immediately. A
source-level grep assert additionally pins that the index modules
contain no direct os/shutil filesystem calls at all."""
from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from qcache_spark import hadoopfs as hfs
from qcache_spark.lease import IndexLease, LeaseHeld
from qcache_spark.operators.dedup import MinHashIndex
from qcache_spark.operators.similarity import IVFIndex
from qcache_spark.session import load_table


def _uri(tmp_path, name: str) -> str:
    # A file:-scheme URI os.path cannot see through: os.path.isdir
    # ("file:/x/y") is False even when /x/y exists, so every
    # maintenance step below would break on a POSIX-call regression.
    return "file:" + str(tmp_path / name)


# --------------------------------------------------------- hadoopfs


def test_hadoopfs_control_file_ops(spark, tmp_path):
    p = _uri(tmp_path, "ctl.json")
    assert hfs.read_text(spark, p) is None
    assert hfs.exists(spark, p) is False
    hfs.write_text(spark, p, '{"v": 1}')
    assert json.loads(hfs.read_text(spark, p)) == {"v": 1}
    hfs.write_text(spark, p, '{"v": 2}')  # replace
    assert json.loads(hfs.read_text(spark, p)) == {"v": 2}
    # exclusive create: first wins, second reports held
    q = _uri(tmp_path, "excl.json")
    assert hfs.create_exclusive(spark, q, "a") is True
    assert hfs.create_exclusive(spark, q, "b") is False
    assert hfs.read_text(spark, q) == "a"
    assert hfs.delete(spark, q, recursive=False) is True
    assert hfs.delete(spark, q, recursive=False) is False  # gone already
    # qualified identity, not string identity
    assert hfs.same_path(spark, str(tmp_path), _uri(tmp_path, ""))
    assert not hfs.same_path(spark, str(tmp_path), str(tmp_path / "x"))


def test_hadoopfs_listing(spark, tmp_path):
    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "a.parquet").write_text("x")
    (root / "sub" / "b.parquet").write_text("x")
    (root / "sub" / "c.txt").write_text("x")
    u = "file:" + str(root)
    assert sorted(hfs.list_names(spark, u)) == ["a.parquet", "sub"]
    assert hfs.list_names(spark, u + "/missing") == []
    assert hfs.count_files(spark, u) == 2  # recursive, .parquet only
    assert hfs.count_files(spark, u + "/missing") is None
    assert hfs.is_dir(spark, u) and not hfs.is_dir(spark, u + "/a.parquet")


def test_index_modules_have_no_posix_fs_calls():
    """Grep-assert (VERDICT r9 Next #1): the index-maintenance modules
    route every filesystem operation through hadoopfs — no os.path
    probes, os.listdir/remove/replace/walk, shutil, or open() calls
    that would silently no-op against HDFS/S3."""
    import ast

    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "qcache_spark")

    def called_names(func: ast.AST) -> str:
        # dotted name of a call target, e.g. "os.path.isdir", "open"
        parts = []
        node = func
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name):
            parts.append(node.id)
        return ".".join(reversed(parts))

    banned = re.compile(
        r"^(open|(os|_os)\.(path\.\w+|listdir|walk|remove|replace|rename|"
        r"makedirs|scandir)|(shutil|_shutil)\.\w+)$"
    )
    for rel in (
        "operators/_lifecycle.py",
        "operators/dedup.py",
        "operators/similarity.py",
        "streaming/admission.py",
        "lease.py",
        "index_tool.py",
    ):
        tree = ast.parse(open(os.path.join(pkg, rel)).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = called_names(node.func)
                assert not banned.match(name), f"{rel}:{node.lineno}: {name}()"


def test_index_lifecycle_lives_only_in_lifecycle_module():
    """The persisted-index lifecycle exists once: no package module
    but operators/_lifecycle.py constructs an IndexLease (lease.py
    defines it; the drift monitor leases a metrics path, not an
    index), states the persisted-index refusal, or spells a
    generation dir name."""
    import ast

    import qcache_spark

    pkg = os.path.dirname(qcache_spark.__file__)
    lease_ok = {"lease.py", os.path.join("streaming", "drift_monitor.py")}
    # a generation dir name, not the postings_generation meta key
    gen_dir = re.compile(r"(postings|sets|data)_g(?![a-z])")
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel == os.path.join(
                "operators", "_lifecycle.py"
            ):
                continue
            for node in ast.walk(ast.parse(open(path).read())):
                lease = (
                    isinstance(node, ast.Call)
                    and (
                        isinstance(node.func, ast.Name)
                        and node.func.id == "IndexLease"
                        or isinstance(node.func, ast.Attribute)
                        and node.func.attr == "IndexLease"
                    )
                    and rel not in lease_ok
                )
                literal = (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and (
                        "requires a persisted index" in node.value
                        or gen_dir.search(node.value)
                    )
                )
                if lease or literal:
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


@pytest.fixture(scope="module")
def never_written(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    batch = docs.select("doc_id", "text")
    return {
        "minhash": (MinHashIndex(docs), {
            "append": (batch,), "merge": (MinHashIndex(docs),),
            "delete": ([1],), "compact": (), "vacuum": (), "admit": (batch,),
        }),
        "ivf": (IVFIndex(emb, n_centroids=2, iters=0), {
            "append": (emb,), "delete": ([1],), "compact": (), "vacuum": (),
            "refit": (), "admit": (emb,),
        }),
    }


@pytest.mark.parametrize("lease", [True, False])
@pytest.mark.parametrize(
    "family,verb",
    [("minhash", v) for v in
     ("append", "merge", "delete", "compact", "vacuum", "admit")]
    + [("ivf", v) for v in
       ("append", "delete", "compact", "vacuum", "refit", "admit")],
)
def test_writer_verbs_refuse_never_written_index(never_written, family, verb, lease):
    """Every writer verb of both families refuses an in-memory index
    with a ValueError naming write(), with or without the lease."""
    idx, args = never_written[family]
    with pytest.raises(
        ValueError, match=rf"^{verb} requires a persisted index .*write\(\)"
    ):
        getattr(idx, verb)(*args[verb], lease=lease)


# ------------------------------------- full lifecycle over file: URIs


def test_minhash_full_lifecycle_file_scheme(spark, sf_dir, tmp_path):
    """write → append → admit → delete → stats → compact → merge →
    streaming admit, every maintenance step against file:-scheme URIs
    (the FS-layer path an HDFS/S3 deployment takes)."""
    from qcache_spark.streaming import streaming_admit

    docs = load_table(spark, sf_dir, "documents").limit(240)
    corpus = docs.filter(F.col("doc_id") % 4 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)
    b3 = docs.filter(F.col("doc_id") % 4 == 3)

    path = _uri(tmp_path, "mh")
    MinHashIndex(corpus).write(spark, path)
    idx = MinHashIndex.load(spark, path)
    n0 = idx.sets.count()

    idx.append(b1.select("doc_id", "text"))
    assert idx.sets.count() == n0 + b1.count()

    idx.admit(b2, verify_threshold=0.3)

    # delete + tombstone masking detected THROUGH the FS layer
    victims = [r["doc_id"] for r in b1.limit(3).collect()]
    idx.delete(victims)
    assert idx.tombstones is not None
    st = idx.stats()
    assert st["tombstones_pending"] == 3
    assert st["docs_live"] == st["docs_stored"] - 3
    assert st["postings_files"] is not None  # FS count works on URIs

    live_before = sorted(
        r["_id"] for r in idx._live_postings().select("_id").distinct().collect()
    )
    rep = idx.compact()
    assert rep["postings_files_after"] <= rep["postings_files_before"]
    assert idx.generation == 1
    assert idx.tombstones is None  # consumed by the rewrite
    reloaded = MinHashIndex.load(spark, path)
    assert sorted(
        r["_id"]
        for r in reloaded._live_postings().select("_id").distinct().collect()
    ) == live_before
    # consumed tombstones removed at the flip; superseded generation-0
    # dirs RETAINED for in-flight readers until vacuum — then actually
    # deleted through the FS API
    names = hfs.list_names(spark, path)
    assert "tombstones" not in names
    assert "postings" in names and "sets" in names
    assert rep["retained_generations"] == [0]
    vrep = reloaded.vacuum()
    assert vrep["removed_generations"] == [0]
    names = hfs.list_names(spark, path)
    assert "postings" not in names and "sets" not in names

    # merge a shard built independently
    shard = MinHashIndex(b3)
    reloaded.merge(shard)
    assert reloaded.sets.count() == st["docs_stored"] - 3 + b3.count()

    # streaming admission: watermark file written through the FS API
    land = tmp_path / "landing"
    extra = docs.filter(F.col("doc_id") % 4 == 3).select("doc_id", "text")
    extra.coalesce(1).write.parquet(str(land / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{land}/*/")
    )
    q = streaming_admit(
        stream, reloaded, checkpoint_dir=str(tmp_path / "ckpt"),
        verify_threshold=0.3,
    )
    q.awaitTermination()
    marker = hfs.read_text(spark, path + "/_admission_progress.json")
    assert marker is not None
    data = json.loads(marker)
    assert data["last_batch_id"] == 0
    assert data["scope"] == hfs.qualify(spark, str(tmp_path / "ckpt"))


def test_ivf_full_lifecycle_file_scheme(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    corpus = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)

    path = _uri(tmp_path, "ivf")
    IVFIndex(corpus, n_centroids=4, iters=1).write(spark, path)
    idx = IVFIndex.load(spark, path)
    idx.append(b1)
    idx.admit(b2, threshold=0.4, n_probe=1)

    victims = [r["vec_id"] for r in b1.limit(2).collect()]
    idx.delete(victims)
    assert idx.tombstones is not None
    st = idx.stats()
    assert st["tombstones_pending"] == 2 and st["data_files"] is not None

    qvec = list(corpus.select("embedding").first()[0])
    before = [
        r["vec_id"] for r in idx.search(qvec, k=8, n_probe=4).collect()
    ]
    rep = idx.compact()
    assert rep["files_after"] <= rep["files_before"]
    assert idx.generation == 1 and idx.tombstones is None
    reloaded = IVFIndex.load(spark, path)
    assert [
        r["vec_id"] for r in reloaded.search(qvec, k=8, n_probe=4).collect()
    ] == before
    # generation-0 cluster partitions retained for in-flight readers,
    # then deleted through the FS API by vacuum
    names = hfs.list_names(spark, path)
    assert any(n.startswith("cluster_id=") for n in names)
    assert any(n.startswith("data_g1") for n in names)
    assert rep["retained_generations"] == [0]
    assert reloaded.vacuum()["removed_generations"] == [0]
    names = hfs.list_names(spark, path)
    assert not any(n.startswith("cluster_id=") for n in names)
    assert any(n.startswith("data_g1") for n in names)
    assert [
        r["vec_id"] for r in reloaded.search(qvec, k=8, n_probe=4).collect()
    ] == before


# ------------------------------------------------ ADVICE r9 regressions


def test_write_clears_stale_tombstones_minhash(spark, sf_dir, tmp_path):
    """ADVICE r9 #1: a new index written over a previous occupant's
    path must not inherit its tombstones or generation dirs."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    path = _uri(tmp_path, "mh_reuse")
    old = MinHashIndex(docs)
    old.write(spark, path)
    old.delete([r["doc_id"] for r in docs.limit(4).collect()])
    old.compact()  # leaves generation-1 dirs behind
    old.delete([r["doc_id"] for r in docs.limit(2).collect()])
    assert hfs.exists(spark, path + "/tombstones")

    # stale control files from the previous occupant's streaming life:
    # an inherited watermark would silently skip a new stream's batch
    # ids 0..N; an inherited lease would block admission forever
    from qcache_spark.streaming.admission import _record_admitted

    _record_admitted(spark, path, 7, "file:/ckpt/previous")
    IndexLease(spark, path, owner="previous-occupant").acquire()

    fresh = MinHashIndex(docs)
    fresh.write(spark, path)
    got = MinHashIndex.load(spark, path)
    assert got.tombstones is None  # nothing masked
    assert got.generation == 0
    assert got.sets.count() == docs.count()
    names = hfs.list_names(spark, path)
    assert "tombstones" not in names
    assert not any(
        n.startswith("postings_g") or n.startswith("sets_g") for n in names
    )
    assert "_admission_progress.json" not in names
    assert "_admission_lease.json" not in names


def test_write_clears_stale_tombstones_ivf(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").limit(150)
    path = _uri(tmp_path, "ivf_reuse")
    old = IVFIndex(emb, n_centroids=4, iters=1)
    old.write(spark, path)
    old.delete([r["vec_id"] for r in emb.limit(3).collect()])
    assert hfs.exists(spark, path + "_tombstones")

    fresh = IVFIndex(emb, n_centroids=4, iters=1)
    fresh.write(spark, path)
    got = IVFIndex.load(spark, path)
    assert got.tombstones is None
    assert not hfs.exists(spark, path + "_tombstones")
    assert got.assigned.count() == emb.count()


def test_tombstone_dtype_follows_index_id(spark, sf_dir, tmp_path):
    """ADVICE r9 #3: tombstones carry the INDEX's id dtype — a
    string-id index deletes string ids (the hardcoded-long schema
    either raised or anti-joined nothing across the type mismatch)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .limit(80)
        .select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias(
                "doc_id"
            ),
            "text",
        )
    )
    path = _uri(tmp_path, "mh_str")
    MinHashIndex(docs).write(spark, path)
    idx = MinHashIndex.load(spark, path)
    idx.delete(["d0", "d8"])
    assert dict(idx.tombstones.dtypes)["_id"] == "string"
    live = idx._live_postings().select("_id").distinct()
    assert live.filter(F.col("_id").isin("d0", "d8")).count() == 0
    assert idx.stats()["tombstones_pending"] == 2

    # embeddings: int-typed id column keeps its narrower type too
    emb = load_table(spark, sf_dir, "embeddings").limit(60).select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    ipath = _uri(tmp_path, "ivf_int")
    IVFIndex(emb, n_centroids=2, iters=0).write(spark, ipath)
    iidx = IVFIndex.load(spark, ipath)
    iidx.delete([0, 3])
    assert dict(iidx.tombstones.dtypes)["vec_id"] == "int"
    assert (
        iidx._live_assigned().filter(F.col("vec_id").isin(0, 3)).count() == 0
    )


# -------------------------------------------------------------- lease


def test_admission_lease_enforced(spark, sf_dir, tmp_path):
    """VERDICT r9 Next #5: a second admitter RAISES while the first
    holds the lease, for both index families; release restores
    admission; break_lease recovers from a dead holder."""
    docs = load_table(spark, sf_dir, "documents").limit(90)
    path = _uri(tmp_path, "mh_lease")
    MinHashIndex(docs.filter(F.col("doc_id") % 2 == 0)).write(spark, path)
    idx = MinHashIndex.load(spark, path)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    holder = IndexLease(spark, path).acquire()
    with pytest.raises(LeaseHeld, match="held by"):
        idx.admit(batch, verify_threshold=0.3)
    # the caller-owns-the-lease escape hatch still admits
    n0 = idx.sets.count()
    idx.admit(batch.limit(2), verify_threshold=0.3, lease=False)
    assert idx.sets.count() >= n0
    holder.release()
    idx.admit(batch.limit(0), verify_threshold=0.3)  # lease free again
    assert not hfs.exists(spark, path + "/_admission_lease.json")

    # dead-holder recovery
    IndexLease(spark, path, owner="dead-process").acquire()
    with pytest.raises(LeaseHeld):
        idx.admit(batch.limit(1), verify_threshold=0.3)
    assert IndexLease.break_lease(spark, path) is True
    idx.admit(batch.limit(0), verify_threshold=0.3)


def test_admission_lease_ivf_and_reentrancy(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    path = _uri(tmp_path, "ivf_lease")
    IVFIndex(emb.filter(F.col("vec_id") % 2 == 0), n_centroids=2, iters=0).write(
        spark, path
    )
    idx = IVFIndex.load(spark, path)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    with IndexLease(spark, path):
        with pytest.raises(LeaseHeld):
            idx.admit(batch, threshold=0.4)
        idx.admit(batch.limit(1), threshold=0.4, lease=False)
    # releasing someone else's lease is refused (fencing)
    ours = IndexLease(spark, path).acquire()
    imposter = IndexLease(spark, path, owner="imposter")
    imposter._held = True  # simulate a racer that believes it won
    imposter.release()
    assert hfs.exists(spark, ours.path)  # our token survived
    ours.release()


def test_writer_lease_enforced_all_verbs(spark, sf_dir, tmp_path):
    """VERDICT r10 Wrong #1 / Next #1: EVERY index writer takes the
    single-writer lease — compact/refit/append/delete/merge/vacuum
    raise LeaseHeld while another writer holds it (the unguarded
    compact-vs-admit race silently deleted the admit's appended
    files); lease=False stays the caller-already-holds-it hatch."""
    docs = load_table(spark, sf_dir, "documents").limit(100)
    mh_path = _uri(tmp_path, "mh_wlease")
    MinHashIndex(docs.filter(F.col("doc_id") % 2 == 0)).write(spark, mh_path)
    mh = MinHashIndex.load(spark, mh_path)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    shard = MinHashIndex(batch)

    holder = IndexLease(spark, mh_path).acquire()
    for op in (
        lambda: mh.append(batch),
        lambda: mh.delete([1]),
        lambda: mh.merge(shard),
        lambda: mh.compact(),
        lambda: mh.vacuum(),
    ):
        with pytest.raises(LeaseHeld):
            op()
    # caller-holds-it hatch still works under the held lease
    n0 = mh.sets.count()
    mh.append(batch.limit(2), lease=False)
    assert mh.sets.count() == n0 + 2
    holder.release()
    mh.compact()  # lease free again; verb acquires and releases it
    assert not hfs.exists(spark, mh_path + "/_admission_lease.json")

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    ivf_path = _uri(tmp_path, "ivf_wlease")
    IVFIndex(
        emb.filter(F.col("vec_id") % 2 == 0), n_centroids=2, iters=0
    ).write(spark, ivf_path)
    ivf = IVFIndex.load(spark, ivf_path)
    ebatch = emb.filter(F.col("vec_id") % 2 == 1)
    with IndexLease(spark, ivf_path):
        for op in (
            lambda: ivf.append(ebatch),
            lambda: ivf.delete([1]),
            lambda: ivf.compact(),
            lambda: ivf.refit(),
            lambda: ivf.vacuum(),
        ):
            with pytest.raises(LeaseHeld):
                op()
        ivf.append(ebatch.limit(1), lease=False)
    ivf.refit()
    assert not hfs.exists(spark, ivf_path + "/_admission_lease.json")


def test_compact_holds_lease_so_admit_cannot_interleave(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The other direction of Wrong #1: while compact()'s rewrite is
    in flight the lease file EXISTS, so a concurrent admit would raise
    instead of appending into the generation the compact is about to
    supersede. Pinned by observing the lease from inside the rewrite
    (at the meta flip) for both families, plus an in-flight admit
    attempt raising."""
    from qcache_spark.operators import dedup as dedup_mod
    from qcache_spark.operators import similarity as sim_mod
    from qcache_spark.lease import LeaseHeld as LH

    docs = load_table(spark, sf_dir, "documents").limit(80)
    mh_path = _uri(tmp_path, "mh_midc")
    MinHashIndex(docs).write(spark, mh_path)
    mh = MinHashIndex.load(spark, mh_path)
    batch = docs.limit(5).select("doc_id", "text")

    seen = {}
    orig_mh_meta = dedup_mod.MinHashIndex._write_meta

    def spy_mh(self, spark_, path):
        seen["mh_lease_during_compact"] = hfs.exists(
            spark_, path.rstrip("/") + "/_admission_lease.json"
        )
        with pytest.raises(LH):  # an admit NOW fails loudly
            mh.admit(batch, verify_threshold=0.3)
        return orig_mh_meta(self, spark_, path)

    monkeypatch.setattr(dedup_mod.MinHashIndex, "_write_meta", spy_mh)
    mh.compact()
    monkeypatch.setattr(dedup_mod.MinHashIndex, "_write_meta", orig_mh_meta)
    assert seen["mh_lease_during_compact"] is True

    emb = load_table(spark, sf_dir, "embeddings").limit(80)
    ivf_path = _uri(tmp_path, "ivf_midc")
    IVFIndex(emb, n_centroids=2, iters=0).write(spark, ivf_path)
    ivf = IVFIndex.load(spark, ivf_path)
    orig_ivf_meta = sim_mod.IVFIndex._write_meta

    def spy_ivf(self, spark_, path):
        seen["ivf_lease_during_compact"] = hfs.exists(
            spark_, path.rstrip("/") + "/_admission_lease.json"
        )
        return orig_ivf_meta(self, spark_, path)

    monkeypatch.setattr(sim_mod.IVFIndex, "_write_meta", spy_ivf)
    ivf.compact()
    assert seen["ivf_lease_during_compact"] is True


def test_retention_reader_survives_compact(spark, sf_dir, tmp_path):
    """VERDICT r10 Missing #2 / Next #3: a reader PLANNED against the
    live generation before the flip completes after compact() — the
    superseded generation stays on disk inside the retention window;
    only vacuum() finally removes it."""
    docs = load_table(spark, sf_dir, "documents").limit(150)
    path = _uri(tmp_path, "mh_retain")
    MinHashIndex(docs).write(spark, path)
    idx = MinHashIndex.load(spark, path)
    idx.append(docs.limit(30).select("doc_id", "text"))

    # plan (and partially bind) a reader against generation 0
    reader = spark.read.parquet(path + "/postings").select("_id").distinct()
    pre_flip_rows = reader.count()

    other = MinHashIndex.load(spark, path)
    other.compact()

    # the pre-flip plan still executes to completion post-compact
    assert reader.count() == pre_flip_rows

    # IVF: a pre-flip pruned search completes post-compact too
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    ipath = _uri(tmp_path, "ivf_retain")
    IVFIndex(emb, n_centroids=2, iters=0).write(spark, ipath)
    ivf = IVFIndex.load(spark, ipath)
    qvec = list(emb.select("embedding").first()[0])
    pre = ivf.search(qvec, k=5, n_probe=2)  # planned against gen 0
    IVFIndex.load(spark, ipath).compact()
    assert len(pre.collect()) == 5

    # vacuum is the terminal delete: the old plan now loses its files
    reloaded = MinHashIndex.load(spark, path)
    assert reloaded.vacuum()["removed_generations"] == [0]
    assert not hfs.exists(spark, path + "/postings")


def test_index_tool_fsck(spark, sf_dir, tmp_path):
    """VERDICT r10 Missing #3: fsck detects each violated invariant —
    duplicate ids (append contract), postings⇄sets orphans, a meta
    pointer with no data dirs, orphan tombstones, stranded lease/tmp
    control files — and reports clean indexes as ok."""
    from qcache_spark import index_tool

    docs = load_table(spark, sf_dir, "documents").limit(80)
    path = _uri(tmp_path, "fsck_mh")
    MinHashIndex(docs).write(spark, path)

    rep = index_tool.run(spark, "fsck", path)
    assert rep["ok"] and rep["errors"] == [] and rep["family"] == "minhash"
    assert rep["info"]["live_generation"] == 0

    # duplicate ids: append the same batch twice (contract violation)
    idx = MinHashIndex.load(spark, path)
    dup = docs.limit(4).select("doc_id", "text")
    idx.append(dup)
    rep = index_tool.run(spark, "fsck", path)
    assert not rep["ok"]
    assert any(e["check"] == "duplicate_ids" for e in rep["errors"])

    # postings⇄sets orphan: a sets row with no postings
    clean = _uri(tmp_path, "fsck_mh2")
    MinHashIndex(docs).write(spark, clean)
    cidx = MinHashIndex.load(spark, clean)
    cidx.sets.limit(1).select(
        (F.col("_id") + 1_000_000).alias("_id"), "_shingles"
    ).write.mode("append").parquet(clean + "/sets")
    rep = index_tool.run(spark, "fsck", clean)
    assert any(e["check"] == "orphans" for e in rep["errors"])

    # orphan tombstone: delete an id that is not stored -> warning
    tidx = MinHashIndex.load(spark, clean)
    tidx.delete([999_999_999])
    rep = index_tool.run(spark, "fsck", clean)
    assert any(w["check"] == "tombstones" for w in rep["warnings"])

    # stranded lease + tmp file -> warnings, still loadable
    IndexLease(spark, clean, owner="maybe-dead").acquire()
    hfs.write_text(spark, clean + "/_admission_progress.json.tmp", "{")
    rep = index_tool.run(spark, "fsck", clean)
    assert any(w["check"] == "lease" for w in rep["warnings"])
    assert any(w["check"] == "tmp" for w in rep["warnings"])
    IndexLease.break_lease(spark, clean)

    # meta pointer names a generation with no dirs -> error, no load
    broken = _uri(tmp_path, "fsck_broken")
    MinHashIndex(docs).write(spark, broken)
    bidx = MinHashIndex.load(spark, broken)
    bidx.generation = 7  # simulate a meta flip whose rewrite vanished
    bidx._write_meta(spark, broken)
    rep = index_tool.run(spark, "fsck", broken)
    assert not rep["ok"]
    assert any(e["check"] == "generation" for e in rep["errors"])

    # IVF: clean, then int8-schema and duplicate-id violations
    emb = load_table(spark, sf_dir, "embeddings").limit(80)
    ipath = _uri(tmp_path, "fsck_ivf")
    IVFIndex(emb, n_centroids=2, iters=0).write(spark, ipath)
    rep = index_tool.run(spark, "fsck", ipath)
    assert rep["ok"] and rep["family"] == "ivf"
    iidx = IVFIndex.load(spark, ipath)
    iidx.append(emb.limit(3))
    rep = index_tool.run(spark, "fsck", ipath)
    assert any(e["check"] == "duplicate_ids" for e in rep["errors"])


# ------------------------------------------------- watermark scoping


def test_admission_scope_mismatch_raises(spark, sf_dir, tmp_path):
    """ADVICE r9 #2: a watermark left by a different checkpoint
    lineage raises instead of silently skipping restarted batch ids;
    reset_progress is the deliberate override; scope-less manual
    composition keeps working against its own watermark."""
    from qcache_spark.streaming import (
        AdmissionScopeMismatch,
        admit_foreach_batch,
        reset_progress,
        streaming_admit,
    )

    docs = load_table(spark, sf_dir, "documents").limit(120)
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    path = _uri(tmp_path, "mh_scope")
    MinHashIndex(corpus).write(spark, path)
    idx = MinHashIndex.load(spark, path)

    land = tmp_path / "scope_landing"
    b1.coalesce(1).write.parquet(str(land / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{land}/*/")
    )
    q = streaming_admit(
        stream, idx, checkpoint_dir=str(tmp_path / "ckpt1"),
        verify_threshold=0.3,
    )
    q.awaitTermination()
    admitted = idx.sets.count()

    # same checkpoint: fine (drains nothing new)
    q2 = streaming_admit(
        stream, idx, checkpoint_dir=str(tmp_path / "ckpt1"),
        verify_threshold=0.3,
    )
    q2.awaitTermination()
    assert idx.sets.count() == admitted

    # DIFFERENT checkpoint: batch ids would restart at 0 and be
    # silently skipped by the old code — now it refuses up front
    with pytest.raises(AdmissionScopeMismatch, match="checkpoint"):
        streaming_admit(
            stream, idx, checkpoint_dir=str(tmp_path / "ckpt2"),
            verify_threshold=0.3,
        )

    # scope-less manual composition: watermark still honored
    fn = admit_foreach_batch(idx, verify_threshold=0.3)
    fn(b1, 0)  # replay of batch 0 -> no-op
    assert idx.sets.count() == admitted
    # ... and it did not erase the declared lineage
    scope = json.loads(hfs.read_text(spark, path + "/_admission_progress.json"))[
        "scope"
    ]
    assert scope == hfs.qualify(spark, str(tmp_path / "ckpt1"))

    # deliberate reset: the new checkpoint is accepted (re-admission
    # of available data is the documented cost)
    assert reset_progress(spark, path) is True
    q3 = streaming_admit(
        stream, idx, checkpoint_dir=str(tmp_path / "ckpt2"),
        verify_threshold=0.3,
    )
    q3.awaitTermination()


def test_legacy_unscoped_watermark_requires_reset(spark, sf_dir, tmp_path):
    """ADVICE r10 #2: a pre-scope-tracking watermark (scope=None but
    real batch ids) belongs to an UNKNOWN checkpoint lineage — a scoped
    stream must refuse it (its restarted ids 0..N would be silently
    skipped) instead of treating None as a wildcard. reset_progress is
    the deliberate override; a marker-less index stays accepted; the
    caller-owns-continuity wildcard (scope=None) still honors it."""
    from qcache_spark.streaming import (
        AdmissionScopeMismatch,
        admit_foreach_batch,
        reset_progress,
        streaming_admit,
    )
    from qcache_spark.streaming.admission import _read_progress

    docs = load_table(spark, sf_dir, "documents").limit(90)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    path = _uri(tmp_path, "mh_legacy")
    MinHashIndex(corpus).write(spark, path)
    idx = MinHashIndex.load(spark, path)

    # legacy marker: batch ids recorded before scope tracking existed
    hfs.write_text(
        spark,
        path + "/_admission_progress.json",
        json.dumps({"last_batch_id": 3}),
    )
    land = tmp_path / "legacy_landing"
    b1.coalesce(1).write.parquet(str(land / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{land}/*/")
    )
    with pytest.raises(AdmissionScopeMismatch, match="predates scope"):
        streaming_admit(
            stream, idx, checkpoint_dir=str(tmp_path / "lckpt"),
            verify_threshold=0.3,
        )

    # the manual (scope-less) composition still honors the legacy
    # watermark — the caller owns batch-id continuity there
    n0 = idx.sets.count()
    fn = admit_foreach_batch(idx, verify_threshold=0.3)
    fn(b1, 3)  # <= legacy watermark: skipped
    assert idx.sets.count() == n0

    # deliberate reset unblocks the scoped stream
    assert reset_progress(spark, path) is True
    q = streaming_admit(
        stream, idx, checkpoint_dir=str(tmp_path / "lckpt"),
        verify_threshold=0.3,
    )
    q.awaitTermination()
    assert _read_progress(spark, path)["scope"] == hfs.qualify(
        spark, str(tmp_path / "lckpt")
    )


def test_index_tool_verbs(spark, sf_dir, tmp_path):
    """The maintenance CLI (qcache_spark/index_tool.py): family
    auto-detection from the meta sidecar, stats/compact reports,
    lease and watermark overrides — all against file:-scheme URIs."""
    from qcache_spark import index_tool
    from qcache_spark.streaming.admission import _read_progress, _record_admitted

    docs = load_table(spark, sf_dir, "documents").limit(120)
    mh_path = _uri(tmp_path, "tool_mh")
    MinHashIndex(docs).write(spark, mh_path)
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    ivf_path = _uri(tmp_path, "tool_ivf")
    IVFIndex(emb, n_centroids=4, iters=0).write(spark, ivf_path)

    assert index_tool.detect_family(spark, mh_path) == "minhash"
    assert index_tool.detect_family(spark, ivf_path) == "ivf"

    st = index_tool.run(spark, "stats", mh_path)
    assert st["family"] == "minhash" and st["docs_stored"] == docs.count()
    st = index_tool.run(spark, "stats", ivf_path)
    assert st["family"] == "ivf" and st["vectors_stored"] == emb.count()

    # compact through the tool: file counts reported, probes unchanged
    idx = MinHashIndex.load(spark, mh_path)
    idx.append(docs.limit(20).select("doc_id", "text"))
    rep = index_tool.run(spark, "compact", mh_path)
    assert rep["postings_files_after"] <= rep["postings_files_before"]
    assert MinHashIndex.load(spark, mh_path).generation == 1

    # dead-holder lease override
    IndexLease(spark, mh_path, owner="dead").acquire()
    assert index_tool.run(spark, "break-lease", mh_path)["lease_removed"]
    assert not index_tool.run(spark, "break-lease", mh_path)["lease_removed"]

    # deliberate watermark reset
    _record_admitted(spark, mh_path, 4, "file:/ckpt/x")
    assert index_tool.run(spark, "reset-progress", mh_path)["progress_reset"]
    assert _read_progress(spark, mh_path)["last_batch_id"] == -1


def test_index_tool_refit(spark, sf_dir, tmp_path):
    """refit through the tool: IVF only (MinHash has no fitted
    geometry), report carries the rewrite stats."""
    from qcache_spark import index_tool

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    path = _uri(tmp_path, "tool_refit")
    IVFIndex(
        emb.filter(F.col("vec_id") % 2 == 0), n_centroids=4, iters=1
    ).write(spark, path)
    idx = IVFIndex.load(spark, path)
    idx.append(emb.filter(F.col("vec_id") % 2 == 1))
    rep = index_tool.run(spark, "refit", path)
    assert rep["family"] == "ivf" and rep["vectors"] == emb.count()
    reloaded = IVFIndex.load(spark, path)
    assert reloaded.generation == 1
    # ~1e-12 rel tol, not bit-equality: FP summation order across the
    # two builds' different partitionings is not pinned by Spark
    import math

    want = IVFIndex(emb, n_centroids=4, iters=1).centroids
    assert all(
        math.isclose(p, q, rel_tol=1e-12, abs_tol=1e-12)
        for x, y in zip(reloaded.centroids, want)
        for p, q in zip(x, y)
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    mh_path = _uri(tmp_path, "tool_refit_mh")
    MinHashIndex(docs).write(spark, mh_path)
    with pytest.raises(ValueError, match="IVF"):
        index_tool.run(spark, "refit", mh_path)


def test_index_tool_lifecycle_over_store_pq(spark, sf_dir, tmp_path):
    """The maintenance verbs run unchanged over an IVFPQ index
    (store_pq=True): fsck validates the pq schema contract, compact/
    refit/vacuum keep search parity (codes re-derived at refit), and
    a pq-schema violation is reported as an fsck error."""
    from qcache_spark import index_tool

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(emb.select("embedding").first()[0])
    path = _uri(tmp_path, "tool_ivfpq")
    IVFIndex(emb, n_centroids=4, iters=1, store_pq=True).write(spark, path)
    idx = IVFIndex.load(spark, path)
    before = [
        (r[0], round(r[1], 6))
        for r in idx.search(qvec, k=5, n_probe=4, rerank=emb.count()).collect()
    ]
    for verb in ("fsck", "compact", "refit", "vacuum", "fsck"):
        rep = index_tool.run(spark, verb, path)
        if verb == "fsck":
            assert rep["ok"], rep
    idx = IVFIndex.load(spark, path)
    assert idx.store_pq and idx.pq_codebooks
    after = [
        (r[0], round(r[1], 6))
        for r in idx.search(qvec, k=5, n_probe=4, rerank=emb.count()).collect()
    ]
    assert after == before

    # violated pq contract: meta claims store_pq but the codes column
    # is missing from the stored rows -> fsck error, not silence
    broken = _uri(tmp_path, "tool_ivfpq_broken")
    IVFIndex(emb, n_centroids=4, iters=1, store_pq=True).write(spark, broken)
    stripped = spark.read.parquet(broken).drop("_pcodes")
    stripped.write.mode("overwrite").partitionBy("cluster_id").parquet(
        _uri(tmp_path, "tool_ivfpq_tmp")
    )
    hfs.delete(spark, broken)
    spark.read.parquet(_uri(tmp_path, "tool_ivfpq_tmp")).write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(broken)
    rep = index_tool.run(spark, "fsck", broken)
    assert not rep["ok"]
    assert any(e["check"] == "pq_schema" for e in rep["errors"]), rep


# --------------------------------------------- governance monitor verb


def test_index_tool_monitor(spark, sf_dir, tmp_path, capsys):
    """VERDICT r11 Next #7: the cron-able governance gate —
    constraints + PSI drift vs a frozen reference over dataset URIs,
    nonzero exit on a failing suite."""
    import json as _json

    from qcache_spark import index_tool

    docs = load_table(spark, sf_dir, "documents")
    data = _uri(tmp_path, "mon_data")
    ref = _uri(tmp_path, "mon_ref")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(data)
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(ref)

    # passing suite through run()
    rep = index_tool.run(spark, "monitor", data, {
        "constraints": [
            {"name": "ids", "kind": "completeness", "col": "doc_id",
             "min_rate": 1.0},
            {"name": "n", "kind": "row_count", "op": ">=", "bound": 1},
        ],
        "drift": {"reference": ref, "categorical": ["lang"],
                  "numeric_bins": {"n_chars": [150, 300]},
                  "max_psi": 5.0},
    })
    assert rep["ok"] is True
    assert rep["constraints"]["failed"] == 0
    assert set(rep["drift"]["psi_e6"]) == {"lang", "n_chars"}
    assert rep["drift"]["over_threshold"] == []

    # failing constraint -> ok False; failures carry the evidence
    rep = index_tool.run(spark, "monitor", data, {
        "constraints": [
            {"name": "tiny", "kind": "max", "col": "n_chars", "bound": 1},
        ],
    })
    assert rep["ok"] is False
    assert rep["constraints"]["failures"][0]["check_name"] == "tiny"

    # drift over threshold -> ok False (the two halves differ a bit;
    # max_psi=0 makes any nonzero PSI a failure)
    rep = index_tool.run(spark, "monitor", data, {
        "drift": {"reference": ref, "categorical": ["lang"],
                  "max_psi": 0.0},
    })
    assert rep["ok"] is False and rep["drift"]["over_threshold"]

    # spec validation: ValueError, never a crash deeper in
    with pytest.raises(ValueError, match="constraints.*drift"):
        index_tool.run(spark, "monitor", data, {})
    with pytest.raises(ValueError, match="reference"):
        index_tool.run(
            spark, "monitor", data, {"drift": {"categorical": ["lang"]}}
        )
    with pytest.raises(ValueError, match="max_psi"):
        index_tool.run(spark, "monitor", data, {
            "drift": {"reference": ref, "categorical": ["lang"],
                      "max_psi": "lots"}})

    # the CLI contract: failing gate exits 2 with a JSON verdict line
    spec_path = tmp_path / "gate.json"
    spec_path.write_text(_json.dumps({
        "constraints": [
            {"name": "tiny", "kind": "max", "col": "n_chars", "bound": 1}],
    }))
    code = index_tool.main(["monitor", data, "--spec", str(spec_path)])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    verdict = _json.loads(out)
    assert code == 2 and verdict["ok"] is False

    # missing --spec is a usage error (exit 1), unreadable spec too
    assert index_tool.main(["monitor", data]) == 1
    assert index_tool.main(
        ["monitor", data, "--spec", str(tmp_path / "nope.json")]
    ) == 1


def test_index_tool_ztable_verbs(spark, sf_dir, tmp_path):
    """The maintenance CLI covers the ZTable family: stats / compact /
    vacuum through run(), fsck's chunk-registry audit, refit refused."""
    from qcache_spark import index_tool
    from qcache_spark.operators.layout import ZTable

    events = load_table(spark, sf_dir, "events").limit(400)
    path = _uri(tmp_path, "ztab")
    t = ZTable.create(
        events.filter(F.col("event_id") % 2 == 0),
        ["user_id", "value"], path, bits=8, partitions=2,
    )
    t.append(events.filter(F.col("event_id") % 2 == 1))

    rep = index_tool.run(spark, "stats", path)
    assert rep["family"] == "ztable" and rep["arrival_chunks"] == 1
    rep = index_tool.run(spark, "fsck", path)
    assert rep["ok"] and rep["family"] == "ztable"
    rep = index_tool.run(spark, "compact", path)
    assert rep["compacted_chunks"] == 1
    rep = index_tool.run(spark, "vacuum", path)
    assert rep["removed"]
    with pytest.raises(ValueError, match="refit applies to IVF"):
        index_tool.run(spark, "refit", path)

    # dangling live chunk -> fsck error; stranded dir -> warning
    loaded = ZTable.load(spark, path)
    live = loaded.chunks[-1]["name"]
    hfs.delete(spark, path + "/" + live)
    rep = index_tool.run(spark, "fsck", path)
    assert not rep["ok"]
    assert any(e["check"] == "chunks" for e in rep["errors"])


def test_index_tool_monitor_over_ztable(spark, sf_dir, tmp_path):
    """monitor over a ZTable root resolves the LIVE chunk set through
    the meta pointer — retired dirs invisible, constraints see what
    readers see."""
    from qcache_spark import index_tool
    from qcache_spark.operators.layout import ZTable

    events = load_table(spark, sf_dir, "events").limit(400)
    path = str(tmp_path / "ztmon")
    t = ZTable.create(
        events.filter(F.col("event_id") % 2 == 0),
        ["user_id", "value"], path, bits=8, partitions=2,
    )
    t.append(events.filter(F.col("event_id") % 2 == 1))
    t.compact(retain=1, partitions=2)  # retired dirs still on disk
    n = events.count()
    rep = index_tool.run(spark, "monitor", path, {
        "constraints": [
            {"name": "exact_n", "kind": "row_count", "op": ">=", "bound": n},
            {"name": "not_more", "kind": "row_count", "op": "<=", "bound": n},
            {"name": "ids", "kind": "completeness", "col": "event_id",
             "min_rate": 1.0},
        ],
    })
    # a flat read of the root would double-count the retained retired
    # chunks; the meta-resolved read sees exactly n rows
    assert rep["ok"] is True, rep
