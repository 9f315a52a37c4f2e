"""Tests for the north-star operators (dedup / similarity / text)."""
from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from qcache_spark.operators import dedup, similarity, text
from qcache_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


# ---------------------------------------------------------------- text

def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("hello, world! 42",)], ["text"]
    )
    rows = df.select(
        text.whitespace_token_count(F.col("text")).alias("ws"),
        text.bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert [r["ws"] for r in rows] == [3, 0, 0, 3]
    # "hello" "," "world" "!" "4" "2" -> 6 bpe-ish tokens
    assert rows[3]["bpe"] == 6


def test_quality_score_range(docs):
    scored = text.quality_score(docs.limit(50))
    rows = scored.select("quality_score", "n_tokens", "punct_ratio").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    assert all(r["n_tokens"] > 0 for r in rows)


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house with food"),
            (2, "der hund und die katze ist nicht ein problem"),
            (3, "le chat est dans la maison pour les enfants"),
            (4, "el perro es una mascota para los niños en casa"),
            (5, "你好 世界"),
            (6, "zzz qqq xxx"),
            (7, "il problema non sono gli anni ma questo tempo che passa più veloce"),
            (8, "o problema não são os anos mas como foi mais difícil pelo tempo"),
            (9, "het is niet een probleem maar ook deze keer zijn er voor naar"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert got == {
        1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und",
        7: "it", 8: "pt", 9: "nl",
    }


def test_language_id_scripts(spark):
    df = spark.createDataFrame(
        [
            (1, "こんにちは 世界"),          # kana present -> ja, not zh
            (2, "日本語の文章です"),           # kana の/です -> ja
            (3, "你好 世界"),                  # kanji only -> zh
            (4, "안녕하세요 세계"),             # hangul -> ko
            (5, "привет мир как дела"),          # cyrillic -> ru
            (6, "γεια σου κόσμε"),               # greek -> el
            (7, "مرحبا بالعالم"),                 # arabic -> ar
            (8, "שלום עולם"),                    # hebrew -> he
            (9, "नमस्ते दुनिया"),                  # devanagari -> hi
            (10, "สวัสดีชาวโลก"),                 # thai -> th
            (11, "für die der und das ist"),     # non-ASCII Latin -> lexicon
            (12, "the quick brown fox and the dog"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert got == {
        1: "ja", 2: "ja", 3: "zh", 4: "ko", 5: "ru", 6: "el",
        7: "ar", 8: "he", 9: "hi", 10: "th", 11: "de", 12: "en",
    }


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")], ["id", "text"]
    )
    rows = text.fingerprint(df).select("id", "fingerprint").collect()
    fp = {r["id"]: r["fingerprint"] for r in rows}
    assert fp[1] == fp[2] != fp[3]


# ---------------------------------------------------------------- dedup

def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], ["text"])
    rows = df.select(dedup.shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == ["x y"]  # shorter than n -> whole doc


def test_exact_dedup_representatives(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")], ["doc_id", "text"]
    )
    reps = dedup.exact_dedup_representatives(df, F.col("text")).collect()
    by_keep = {r["keep_id"]: r["n_members"] for r in reps}
    assert by_keep == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("runs", "walks")
    other = "completely different content about spark sql engines and distributed query processing systems"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_lsh_pairs(df, verify_threshold=0.4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got  # exact dup
    assert (1, 2) in got  # near dup
    assert all(3 not in p for p in got)
    exact = [r for r in pairs if (r["id_a"], r["id_b"]) == (1, 4)][0]
    assert exact["jaccard"] == 1.0


def test_minhash_probe_pairs_incremental(spark):
    """The incremental ingestion probe: a NEW batch deduped against an
    EXISTING corpus must find exactly the cross pairs the self-join
    finds (restricted to batch x corpus), never corpus-internal or
    batch-internal pairs."""
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("runs", "walks")
    other = "completely different content about spark sql engines and distributed query processing systems"
    corpus = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, other)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(101, base), (102, "fresh unrelated text about cooking pasta at home with garlic and olive oil")],
        ["doc_id", "text"],
    )
    got = {
        (r["batch_id"], r["corpus_id"]): r["jaccard"]
        for r in dedup.minhash_probe_pairs(
            corpus, batch, verify_threshold=0.4
        ).collect()
    }
    assert (101, 1) in got and got[(101, 1)] == 1.0  # exact dup
    assert (101, 2) in got  # near dup
    assert all(b == 101 for b, _ in got)  # batch 102 matches nothing
    assert all(c in (1, 2) for _, c in got)
    # corpus-internal dup (3,4) must NOT appear: the probe never pairs
    # corpus docs with each other (that's the self-join's job)
    assert (3, 4) not in got and (4, 3) not in got
    # parity with the self-join on the union, restricted to cross pairs
    union = corpus.union(batch)
    self_pairs = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in dedup.minhash_lsh_pairs(union, verify_threshold=0.4).collect()
        if (r["id_a"] >= 100) != (r["id_b"] >= 100)
    }
    assert set(got) == self_pairs
    with pytest.raises(ValueError):
        dedup.minhash_probe_pairs(corpus, batch, num_perm=64, bands=7)


def test_minhash_index_probe_parity_and_append(spark, sf_dir, tmp_path):
    """VERDICT r8 missing #1: probe off the LOADED index must equal
    minhash_probe_pairs (which re-derives corpus postings from text),
    and probe AFTER APPEND must equal the probe against the grown
    corpus — daily admission without ever re-pairing the corpus."""
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    part_a = docs.filter(F.col("doc_id") % 4 == 1)
    part_b = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    path = str(tmp_path / "mh_idx")

    def key(rows):
        return sorted(
            (r["batch_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in rows
        )

    idx = dedup.MinHashIndex(part_a)
    idx.write(spark, path)
    loaded = dedup.MinHashIndex.load(
        spark, path, expect={"num_perm": 64, "bands": 16}
    )
    got = key(loaded.probe(batch, verify_threshold=0.3).collect())
    want = key(
        dedup.minhash_probe_pairs(part_a, batch, verify_threshold=0.3).collect()
    )
    assert got == want and len(got) > 0

    # append part_b: probe now sees the grown corpus, identical to a
    # from-text probe against the union
    loaded.append(part_b)
    got2 = key(loaded.probe(batch, verify_threshold=0.3).collect())
    want2 = key(
        dedup.minhash_probe_pairs(
            part_a.union(part_b), batch, verify_threshold=0.3
        ).collect()
    )
    assert got2 == want2
    assert len(got2) >= len(got)  # a bigger corpus can only add pairs

    # ...and equals the SELF-join on the grown corpus restricted to
    # cross (batch x corpus) pairs — the q105/q31 equivalence
    union_all = part_a.union(part_b).union(batch)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    self_pairs = sorted(
        (
            (r["id_a"], r["id_b"]) if r["id_a"] in batch_ids else (r["id_b"], r["id_a"]),
            round(r["jaccard"], 9),
        )
        for r in dedup.minhash_lsh_pairs(union_all, verify_threshold=0.3).collect()
        if (r["id_a"] in batch_ids) != (r["id_b"] in batch_ids)
    )
    assert [(b, c, j) for (b, c), j in self_pairs] == got2

    # stale-artifact discipline (the IVFIndex contract)
    with pytest.raises(dedup.MinHashIndexMismatch):
        dedup.MinHashIndex.load(spark, path, expect={"num_perm": 128})
    # append on an un-persisted index refuses
    with pytest.raises(ValueError, match="write"):
        dedup.MinHashIndex(part_a).append(part_b)
    with pytest.raises(ValueError):
        dedup.MinHashIndex(part_a, num_perm=64, bands=7)

    # re-writing a disk-backed index onto its OWN path must not
    # self-overwrite the files it reads (meta-only refresh; same
    # regression class as test_ivf_write_is_idempotent)
    loaded.write(spark, path)
    again = dedup.MinHashIndex.load(spark, path)
    assert key(again.probe(batch, verify_threshold=0.3).collect()) == got2


def test_minhash_index_admit(spark, sf_dir, tmp_path):
    """admit() = probe + dominated intra-batch dedup + append of the
    survivors only. Pins the policy on a hand-built batch (corpus-dup
    dropped; row dominated by an already-dropped lower id STILL
    dropped — dominance is a pair property; unique row survives) and
    the survivor equivalence on real docs."""
    from qcache_spark.session import load_table

    # ---- policy pins on synthetic rows
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # corpus dup
            (11, "alpha beta gamma delta epsilon"),  # corpus dup AND
            #    dominated by 10 — dropped under either rule
            (20, "zeta eta theta iota kappa"),       # corpus-novel
            (21, "zeta eta theta iota kappa"),       # dominated by 20
            (12, "mu nu xi omicron pi rho"),         # unique
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_admit_syn")
    idx = dedup.MinHashIndex(corpus)
    idx.write(spark, path)
    kept = idx.admit(batch)
    assert sorted(kept.columns) == ["doc_id", "text"]
    assert {r["doc_id"] for r in kept.collect()} == {12, 20}
    assert idx.sets.count() == 3  # corpus + the two survivors
    # intra_batch=False drops only CORPUS dups: the batch-internal
    # duplicate 21 is admitted alongside 20
    idx2 = dedup.MinHashIndex(corpus)
    idx2.write(spark, str(tmp_path / "mh_admit_syn2"))
    kept2 = idx2.admit(batch, intra_batch=False)
    assert {r["doc_id"] for r in kept2.collect()} == {12, 20, 21}

    # ---- survivor equivalence on real documents
    docs = load_table(spark, sf_dir, "documents").limit(400)
    corpus = docs.filter(
        (F.col("doc_id") % 4 == 1) | (F.col("doc_id") % 4 == 2)
    )
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    path = str(tmp_path / "mh_admit")
    idx = dedup.MinHashIndex(corpus)
    idx.write(spark, path)
    got = {r["doc_id"] for r in idx.admit(batch, verify_threshold=0.3).collect()}
    corpus_dups = {
        r["batch_id"]
        for r in dedup.minhash_probe_pairs(
            corpus, batch, verify_threshold=0.3
        ).collect()
    }
    intra_dups = {
        r["id_b"]
        for r in dedup.minhash_lsh_pairs(
            batch, verify_threshold=0.3
        ).collect()
    }
    want = {
        r["doc_id"] for r in batch.select("doc_id").collect()
    } - corpus_dups - intra_dups
    assert got == want
    assert idx.sets.count() == corpus.count() + len(want)
    # un-persisted index refuses
    with pytest.raises(ValueError, match="write"):
        dedup.MinHashIndex(corpus).admit(batch)


def test_minhash_index_merge(spark, sf_dir, tmp_path):
    """merge() folds per-shard indexes into one: probe off the merged
    index equals probe off an index built on the union; an in-memory
    (unwritten) shard merges too; parameter mismatch refuses; a
    deleted doc on the incoming side is materialized out."""
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    half1 = docs.filter(F.col("doc_id") % 4 == 1)
    half2 = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    def key(rows):
        return sorted(
            (r["batch_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in rows
        )

    main = dedup.MinHashIndex(half1)
    main.write(spark, str(tmp_path / "mh_merge"))
    main.merge(dedup.MinHashIndex(half2))  # in-memory shard
    got = key(main.probe(batch, verify_threshold=0.3).collect())
    ref = dedup.MinHashIndex(half1.union(half2))
    ref.write(spark, str(tmp_path / "mh_merge_ref"))
    assert got == key(ref.probe(batch, verify_threshold=0.3).collect())
    assert len(got) > 0

    # incoming side with a pending deletion: materialized out
    shard = dedup.MinHashIndex(half2)
    shard.write(spark, str(tmp_path / "mh_shard"))
    gone = half2.limit(1).select("doc_id")
    shard.delete(gone)
    main2 = dedup.MinHashIndex(half1)
    main2.write(spark, str(tmp_path / "mh_merge2"))
    main2.merge(shard)
    gone_id = gone.first()["doc_id"]
    assert main2.sets.filter(F.col("_id") == gone_id).count() == 0
    assert (
        main2.sets.count() == half1.count() + half2.count() - 1
    )

    # guards
    with pytest.raises(dedup.MinHashIndexMismatch):
        main.merge(dedup.MinHashIndex(half2, num_perm=128, bands=16))
    with pytest.raises(ValueError, match="write"):
        dedup.MinHashIndex(half1).merge(dedup.MinHashIndex(half2))


def test_minhash_index_delete(spark, sf_dir, tmp_path):
    """delete() tombstones: probe-after-delete must equal a probe off
    an index REBUILT without the deleted docs (including bucket-cap
    effects); compact() materializes the deletions and clears the
    tombstones; admit() respects deletions (a doc equal to a deleted
    one is admittable again)."""
    import os

    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    gone = corpus.filter(F.col("doc_id") % 8 == 1)  # half of %4==1

    def key(rows):
        return sorted(
            (r["batch_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in rows
        )

    path = str(tmp_path / "mh_del")
    idx = dedup.MinHashIndex(corpus)
    idx.write(spark, path)
    full = key(idx.probe(batch, verify_threshold=0.3).collect())

    idx.delete(gone.select("doc_id"))
    after_del = key(idx.probe(batch, verify_threshold=0.3).collect())
    rebuilt = dedup.MinHashIndex(corpus.filter(F.col("doc_id") % 8 != 1))
    rebuilt.write(spark, str(tmp_path / "mh_del_ref"))
    assert after_del == key(
        rebuilt.probe(batch, verify_threshold=0.3).collect()
    )
    assert after_del != full  # the deletion actually removed pairs

    # a fresh load sees the tombstones
    loaded = dedup.MinHashIndex.load(spark, path)
    assert loaded.tombstones is not None
    assert key(loaded.probe(batch, verify_threshold=0.3).collect()) == after_del

    # compact materializes: tombstones dir gone, stored ids shrink,
    # probe unchanged
    n_gone = gone.count()
    n_before = loaded.sets.count()
    loaded.compact()
    assert loaded.tombstones is None
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    assert loaded.sets.count() == n_before - n_gone
    assert key(loaded.probe(batch, verify_threshold=0.3).collect()) == after_del

    # iterable form + guards
    loaded.delete([999_999])  # unknown id: harmless tombstone
    assert key(loaded.probe(batch, verify_threshold=0.3).collect()) == after_del
    with pytest.raises(ValueError, match="write"):
        dedup.MinHashIndex(corpus).delete([1])


def test_minhash_index_compact(spark, sf_dir, tmp_path):
    """compact() must merge append-accumulated small files into one
    bucket-sorted file per band WITHOUT changing probe results, flip
    the generation pointer so a fresh load() reads the compacted
    dirs, and keep appending after compaction working."""
    import os

    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(400)
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(3)]
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    path = str(tmp_path / "mh_idx_compact")

    def key(rows):
        return sorted(
            (r["batch_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in rows
        )

    idx = dedup.MinHashIndex(parts[0])
    idx.write(spark, path)
    idx.append(parts[1])
    idx.append(parts[2])
    before = key(idx.probe(batch, verify_threshold=0.3).collect())
    assert len(before) > 0

    stats = idx.compact()
    # 3 write rounds -> >= 3 files per band before; exactly 1 after
    assert stats["postings_files_before"] > stats["postings_files_after"]
    assert stats["postings_files_after"] == idx.bands
    assert idx.generation == 1
    assert os.path.isdir(os.path.join(path, "postings_g1"))
    # superseded generation 0 retained for in-flight readers (retain=1)
    assert stats["retained_generations"] == [0]
    assert os.path.isdir(os.path.join(path, "postings"))

    # probe parity across compaction, both in-hand and freshly loaded
    assert key(idx.probe(batch, verify_threshold=0.3).collect()) == before
    loaded = dedup.MinHashIndex.load(spark, path)
    assert loaded.generation == 1
    assert key(loaded.probe(batch, verify_threshold=0.3).collect()) == before

    # admission continues against the compacted generation
    loaded.append(batch.filter(F.col("doc_id") % 8 == 3))
    assert len(loaded.probe(batch, verify_threshold=0.3).collect()) >= len(
        before
    )

    # second compact flips to g2, keeps g1 in the retention window,
    # ages out g0; vacuum then drops g1 too
    rep2 = loaded.compact()
    assert loaded.generation == 2
    assert rep2["retained_generations"] == [1]
    assert rep2["removed_generations"] == [0]
    assert os.path.isdir(os.path.join(path, "postings_g2"))
    assert os.path.isdir(os.path.join(path, "postings_g1"))
    assert not os.path.isdir(os.path.join(path, "postings"))
    vrep = loaded.vacuum()
    assert vrep["removed_generations"] == [1]
    assert not os.path.isdir(os.path.join(path, "postings_g1"))
    assert len(loaded.probe(batch, verify_threshold=0.3).collect()) >= len(
        before
    )

    # un-persisted index refuses
    with pytest.raises(ValueError, match="write"):
        dedup.MinHashIndex(parts[0]).compact()


def test_minhash_index_probe_plan_has_no_corpus_shuffle(spark, sf_dir, tmp_path):
    """The probe's scale contract: stored postings reach the cap
    window through a broadcast SEMI join (touched buckets only) — the
    full postings table must never enter an Exchange unfiltered, and
    the batch sides arrive as BroadcastExchange."""
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    path = str(tmp_path / "mh_idx_plan")
    dedup.MinHashIndex(docs.filter(F.col("doc_id") % 2 == 0)).write(spark, path)
    loaded = dedup.MinHashIndex.load(spark, path)
    out = loaded.probe(docs.filter(F.col("doc_id") % 2 == 1))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    # the semi-join against broadcast batch keys must sit BELOW the
    # window's exchange: find the postings scan and check a broadcast
    # hash join (LeftSemi) references it before any shuffle exchange
    assert "LeftSemi" in plan


def test_token_budget_mix_exact_boundary(spark):
    """Per-domain selection stops exactly at the budget: the selected
    set's weight fits, and the next candidate in hash order would
    overflow. Deterministic under repartitioning."""
    from qcache_spark.operators.sampling import hash60, token_budget_mix

    rows = [(i, "web" if i % 2 else "code", 10 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "n_tok"])
    budgets = {"web": 300, "code": 137}
    out = token_budget_mix(
        df, "domain", "n_tok", budgets, key_col="doc_id", num_partitions=8
    ).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # python replica of the hash order for the boundary check
    hcol = hash60(F.col("doc_id"), 0, "md5")
    order = {
        d: [
            r["doc_id"]
            for r in df.filter(F.col("domain") == d)
            .select("doc_id", hcol.alias("h"))
            .orderBy("h", "doc_id")
            .collect()
        ]
        for d in budgets
    }
    w = {r[0]: r[2] for r in rows}
    for d, budget in budgets.items():
        sel = {r["doc_id"] for r in by_dom.get(d, [])}
        total = sum(w[i] for i in sel)
        assert total <= budget
        # selection must be the maximal hash-order prefix
        cum, expect = 0, set()
        for i in order[d]:
            if cum + w[i] > budget:
                break
            cum += w[i]
            expect.add(i)
        assert sel == expect, d
        assert total == cum
        # cum_col through the last selected row equals the prefix sum
        if by_dom.get(d):
            assert max(r["cum_weight"] for r in by_dom[d]) == cum
    # stable under a different physical layout
    again = token_budget_mix(
        df.repartition(3), "domain", "n_tok", budgets,
        key_col="doc_id", num_partitions=2,
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}
    # unbudgeted domains and null keys are excluded
    extra = spark.createDataFrame(
        [(900, "books", 5), (None, "web", 5)], ["doc_id", "domain", "n_tok"]
    )
    out2 = token_budget_mix(
        df.union(extra), "domain", "n_tok", budgets, key_col="doc_id"
    ).collect()
    assert all(r["domain"] in budgets for r in out2)
    assert all(r["doc_id"] is not None for r in out2)
    with pytest.raises(ValueError):
        token_budget_mix(df, "domain", "n_tok", {})
    with pytest.raises(ValueError):
        token_budget_mix(df, "domain", "n_tok", {"web": -1})
    # negative WEIGHTS break cumsum monotonicity -> loud refusal
    # (ADVICE r8: a silent non-contiguous selection would violate the
    # maximal-prefix contract)
    neg = spark.createDataFrame(
        [(1, "web", 10), (2, "web", -3)], ["doc_id", "domain", "n_tok"]
    )
    with pytest.raises(ValueError, match="negative weight"):
        token_budget_mix(neg, "domain", "n_tok", {"web": 100}).collect()


def test_token_budget_mix_upsampling_epochs(spark):
    """VERDICT r8 item 6: a budget 2.5x the domain's corpus repeats
    the domain's hash-order pass (with-replacement), stopping exactly
    at the budget mid-pass; fully-resourced domains stay a single
    epoch-1 prefix."""
    from collections import Counter

    from qcache_spark.operators.sampling import hash60, token_budget_mix

    # small: 10 docs x 10 tok = 100 total, budget 250 -> 2.5 passes;
    # big: 100 docs x 10 tok = 1000 total, budget 300 -> plain prefix
    rows = [(i, "small" if i < 10 else "big", 10) for i in range(110)]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "n_tok"])
    budgets = {"small": 250, "big": 300}
    out = token_budget_mix(df, "domain", "n_tok", budgets, epochs=4).collect()
    small = [r for r in out if r["domain"] == "small"]
    assert len(small) == 25  # 10 + 10 + 5
    assert sum(r["n_tok"] for r in small) == 250  # exact fill
    c = Counter(r["epoch"] for r in small)
    assert c == {1: 10, 2: 10, 3: 5}
    assert max(r["cum_weight"] for r in small) == 250
    # the partial pass selects the FIRST docs in hash order
    hcol = hash60(F.col("doc_id"), 0, "md5")
    order = [
        r["doc_id"]
        for r in df.filter(F.col("domain") == "small")
        .select("doc_id", hcol.alias("h"))
        .orderBy("h", "doc_id")
        .collect()
    ]
    assert sorted(r["doc_id"] for r in small if r["epoch"] == 3) == sorted(
        order[:5]
    )
    big = [r for r in out if r["domain"] == "big"]
    assert all(r["epoch"] == 1 for r in big)
    assert sum(r["n_tok"] for r in big) == 300
    # default epochs=1 under-fills the small domain (pre-r9 contract)
    one = token_budget_mix(df, "domain", "n_tok", budgets).collect()
    assert all(r["epoch"] == 1 for r in one)
    assert sum(r["n_tok"] for r in one if r["domain"] == "small") == 100
    with pytest.raises(ValueError):
        token_budget_mix(df, "domain", "n_tok", budgets, epochs=0)


def test_distribution_matched_sample(spark):
    """Integer-exact quotas: N = min floor(n*W/w), k = floor(w*N/W);
    selection is each group's hash-order prefix; an unachievable
    target (a group absent from the data) returns empty rather than a
    skewed sample."""
    from collections import Counter

    from qcache_spark.operators.sampling import (
        distribution_matched_sample,
        hash60,
    )

    # counts: en=60, de=25, es=15; target 6:2:2 (W=10)
    # N = min(60*10//6, 25*10//2, 15*10//2) = min(100, 125, 75) = 75
    # k = {en: 6*75//10=45, de: 2*75//10=15, es: 15}
    rows = [
        (i, "en" if i < 60 else ("de" if i < 85 else "es"))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    target = {"en": 6, "de": 2, "es": 2}
    out = distribution_matched_sample(df, "lang", target).collect()
    c = Counter(r["lang"] for r in out)
    assert c == {"en": 45, "de": 15, "es": 15}
    # achieved proportions are the floor-exact best: 45/75, 15/75, 15/75
    # selection per group = the k-prefix of the md5 hash order
    hcol = hash60(F.col("doc_id"), 0, "md5")
    for lang, k in [("en", 45), ("de", 15), ("es", 15)]:
        order = [
            r["doc_id"]
            for r in df.filter(F.col("lang") == lang)
            .select("doc_id", hcol.alias("h"))
            .orderBy("h", "doc_id")
            .collect()
        ]
        sel = sorted(r["doc_id"] for r in out if r["lang"] == lang)
        assert sel == sorted(order[:k]), lang
        ranks = sorted(r["sample_rank"] for r in out if r["lang"] == lang)
        assert ranks == list(range(1, k + 1))
    # stable under a different physical layout
    again = distribution_matched_sample(
        df.repartition(3), "lang", target, num_partitions=2
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}
    # a targeted group with no rows forces N = 0 -> empty, loudly not skewed
    assert (
        distribution_matched_sample(df, "lang", {"en": 1, "xx": 1}).count()
        == 0
    )
    # zero-weight groups are dropped from the sample entirely
    no_es = distribution_matched_sample(
        df, "lang", {"en": 1, "de": 1, "es": 0}
    ).collect()
    assert all(r["lang"] != "es" for r in no_es)
    with pytest.raises(ValueError):
        distribution_matched_sample(df, "lang", {})
    with pytest.raises(ValueError):
        distribution_matched_sample(df, "lang", {"en": -1})
    with pytest.raises(ValueError):
        distribution_matched_sample(df, "lang", {"en": 0})


def test_balanced_shards(spark):
    """Size-descending round-robin: assignment equals the sequential
    replica, per-shard weight totals differ by at most the largest
    single weight, and the result is stable under repartitioning."""
    from qcache_spark.operators.sampling import balanced_shards

    rows = [(i, (i * 37) % 100 + 1) for i in range(101)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = balanced_shards(
        df, "n_tok", 7, key_col="doc_id", rank_col="rk", num_partitions=5
    ).collect()
    assert len(out) == 101
    assert all(0 <= r["shard"] < 7 for r in out)
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    expect = {r[0]: i % 7 for i, r in enumerate(order)}
    assert {r["doc_id"]: r["shard"] for r in out} == expect
    assert {r["doc_id"]: r["rk"] for r in out} == {
        r[0]: i + 1 for i, r in enumerate(order)
    }
    # balance bound: pairwise shard-total gap <= max single weight
    sums: dict = {}
    w = dict(rows)
    for r in out:
        sums[r["shard"]] = sums.get(r["shard"], 0) + w[r["doc_id"]]
    assert max(sums.values()) - min(sums.values()) <= max(w.values())
    # stable under a different physical layout
    again = balanced_shards(
        df.repartition(3), "n_tok", 7, key_col="doc_id"
    ).collect()
    assert {r["doc_id"]: r["shard"] for r in again} == expect
    # null weight sorts as 0 (still assigned); null key excluded
    extra = spark.createDataFrame(
        [(900, None), (None, 50)], ["doc_id", "n_tok"]
    )
    out2 = balanced_shards(df.union(extra), "n_tok", 7).collect()
    assert len(out2) == 102
    ranked = {r["doc_id"] for r in out2}
    assert 900 in ranked and None not in ranked
    with pytest.raises(ValueError):
        balanced_shards(df, "n_tok", 0)


def test_minhash_sensitivity(docs):
    # sanity at testdata scale: runs, returns plausible jaccards
    pairs = dedup.minhash_lsh_pairs(
        docs.limit(200), verify_threshold=0.2, shingle_size=3
    )
    rows = pairs.collect()
    assert all(0.2 <= r["jaccard"] <= 1.0 for r in rows)


def test_simhash_and_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running through the forest"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),  # tiny edit -> small hamming
            (3, "totally unrelated document talking about database engines"),
        ],
        ["doc_id", "text"],
    )
    sh = dedup.simhash(df).select("doc_id", "simhash").collect()
    vals = {r["doc_id"]: r["simhash"] for r in sh}
    assert len(set(vals.values())) == 3  # distinct hashes

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(vals[1], vals[2]) < hamming(vals[1], vals[3])

    pairs = dedup.simhash_pairs(df, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "z z z")], ["doc_id", "text"]
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    rows = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, cand).collect()
    }
    # shingles(3): {abc,bcd,cde} vs {abc,bcd,cdf}: inter 2, union 4
    assert rows[(1, 2)] == 0.5
    assert rows[(1, 3)] == 0.0


def test_dedup_clusters(spark):
    pairs = spark.createDataFrame([(1, 4), (1, 2)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs, ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 1}


def test_dedup_clusters_transitive_chain(spark):
    # chain 5-6, 6-7, 7-8 must collapse to one cluster (fixpoint)
    pairs = spark.createDataFrame([(5, 6), (6, 7), (7, 8)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(5,), (6,), (7,), (8,), (9,)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs, ids).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 9}


# ------------------------------------------------------------ similarity

def test_cosine_topk_exact(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    rows = similarity.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in rows] == [1, 2]
    assert rows[0]["cosine"] == pytest.approx(1.0)


def test_cosine_topk_on_testdata(embeddings):
    q = embeddings.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rows = similarity.cosine_topk(embeddings, list(q), k=5).collect()
    assert rows[0]["vec_id"] == 0
    assert rows[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert all(rows[i]["cosine"] >= rows[i + 1]["cosine"] for i in range(4))


def test_ivf_matches_brute_force_top1(embeddings):
    sample = embeddings.limit(300).cache()
    q = sample.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    index = similarity.IVFIndex(sample, n_centroids=8, iters=1)
    ivf_top = index.search(list(q), k=3, n_probe=3).collect()
    brute_top = similarity.cosine_topk(sample, list(q), k=1).collect()
    assert ivf_top[0]["vec_id"] == brute_top[0]["vec_id"] == 7


def test_ivf_recall_sweep(embeddings):
    """recall@k grows with n_probe and reaches 1.0 when every cluster
    is probed (n_probe = n_centroids makes IVF exhaustive)."""
    sample = embeddings.limit(300).cache()
    q = sample.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    index = similarity.IVFIndex(sample, n_centroids=8, iters=1)
    exact = similarity.cosine_topk(sample, list(q), k=10)
    recalls = [
        similarity.recall_at_k(index.search(list(q), k=10, n_probe=p), exact)
        for p in (1, 4, 8)
    ]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))  # monotone
    assert recalls[-1] == 1.0  # exhaustive probe == brute force


def test_embedding_dup_pairs(spark):
    v = [1.0, 2.0, 3.0, 4.0]
    v_near = [1.01, 2.0, 3.0, 4.0]
    v_far = [-4.0, 3.0, -2.0, 1.0]
    df = spark.createDataFrame(
        [(1, v), (2, v_near), (3, v_far)], ["vec_id", "embedding"]
    )
    rows = similarity.embedding_dup_pairs(df, threshold=0.99, bands=4, n_planes=16)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in rows.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.999
    assert all(3 not in k for k in got)
    # the gate-portable sequential-fold signature finds the same pairs
    expr_rows = similarity.embedding_dup_pairs(
        df, threshold=0.99, bands=4, n_planes=16, use_expr_signature=True
    )
    assert {(r["id_a"], r["id_b"]) for r in expr_rows.collect()} == set(got)


def test_ivf_partitioned_write_prunes(spark, embeddings, tmp_path):
    sample = embeddings.limit(200)
    index = similarity.IVFIndex(sample, n_centroids=4, iters=0)
    out = str(tmp_path / "ivf")
    index.write(spark, out)
    loaded = similarity.IVFIndex.load(spark, out)
    assert loaded.centroids == index.centroids
    q = sample.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    res = loaded.search(list(q), k=1, n_probe=1)
    assert res.collect()[0]["vec_id"] == 3
    # the probe must be a partition PRUNE on the file index
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster_id" in plan or "PartitionFilters: [isnotnull(cluster_id" in plan or "cluster_id#" in plan.split("PartitionFilters")[1][:120]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """SCALING.md §3 evidence: co-bucketed tables join without an
    Exchange (the 100 TB fact-fact join strategy)."""
    a = spark.range(1000).selectExpr("id as k", "id * 2 as v1")
    b = spark.range(1000).selectExpr("id as k", "id * 3 as v2")
    a.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bj_a")
    b.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bj_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bj_a").join(spark.table("bj_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def test_salted_aggregate_matches_direct(spark, sf_dir):
    from qcache_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "qty": ("sum", "l_quantity"),
            "n": ("count", "l_orderkey"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
            "avg_qty": ("avg", "l_quantity"),
        },
        salt_buckets=8,
    )
    direct = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.count("l_orderkey").alias("n"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.avg("l_quantity").alias("avg_qty"),
    )
    s = {r["l_returnflag"]: r for r in salted.collect()}
    d = {r["l_returnflag"]: r for r in direct.collect()}
    assert s.keys() == d.keys()
    for k in s:
        assert s[k]["qty"] == d[k]["qty"]  # integral-valued -> exact
        assert s[k]["n"] == d[k]["n"]
        assert s[k]["min_price"] == d[k]["min_price"]
        assert s[k]["max_price"] == d[k]["max_price"]
        assert s[k]["avg_qty"] == pytest.approx(d[k]["avg_qty"], rel=1e-12)


def test_salted_aggregate_rejects_nondecomposable(spark, sf_dir):
    from qcache_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        salted_aggregate(li, ["l_returnflag"], {"m": ("median", "l_quantity")})


def test_dedup_clusters_converged_flag(spark):
    # an 8-node chain can't reach + observe the star-forest fixpoint
    # in 1 round; the result must say so instead of silently
    # under-merging. At the default budget it must converge.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(10, 18)], ["doc_id"])
    res_short = dedup.dedup_clusters(pairs, ids, max_iters=1)
    res_short.collect()
    assert res_short.converged is False
    res_full = dedup.dedup_clusters(pairs, ids, max_iters=10)
    got = {r["doc_id"]: r["cluster_id"] for r in res_full.collect()}
    assert res_full.converged is True
    assert set(got.values()) == {10}


def test_dedup_clusters_long_chain_converges(spark):
    """VERDICT r2 advice #6 / r4 item 6: a 100-node path graph — the
    worst case for per-hop label propagation (needs 100 rounds) — must
    fully merge AND report converged=True at the default budget; the
    alternating star algorithm needs only ~log(L) rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(101)], ["doc_id"])
    res = dedup.dedup_clusters(pairs, ids)
    got = {r["doc_id"]: r["cluster_id"] for r in res.collect()}
    assert res.converged is True
    assert set(got.values()) == {0}
    assert len(got) == 101


def test_dedup_clusters_two_components_and_isolate(spark):
    # two separate components + an isolated node keep distinct labels
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"])
    res = dedup.dedup_clusters(pairs, ids)
    got = {r["doc_id"]: r["cluster_id"] for r in res.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_reliable_checkpoint_dir(spark, tmp_path):
    # VERDICT r5 item 6: checkpoint_dir switches the per-round lineage
    # truncation from localCheckpoint (executor blocks) to reliable
    # .checkpoint() into the given directory. Same labels; checkpoint
    # files must actually land in the dir (proving the plan was cut
    # there, not on executor-local storage).
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["doc_id"])
    res = dedup.dedup_clusters(pairs, ids, checkpoint_dir=ckpt)
    got = {r["doc_id"]: r["cluster_id"] for r in res.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}
    assert res.converged
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert files, "reliable checkpoint wrote nothing into checkpoint_dir"


def test_edit_distance_pairs_blocking_and_cap(spark):
    df = spark.createDataFrame(
        [
            (1, "red widget"),
            (2, "rad widget"),      # dist 1 from id 1, same block
            (3, "bluish widget"),   # dist 5 from id 1 -> over max_dist
            (4, "red gear"),        # different block, never compared
            (5, "ted widget"),      # dist 1 from 1, dist 2 from 2
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.edit_distance_pairs(df, max_dist=2).collect()
    }
    assert got == {(1, 2): 1, (1, 5): 1, (2, 5): 2}

    # cap=2 keeps only the two lowest ids per block -> id 5 drops out
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.edit_distance_pairs(df, max_dist=2, block_cap=2).collect()
    }
    assert capped == {(1, 2)}

    # custom block key: length bucket finds a cross-noun pair the
    # default (last-token) blocking cannot see — POSITIVE proof the
    # parameter is honored, not just absence that holds either way
    from pyspark.sql import functions as F

    df2 = df.union(
        spark.createDataFrame([(6, "red tear")], ["doc_id", "text"])
    )  # "red gear" (id 4) vs "red tear": dist 1, same length 8,
    #    different last token -> invisible to default blocking
    default_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.edit_distance_pairs(df2, max_dist=2).collect()
    }
    assert (4, 6) not in default_pairs
    length_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.edit_distance_pairs(
            df2, block_key=F.length("text"), max_dist=2
        ).collect()
    }
    assert (4, 6) in length_pairs


def test_edit_distance_pairs_cap_plan_has_window_group_limit(spark):
    # the block_cap row_number filter must compile to a pre-shuffle
    # WindowGroupLimit heap (map-side truncation of oversized blocks)
    df = spark.createDataFrame([(i, f"name {i%3}") for i in range(30)], ["doc_id", "text"])
    plan = (
        dedup.edit_distance_pairs(df, block_cap=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_ivf_write_is_idempotent(spark, embeddings, tmp_path):
    # rewriting an index to the same path must overwrite _meta too
    # (regression: saveAsTextFile threw FileAlreadyExistsException)
    sample = embeddings.limit(50)
    index = similarity.IVFIndex(sample, n_centroids=2, iters=0)
    out = str(tmp_path / "ivf_rw")
    index.write(spark, out)
    index.write(spark, out)
    loaded = similarity.IVFIndex.load(spark, out)
    assert loaded.n_centroids == 2
    assert loaded.centroids == index.centroids


def test_ivf_load_rejects_stale_artifacts(spark, embeddings, tmp_path):
    # VERDICT r5 item 8: a persisted index from an older code version
    # (different format_version) or a different parameterization must
    # refuse to load instead of silently serving wrong probes.
    import json

    sample = embeddings.limit(50)
    out = str(tmp_path / "ivf_pin")
    similarity.IVFIndex(sample, n_centroids=2, iters=0).write(spark, out)

    # param mismatch -> IVFIndexMismatch
    with pytest.raises(similarity.IVFIndexMismatch):
        similarity.IVFIndex.load(spark, out, expect={"n_centroids": 8})
    # matching expectation loads fine
    loaded = similarity.IVFIndex.load(
        spark, out, expect={"n_centroids": 2, "iters": 0}
    )
    assert loaded.n_centroids == 2

    # simulate a pre-versioning artifact: rewrite _meta without the tag
    # (written as the LEGACY parquet-directory sidecar, so this also
    # covers read_meta_sidecar's compat branch)
    from qcache_spark import hadoopfs as hfs

    meta = hfs.read_meta_sidecar(spark, out)
    del meta["format_version"]
    hfs.delete(spark, out + "_meta")
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode("overwrite").parquet(out + "_meta")
    with pytest.raises(similarity.IVFIndexMismatch):
        similarity.IVFIndex.load(spark, out)


def test_ivf_cache_path_varies_with_params_and_version(monkeypatch):
    # changing IVF params or bumping the format version must land the
    # q70 cache on a fresh path (stale artifacts become unreachable)
    import __spark_entry__ as entrymod
    from qcache_spark.operators import similarity as sim

    p1 = entrymod._ivf_cache_path("/data/sf0.01", n_centroids=8, iters=1)
    p2 = entrymod._ivf_cache_path("/data/sf0.01", n_centroids=16, iters=1)
    p3 = entrymod._ivf_cache_path("/data/sf0.01", n_centroids=8, iters=2)
    monkeypatch.setattr(sim, "IVF_FORMAT_VERSION", sim.IVF_FORMAT_VERSION + 1)
    p4 = entrymod._ivf_cache_path("/data/sf0.01", n_centroids=8, iters=1)
    assert len({p1, p2, p3, p4}) == 4


def test_simhash_md5_variant_matches_reimplementation(spark):
    # the md5 hash_fn exists solely for oracle replication: check the
    # sketch against an independent python reimplementation
    import hashlib

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "a b a")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, hash_fn="md5").collect()}

    def py_simhash(text):
        toks = [t for t in text.strip().lower().split() if t]
        acc = [0] * 64
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(64):
                acc[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(64) if acc[j] > 0)

    for doc_id, text in [(1, "the quick brown fox"), (2, ""), (3, "a b a")]:
        assert got[doc_id] == py_simhash(text), doc_id


def test_cosine_pairs_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in similarity.cosine_pairs(df, cand).collect()}
    assert abs(got[(1, 2)] - 1.0) < 1e-12
    assert abs(got[(1, 3)]) < 1e-12


def test_media_from_documents_features(spark, sf_dir):
    import hashlib

    from qcache_spark.operators import multimodal as mm
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    feats = mm.extract_image_features(mm.media_from_documents(docs))
    texts = {r["doc_id"]: r["text"] or "" for r in docs.collect()}
    for r in feats.collect():
        payload = texts[r["media_id"]].encode("utf-8")
        digest = hashlib.sha256(payload).digest()
        assert r["payload_sha256"] == hashlib.sha256(payload).hexdigest()
        assert r["payload_bytes"] == len(payload)
        assert r["height"] == 8 + digest[0] % 8
        assert r["width"] == 8 + digest[1] % 8


def test_repetition_stats(spark):
    from qcache_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # 6 tokens, 2 distinct, 2-grams all dup
            (2, "w x y z"),              # fully distinct
            (3, "one"),                  # single token: no 2-grams
            (4, "l1\nl2\nl1\nl1"),       # duplicate lines
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["distinct_token_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    # 5 2-grams: 'a b' x3, 'b a' x2 -> 2 distinct -> dup frac 3/5
    assert rows[1]["dup_2gram_frac"] == pytest.approx(0.6, abs=1e-6)
    assert rows[2]["distinct_token_ratio"] == 1.0
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert rows[3]["dup_2gram_frac"] == 0.0  # no 2-grams -> defined 0
    assert rows[4]["dup_line_ratio"] == pytest.approx(0.5, abs=1e-6)  # 4 lines, 2 distinct
    assert rows[1]["dup_line_ratio"] == 0.0


def test_pii_stats_and_redact(spark):
    from qcache_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call +1-555-0100-222"),
            (2, "server at 192.168.0.1 and 10.0.0.255 ok"),
            (3, "clean text with no identifiers at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in T.pii_redact(T.pii_stats(df)).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (1, 1, 0)
    assert "<EMAIL>" in out[1]["text_redacted"]
    assert "<PHONE>" in out[1]["text_redacted"]
    assert "example.co.uk" not in out[1]["text_redacted"]
    assert out[2]["n_ipv4"] == 2
    assert out[2]["text_redacted"] == "server at <IPV4> and <IPV4> ok"
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ipv4"]) == (0, 0, 0)
    assert out[3]["text_redacted"] == out[3]["text"]


def test_stratified_sample(spark):
    from qcache_spark.operators import sampling

    rows = [(i, "g%d" % (i % 3)) for i in range(300)] + [(None, "g0")]
    df = spark.createDataFrame(rows, ["k", "g"])
    out = sampling.stratified_sample(df, "g", 10, "k", seed=3)
    got = out.collect()
    # exactly n per group, ranks 1..n, null keys excluded
    by_group = {}
    for r in got:
        assert r["k"] is not None
        by_group.setdefault(r["g"], []).append(r["sample_rank"])
    assert set(by_group) == {"g0", "g1", "g2"}
    assert all(sorted(v) == list(range(1, 11)) for v in by_group.values())
    # deterministic under re-partitioning
    again = sampling.stratified_sample(df.repartition(7), "g", 10, "k", seed=3)
    assert sorted((r["g"], r["k"]) for r in got) == sorted(
        (r["g"], r["k"]) for r in again.collect()
    )
    # the rank filter becomes a pre-shuffle bounded heap
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    with pytest.raises(ValueError):
        sampling.stratified_sample(df, "g", 0, "k")


def test_hash_sample_deterministic_and_partition_stable(spark):
    from qcache_spark.operators import sampling

    df = spark.range(2000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.3, seed=5).collect())
    b = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.3, seed=5).collect())
    assert a == b
    # Re-partitioning must not change the selected rows (df.sample would).
    c = sorted(
        r["k"]
        for r in sampling.hash_sample(df.repartition(7), "k", 0.3, seed=5).collect()
    )
    assert a == c
    # Roughly the requested fraction survives.
    assert 0.25 < len(a) / 2000 < 0.35
    # Different seed -> different (but still deterministic) sample.
    d = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.3, seed=6).collect())
    assert a != d
    # Edge fractions.
    assert sampling.hash_sample(df, "k", 0.0).count() == 0
    assert sampling.hash_sample(df, "k", 1.0).count() == 2000


def test_hash_sample_md5_matches_xxhash_semantics(spark):
    from qcache_spark.operators import sampling

    df = spark.range(1000).withColumnRenamed("id", "k")
    n_md5 = sampling.hash_sample(df, "k", 0.5, seed=1, hash_fn="md5").count()
    n_xx = sampling.hash_sample(df, "k", 0.5, seed=1, hash_fn="xxhash64").count()
    assert 0.4 < n_md5 / 1000 < 0.6
    assert 0.4 < n_xx / 1000 < 0.6
    with pytest.raises(ValueError):
        sampling.hash_sample(df, "k", 1.5)
    with pytest.raises(ValueError):
        sampling.hash60(F.col("k"), hash_fn="crc32")


def test_train_test_split_partitions_and_stability(spark):
    from qcache_spark.operators import sampling

    df = spark.range(3000).withColumnRenamed("id", "k")
    weights = {"train": 8, "valid": 1, "test": 1}
    out = sampling.train_test_split(df, "k", weights, seed=3)
    rows = out.collect()
    # Total coverage: every row gets exactly one split label.
    assert len(rows) == 3000
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "valid", "test"}
    assert 0.75 < counts["train"] / 3000 < 0.85
    assert 0.06 < counts["valid"] / 3000 < 0.14
    # Stable under repartition: same key -> same split.
    again = {
        r["k"]: r["split"]
        for r in sampling.train_test_split(
            df.repartition(13), "k", weights, seed=3
        ).collect()
    }
    for r in rows:
        assert again[r["k"]] == r["split"]
    with pytest.raises(ValueError):
        sampling.train_test_split(df, "k", {})
    with pytest.raises(ValueError):
        sampling.train_test_split(df, "k", {"a": -1, "b": 2})


def test_hash_split_null_keys_drop_from_sample(spark):
    from qcache_spark.operators import sampling

    df = spark.createDataFrame([(1,), (None,), (2,)], ["k"])
    kept = sampling.hash_sample(df, "k", 1.0).collect()
    assert sorted(r["k"] for r in kept) == [1, 2]  # NULL key never samples
    out = {r["k"]: r["split"] for r in sampling.train_test_split(df, "k", {"a": 1, "b": 1}).collect()}
    assert out[None] is None  # no stable identity -> no split bucket
    assert out[1] in ("a", "b") and out[2] in ("a", "b")


def test_canonical_representatives_quality_beats_id(spark):
    # Cluster A: doc 1 (low quality) vs doc 2 (high quality) -> keep 2,
    # even though min-id dedup would keep 1. Cluster B: exact tie ->
    # lowest id. Singleton keeps itself.
    df = spark.createDataFrame(
        [
            (1, "a", 0.2),
            (2, "a", 0.9),
            (3, "b", 0.5),
            (4, "b", 0.5),
            (5, "c", 0.1),
        ],
        ["doc_id", "k", "q"],
    )
    out = {
        r["keep_id"]: r
        for r in dedup.canonical_representatives(df, F.col("k"), "q").collect()
    }
    assert set(out) == {2, 3, 5}
    assert out[2]["n_members"] == 2 and out[2]["best_quality"] == 0.9
    assert out[3]["n_members"] == 2 and out[3]["best_quality"] == 0.5
    assert out[5]["n_members"] == 1


def test_bm25_top_terms_small_corpus(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    out = text.bm25_top_terms(df, k=2)
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    # Reference implementation (same formula, plain python).
    tf = {1: {"apple": 2, "banana": 1}, 2: {"banana": 1, "cherry": 1},
          3: {"cherry": 3, "durian": 1}}
    dfreq = {"apple": 1, "banana": 2, "cherry": 2, "durian": 1}
    dls = {d: sum(t.values()) for d, t in tf.items()}
    avgdl = sum(dls.values()) / 3
    def bm25(d, term):
        idf = math.log(1.0 + (3 - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
        t = tf[d][term]
        return idf * (t * 2.2) / (t + 1.2 * (1.0 - 0.75 + 0.75 * dls[d] / avgdl))
    for d in tf:
        ranked = sorted(tf[d], key=lambda t: (-bm25(d, t), t))[:2]
        for i, term in enumerate(ranked, start=1):
            r = rows[(d, i)]
            assert r["term"] == term, (d, i, r["term"], term)
            assert r["bm25"] == pytest.approx(round(bm25(d, term), 6), abs=1e-6)
    # every doc emits at most k rows
    assert len(rows) == sum(min(len(t), 2) for t in tf.values())


def _asof_fixture(spark):
    from datetime import datetime as DT

    left = spark.createDataFrame(
        [
            (1, 10, DT(2024, 1, 5)),
            (2, 10, DT(2024, 1, 1)),   # before any right row
            (3, 10, DT(2024, 1, 3)),   # exactly equal ts -> inclusive
            (4, 20, DT(2024, 1, 9)),   # key with tie rows
            (5, 30, DT(2024, 1, 9)),   # key absent on right
            (6, None, DT(2024, 1, 9)), # NULL key never matches
            (7, 10, None),             # NULL ts never matches
        ],
        ["event_id", "k", "t"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, DT(2024, 1, 3), 3.0),
            (101, 10, DT(2024, 1, 4), 4.0),
            (102, 20, DT(2024, 1, 2), 1.0),
            (103, 20, DT(2024, 1, 2), 2.0),   # same (k, t): higher rid wins backward
            (104, None, DT(2024, 1, 1), 9.0), # NULL key dropped
            (105, 20, None, 9.0),             # NULL ts dropped
        ],
        ["rid", "rk", "rt", "val"],
    )
    return left, right


def test_asof_join_backward(spark):
    from qcache_spark.operators import asof

    left, right = _asof_fixture(spark)
    out = {
        r["event_id"]: (r["rid"], r["val"])
        for r in asof.asof_join(
            left, right, "t", "rt", "k", "rk", ["rid", "val"], "rid"
        ).collect()
    }
    assert len(out) == 7  # left join: every left row survives
    assert out[1] == (101, 4.0)   # latest <= Jan 5
    assert out[2] == (None, None)
    assert out[3] == (100, 3.0)   # inclusive bound
    assert out[4] == (103, 2.0)   # tie -> highest rid
    assert out[5] == (None, None)
    assert out[6] == (None, None)
    assert out[7] == (None, None)


def test_asof_join_forward_and_errors(spark):
    from qcache_spark.operators import asof

    left, right = _asof_fixture(spark)
    out = {
        r["event_id"]: (r["rid"], r["val"])
        for r in asof.asof_join(
            left, right, "t", "rt", "k", "rk", ["rid", "val"], "rid",
            direction="forward",
        ).collect()
    }
    assert out[2] == (100, 3.0)   # earliest >= Jan 1
    assert out[3] == (100, 3.0)   # inclusive
    assert out[1] == (None, None) # nothing at/after Jan 5
    assert out[4] == (None, None)
    with pytest.raises(ValueError):
        asof.asof_join(left, right, "t", "rt", "k", "rk", ["rid"], "rid",
                       direction="nearest")
    with pytest.raises(ValueError):
        # right col collides with a left column name
        asof.asof_join(left, right.withColumnRenamed("rid", "k"),
                       "t", "rt", "k", "rk", ["k"], "k")


def test_chunk_pack_invariants_random_texts(spark):
    """Property check over random texts: every token lands in ≥1
    chunk, chunk starts advance by the stride, first-chunk coverage is
    exact, and packing preserves every chunk exactly once with
    contiguous per-bucket tape offsets."""
    import random as _random

    from qcache_spark.operators import text as T

    rng = _random.Random(1234)
    words = ["alpha", "beta", "g", "delta42", "ε", "ζη", "x9", ".,!"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    chunk_size, stride = 7, 3
    chunks = T.chunk_documents(df, chunk_size=chunk_size, stride=stride)
    got = chunks.collect()

    import re

    for doc_id, text in rows:
        toks = [t for t in re.split(r"[^\w]+", text.lower(), flags=re.UNICODE) if t]
        mine = sorted(
            (r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
            for r in got if r["doc_id"] == doc_id
        )
        if not toks:
            assert mine == []
            continue
        starts = list(range(0, len(toks), stride))
        assert len(mine) == len(starts)
        for (cid, n, ctext), s in zip(mine, starts):
            expect = toks[s: s + chunk_size]
            assert (cid, n, ctext) == (s // stride, len(expect), " ".join(expect))

    packed = T.pack_sequences(chunks, token_budget=11, n_buckets=3).collect()
    assert len(packed) == len(got)  # packing never drops/duplicates
    by_bucket = {}
    for r in packed:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rows_b in by_bucket.values():
        rows_b.sort(key=lambda r: (r["doc_id"], r["chunk_id"]))
        offset = 0
        for r in rows_b:
            assert r["tape_offset"] == offset          # contiguous tape
            assert r["pack_id"] == offset // 11        # aligned windows
            offset += r["n_chunk_tokens"]


def test_pack_sequences(spark):
    from qcache_spark.operators import text as T

    chunks = spark.createDataFrame(
        [(d, c, 30) for d in range(1, 5) for c in range(3)],
        ["doc_id", "chunk_id", "n_chunk_tokens"],
    )
    out = T.pack_sequences(chunks, token_budget=64, n_buckets=1).collect()
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out}
    # one bucket: tape order is (doc, chunk); offsets 0,30,60,90,...
    offsets = sorted(r["tape_offset"] for r in out)
    assert offsets == [30 * i for i in range(12)]
    # pack boundary at 64: offsets 0,30 -> pack 0; 60,90 -> pack 1 ...
    assert rows[(1, 0)]["pack_id"] == 0 and rows[(1, 1)]["pack_id"] == 0
    assert rows[(1, 2)]["pack_id"] == 0  # offset 60 < 64 (overflows pack 0)
    assert rows[(2, 0)]["pack_id"] == 1  # offset 90
    # every chunk of a doc stays in its doc order on the tape
    assert rows[(3, 1)]["tape_offset"] == rows[(3, 0)]["tape_offset"] + 30
    # bucketed: same totals, deterministic across repartitions
    a = sorted(map(tuple, T.pack_sequences(chunks, 64, 4).collect()))
    b = sorted(map(tuple, T.pack_sequences(chunks.repartition(5), 64, 4).collect()))
    assert a == b
    with pytest.raises(ValueError):
        T.pack_sequences(chunks, token_budget=0)


def test_shared_ngram_pairs(spark):
    from qcache_spark.operators import dedup

    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {span} tail a"),
            (2, f"different beginning {span} other ending"),
            (3, "totally unrelated text with nothing shared at all here ok"),
            (4, "common common common common common common common common"),
            (5, "common common common common common common common common"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.shared_ngram_pairs(df, n=8).collect()
    }
    assert got[(1, 2)] == 1          # exactly the planted span
    assert (4, 5) in got             # verbatim duplicates share spans
    assert all(3 not in p for p in got)
    # posting-list cap drops ubiquitous spans entirely
    capped = dedup.shared_ngram_pairs(df, n=8, max_postings=1)
    assert capped.count() == 0
    with pytest.raises(ValueError):
        dedup.shared_ngram_pairs(df, n=1)


def test_top_terms_by_group(spark):
    from qcache_spark.operators import text as T

    df = spark.createDataFrame(
        [
            ("en", "the cat the dog"),
            ("en", "the cat"),
            ("de", "der der hund"),
        ],
        ["lang", "text"],
    )
    rows = {
        (r["lang"], r["rank"]): (r["term"], r["n"])
        for r in T.top_terms_by_group(df, k=2, group_col="lang").collect()
    }
    assert rows[("en", 1)] == ("the", 3)
    assert rows[("en", 2)] == ("cat", 2)
    assert rows[("de", 1)] == ("der", 2)
    assert rows[("de", 2)] == ("hund", 1)
    assert len(rows) == 4


def test_chunk_documents(spark):
    from qcache_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b, c d e"),     # 5 tokens
            (2, ""),               # no tokens -> no chunks
            (3, "... !!"),         # punctuation only -> no chunks
            (4, "x"),              # single token
        ],
        ["doc_id", "text"],
    )
    out = T.chunk_documents(df, chunk_size=3, stride=2)
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    # doc 1: starts 0,2,4 -> [a b c], [c d e], [e]
    assert rows[(1, 0)] == (3, "a b c")
    assert rows[(1, 1)] == (3, "c d e")
    assert rows[(1, 2)] == (1, "e")
    assert rows[(4, 0)] == (1, "x")
    assert {k[0] for k in rows} == {1, 4}  # empty docs emit nothing

    with pytest.raises(ValueError):
        T.chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError):
        T.chunk_documents(df, stride=0)


def test_asof_join_tolerance(spark):
    from qcache_spark.operators import asof

    left, right = _asof_fixture(spark)

    def run(**kw):
        return {
            r["event_id"]: (r["rid"], r["val"])
            for r in asof.asof_join(
                left, right, "t", "rt", "k", "rk", ["rid", "val"], "rid", **kw
            ).collect()
        }

    # backward: event 1 (Jan 5) -> rid 101 (Jan 4) is 1 day back
    within = run(tolerance="1 DAY")
    assert within[1] == (101, 4.0)      # exactly at the bound: inclusive
    assert within[3] == (100, 3.0)      # same-instant match, distance 0
    assert within[4] == (None, None)    # Jan 2 is 7 days back -> nulled
    assert within[5] == (None, None)    # never matched stays null
    assert len(within) == 7             # tolerance never drops left rows

    tight = run(tolerance="12 HOURS")
    assert tight[1] == (None, None)     # 1 day > 12h -> nulled
    assert tight[3] == (100, 3.0)       # distance 0 still matches

    # forward: event 2 (Jan 1) -> rid 100 (Jan 3) is 2 days ahead
    fwd = run(direction="forward", tolerance="2 DAYS")
    assert fwd[2] == (100, 3.0)
    fwd_tight = run(direction="forward", tolerance="1 DAY")
    assert fwd_tight[2] == (None, None)


def test_asof_join_numeric_tolerance(spark):
    from qcache_spark.operators import asof

    left = spark.createDataFrame([(1, 1, 100.0), (2, 1, 9.0)], ["id", "k", "t"])
    right = spark.createDataFrame([(7, 1, 95.0, "a")], ["rid", "rk", "rt", "tag"])
    out = {
        r["id"]: r["tag"]
        for r in asof.asof_join(
            left, right, "t", "rt", "k", "rk", ["tag"], "rid", tolerance=5.0
        ).collect()
    }
    assert out[1] == "a"       # 100 - 95 = 5 <= 5 (inclusive)
    assert out[2] is None      # no right row <= 9


def test_asof_join_single_shuffle_plan(spark):
    from qcache_spark.operators import asof

    left, right = _asof_fixture(spark)
    plan = asof.asof_join(
        left, right, "t", "rt", "k", "rk", ["rid", "val"], "rid"
    )._jdf.queryExecution().executedPlan().toString()
    # one key shuffle for the window; no join/cartesian node anywhere
    assert plan.count("Exchange hashpartitioning(_k") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_unigram_surprise_hand_computed(spark):
    import math

    # corpus: "a a b" and "b c". counts: a=2, b=2, c=1, N=5.
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.unigram_surprise(df).collect()}

    def fp(cnt):
        return round(math.log(cnt / 5) * 1e6)

    s1 = -((2 * fp(2) + 1 * fp(2)) / 1e6) / 3
    s2 = -((1 * fp(2) + 1 * fp(1)) / 1e6) / 2
    assert out[1]["n_tokens"] == 3
    assert out[1]["surprise"] == pytest.approx(round(s1, 6), abs=1e-9)
    assert out[2]["n_tokens"] == 2
    assert out[2]["surprise"] == pytest.approx(round(s2, 6), abs=1e-9)
    # rarer vocabulary -> more surprising
    assert out[2]["surprise"] > out[1]["surprise"]


def test_ngram_contamination_planted(spark):
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "look the quick brown fox ran away"),  # shares 2 distinct 3-grams
            (2, "completely unrelated text here now"),
            (3, "the quick brown fox jumps the quick brown fox jumps"),  # 3 shared
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in dedup.ngram_contamination(corpus, eval_df, n=3).collect()
    }
    # eval 3-grams: {the quick brown, quick brown fox, brown fox jumps}
    assert out[1] == 2   # 'the quick brown', 'quick brown fox'
    assert 2 not in out  # clean doc absent entirely
    assert out[3] == 3   # all three, counted once each (distinct)


def test_ngram_contamination_short_doc_whole_shingle(spark):
    # shorter than n tokens -> whole-doc shingle; matches only the
    # identical short doc on the eval side
    eval_df = spark.createDataFrame([(100, "tiny doc")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny other")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in dedup.ngram_contamination(corpus, eval_df, n=5).collect()
    }
    assert out == {1: 1}


def test_ivf_pruned_entry_plan_and_recall(spark):
    """The gated q70 entry: n_probe < n_centroids must (a) show up as
    a partition PRUNE on the persisted index's file listing, and (b)
    keep recall >= 0.6 vs the exact q30 brute-force top-k (VERDICT r2
    advice #10 / r4 item 10)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.01"
    ann = em.queries()["q70_ivf_pruned_search"](spark, sf)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:160]
    assert "cluster_id" in pf, pf
    exact = em.queries()["q30_cosine_topk"](spark, sf)
    r = similarity.recall_at_k(ann, exact)
    assert r >= 0.6, f"recall@10 {r} below bound"
    assert ann.count() == 10


def test_ivf_dup_probe_plan_prunes_and_maps(spark, embeddings, tmp_path):
    """dup_probe's scale contract (r13 shape): the corpus side is
    partition-PRUNED to the touched cluster_id dirs (file-index prune,
    not a post-scan filter) and scored in ONE MapInPandas pass against
    the Python-broadcast batch — no join, no Exchange of any kind
    (the r12 shape was a BroadcastHashJoin whose condition ran a
    per-pair JVM `aggregate(zip_with(...))` dot; VERDICT r12 Wrong #1
    flagged that family as the quadratic scale risk)."""
    path = str(tmp_path / "ivf_probe_plan")
    similarity.IVFIndex(
        embeddings.filter(F.col("vec_id") % 2 == 0), n_centroids=8, iters=1
    ).write(spark, path)
    idx = similarity.IVFIndex.load(spark, path)
    batch = embeddings.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40)
    )
    out = idx.dup_probe(batch, threshold=0.4, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cluster_id" in pf, pf
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]
    # value check vs the brute-force JVM cosine over the same pairs:
    # the numpy Gram pass must reproduce the pair SET exactly and the
    # cosines to float-summation-order tolerance (entries round to
    # 6 dp; compare at 9 dp here)
    got = {
        (r["batch_id"], r["corpus_id"]): round(r["cosine"], 9)
        for r in out.collect()
    }
    vec = F.col("embedding").cast("array<double>")
    corpus = idx.assigned
    bb = batch.select(
        F.col("vec_id").alias("batch_id"),
        vec.alias("_vb"),
        F.explode(
            similarity._assign_topn_udf(idx.centroids, 2)(vec)
        ).alias("cluster_id"),
    )
    dot = F.aggregate(
        F.zip_with("_vb", "_vc", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    want = {
        (r["batch_id"], r["corpus_id"]): round(r["cosine"], 9)
        for r in corpus.select(
            "cluster_id",
            F.col("vec_id").alias("corpus_id"),
            vec.alias("_vc"),
        )
        .join(bb, "cluster_id")
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select(
            "batch_id",
            "corpus_id",
            (
                dot
                / (
                    similarity.l2_norm(F.col("_vb"))
                    * similarity.l2_norm(F.col("_vc"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
        .collect()
    }
    assert got == want


def test_semantic_dedup_grouped_arrow_shape(spark, embeddings):
    """semantic_dedup's r13 scale contract: ONE exchange (by
    cluster_id) into a grouped Arrow pass that emits kept rows
    directly — no self-join, no distinct, no anti-join (the r12
    shape ran the quadratic stage as a per-pair JVM-dot self-join).
    Value-pinned against the brute-force dominated policy."""
    out = similarity.semantic_dedup(
        embeddings, n_centroids=4, iters=1, threshold=0.4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan[:500]
    assert "Join" not in plan, plan[:500]
    import re as _re

    assert len(_re.findall(r"ShuffleExchange|Exchange hashpartitioning",
                           plan)) <= 1, plan[:800]
    got = {(r[0], r[1]) for r in out.collect()}
    # brute force: same IVF assignment, dominated = exists lower-id
    # same-cluster row with cosine >= threshold (JVM arithmetic)
    assigned = similarity.IVFIndex(
        embeddings, n_centroids=4, iters=1
    ).assigned
    vec = F.col("embedding").cast("array<double>")
    base = assigned.select(
        F.col("vec_id").alias("_id"), "cluster_id", vec.alias("_v"),
        similarity.l2_norm(vec).alias("_n"),
    )
    hi = base.select("cluster_id", F.col("_id").alias("_ida"),
                     F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    lo = base.select("cluster_id", F.col("_id").alias("_idb"),
                     F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    dot = F.aggregate(
        F.zip_with("_va", "_vb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    dominated = (
        hi.join(lo, "cluster_id")
        .filter(F.col("_idb") < F.col("_ida"))
        .filter(dot / (F.col("_na") * F.col("_nb")) >= 0.4)
        .select(F.col("_ida").alias("_id")).distinct()
    )
    want = {
        (r[0], r[1])
        for r in base.join(dominated, "_id", "left_anti")
        .select("_id", "cluster_id").collect()
    }
    assert got == want


# ---------------------------------------------------------------- sketches


def test_cardinality_estimate_within_rsd(spark, docs):
    from qcache_spark.operators import sketch

    est = {
        tuple(r[k] for k in ("source",)): r["n_distinct"]
        for r in sketch.cardinality_by(docs, ["source"], "doc_id", rsd=0.02).collect()
    }
    exact = {
        (r["source"],): r["n_distinct"]
        for r in sketch.cardinality_by(docs, ["source"], "doc_id", exact=True).collect()
    }
    assert est.keys() == exact.keys() and exact
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(3, 0.06 * e), (k, est[k], e)


def test_quantile_rank_audit_envelope_and_rejection(spark):
    """The audit passes real percentile_approx output (GK guarantee)
    and REJECTS an injected out-of-envelope estimate — the property
    that makes q109's TRUE-flag oracle a real gate."""
    from qcache_spark.operators import sketch

    rows = [(i % 2, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["g", "v"])
    good = sketch.quantile_rank_audit(
        df, ["g"], "v", [0.5, 0.95], accuracy=100
    ).collect()
    assert len(good) == 2
    for r in good:
        assert r["n"] == 500 and r["ok_p500"] and r["ok_p950"]
    # inject estimates far outside the window: min value for p50
    # (rank 1 vs window ~[445, 555]) must fail; a mid value passes
    # p95 values sit AT rank ~475 of 500 (in-window): 948 in the even
    # group, 949 in the odd group
    bad = spark.createDataFrame(
        [(0, [0.0, 948.0]), (1, [1.0, 949.0])],
        "g bigint, quantiles array<double>",
    )
    audited = {
        r["g"]: r
        for r in sketch.quantile_rank_audit(
            df, ["g"], "v", [0.5, 0.95], accuracy=100, estimates=bad
        ).collect()
    }
    assert not audited[0]["ok_p500"] and not audited[1]["ok_p500"]
    assert audited[0]["ok_p950"] and audited[1]["ok_p950"]


def test_ivf_append_assignment_and_search(spark, sf_dir, tmp_path):
    """IVFIndex.append admits a batch against the EXISTING centroids:
    appended rows get exactly the assignment the index's own kernel
    gives them, search sees both halves, and centroids/meta are
    untouched (no silent refit)."""
    import numpy as np

    from qcache_spark.operators.similarity import IVFIndex
    from qcache_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    built = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_app")
    idx0 = IVFIndex(built, n_centroids=4, iters=1)
    idx0.write(spark, path)
    idx = IVFIndex.load(spark, path, expect={"n_centroids": 4})
    centroids_before = [list(c) for c in idx.centroids]
    idx.append(batch)
    assert [list(c) for c in idx.centroids] == centroids_before
    n_built = built.count()
    n_all = idx.assigned.count()
    assert n_all == n_built + batch.count()
    # appended assignments match a brute-force argmin-L2 in python
    C = np.array(centroids_before)
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in idx.assigned.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "cluster_id")
        .limit(50)
        .collect()
    }
    vecs = {
        r["vec_id"]: np.array(list(r["embedding"]), dtype=float)
        for r in batch.filter(F.col("vec_id").isin(list(got)))
        .select("vec_id", "embedding")
        .collect()
    }
    for vid, cid in got.items():
        d2 = ((C - vecs[vid]) ** 2).sum(axis=1)
        assert int(d2.argmin()) == cid, vid
    # search over the grown index returns ids from BOTH halves overall
    qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    hits = idx.search(qvec, k=20, n_probe=4).collect()
    assert len(hits) == 20
    assert any(r["vec_id"] % 2 == 1 for r in hits)
    # append before write() refuses (in-memory divergence guard)
    with pytest.raises(ValueError, match="write"):
        IVFIndex(built, n_centroids=4, iters=0).append(batch)


def test_hll_sketch_merge_matches_direct(spark, docs):
    """The 100 TB pattern: per-source sketches UNIONED must estimate
    the same as sketching the whole column directly (mergeability is
    the whole point of storing sketch bytes)."""
    from pyspark.sql import functions as F

    from qcache_spark.operators import sketch

    per_source = sketch.hll_sketch_by(docs, ["source"], "doc_id")
    merged = sketch.hll_union_by(
        per_source.withColumn("all", F.lit(1)), ["all"]
    ).collect()[0]["n_distinct_est"]
    direct = sketch.hll_estimate(
        sketch.hll_sketch_by(docs.withColumn("all", F.lit(1)), ["all"], "doc_id")
    ).collect()[0]["n_distinct_est"]
    exact = docs.select("doc_id").distinct().count()
    # union goes through a different target representation than a
    # direct sketch, so estimates differ slightly — both must sit
    # within the HLL error envelope of the exact count
    assert abs(merged - exact) <= max(3, 0.05 * exact), (merged, exact)
    assert abs(direct - exact) <= max(3, 0.05 * exact), (direct, exact)


def test_approx_quantiles_bounds(spark, docs):
    from pyspark.sql import functions as F

    from qcache_spark.operators import sketch

    with_len = docs.withColumn("n_chars", F.length("text"))
    got = sketch.approx_quantiles_by(
        with_len, ["source"], "n_chars", [0.0, 0.5, 1.0], accuracy=10000
    ).collect()
    assert got
    for r in got:
        lo, mid, hi = r["quantiles"]
        assert lo <= mid <= hi
    # at high accuracy on small groups, p0/p100 are exact min/max
    exact = {
        r["source"]: (r["mn"], r["mx"])
        for r in with_len.groupBy("source")
        .agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
        .collect()
    }
    for r in got:
        assert (r["quantiles"][0], r["quantiles"][2]) == exact[r["source"]]


# ------------------------------------------------------- sampling (round 5)


def test_negative_pairs_deterministic_and_valid(spark, docs):
    from qcache_spark.operators import sampling

    sub = docs.limit(100)
    a = sampling.negative_pairs(sub, k=3).collect()
    b = sampling.negative_pairs(sub, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # pure function
    ids = {r["doc_id"] for r in sub.select("doc_id").collect()}
    for r in a:
        assert r["negative_id"] in ids           # negatives exist
        assert r["negative_id"] != r["anchor_id"]  # never self
        assert 1 <= r["j"] <= 3
    # different seed -> different draw
    c = sampling.negative_pairs(sub, k=3, seed=99).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))
    with pytest.raises(ValueError):
        sampling.negative_pairs(sub, k=0)


def test_curriculum_buckets_ordering(spark, docs):
    from qcache_spark.operators import sampling

    out = sampling.curriculum_buckets(docs, "n_chars", n_buckets=4).collect()
    assert {r["bucket"] for r in out} == {1, 2, 3, 4}
    # buckets are contiguous in score order: every bucket-1 score <=
    # every bucket-4 score
    b1 = max(r["n_chars"] for r in out if r["bucket"] == 1)
    b4 = min(r["n_chars"] for r in out if r["bucket"] == 4)
    assert b1 <= b4
    sizes = [sum(1 for r in out if r["bucket"] == b) for b in (1, 2, 3, 4)]
    assert max(sizes) - min(sizes) <= 1  # NTILE balance
    with pytest.raises(ValueError):
        sampling.curriculum_buckets(docs, "n_chars", n_buckets=0)


def test_curriculum_buckets_exact_ntile_parity(spark, docs):
    """The distributed NTILE must match Spark's own single-window NTILE
    bit-for-bit (same total order, same uneven-bucket placement), across
    partition counts, including n not divisible by k and n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qcache_spark.operators import sampling

    def reference(df, k):
        w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
        return {
            r["doc_id"]: r["b"]
            for r in df.withColumn("b", F.ntile(k).over(w)).collect()
        }

    for k, nparts in [(7, 5), (10, 3), (3, 16)]:
        got = {
            r["doc_id"]: r["bucket"]
            for r in sampling.curriculum_buckets(
                docs, "n_chars", n_buckets=k, num_partitions=nparts
            ).collect()
        }
        assert got == reference(docs, k), (k, nparts)
    # n < k: every row its own bucket
    tiny = docs.orderBy("doc_id").limit(4)
    got = sampling.curriculum_buckets(tiny, "n_chars", n_buckets=10, num_partitions=3)
    assert sorted(r["bucket"] for r in got.collect()) == [1, 2, 3, 4]
    # empty input: no rows, bucket column present
    empty = docs.filter(F.lit(False))
    out = sampling.curriculum_buckets(empty, "n_chars")
    assert out.count() == 0 and "bucket" in out.columns


def test_curriculum_buckets_no_global_single_partition_sort(spark, docs):
    """Scale guard (VERDICT r5 'What's wrong' #1): the plan must contain
    no empty-partition-key Window (the single-reducer global NTILE); the
    only exchange is the range repartition."""
    plan = sampling_plan = None
    from qcache_spark.operators import sampling

    df = sampling.curriculum_buckets(docs, "n_chars", n_buckets=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # Spark prints a global window as: Window [...], [ntile(...)...], []
    # (empty partition spec) or 'SinglePartition' in the exchange.
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "Window " in line:
            assert "windowspecdefinition(__pid" in line or "__pid" in line, line


def test_cluster_split_leakage_safety(spark):
    """Every cluster lands entirely in ONE split (the leakage
    property); unclustered docs key on their own id (identical to a
    plain train_test_split); assignment is deterministic and matches
    the per-cluster hash replica."""
    from qcache_spark.operators.sampling import (
        cluster_split,
        hash60,
        split_thresholds,
        train_test_split,
    )

    rows = [(i, f"doc {i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # clusters: docs 0-9 -> cluster 0, 10-14 -> cluster 10; rest absent
    cl = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 15)],
        ["doc_id", "cluster_id"],
    )
    weights = {"train": 0.8, "test": 0.2}
    out = cluster_split(df, cl, weights, seed=3, hash_fn="md5").collect()
    assert len(out) == 100
    by_id = {r["doc_id"]: r["split"] for r in out}
    # leakage property: one split per cluster
    assert len({by_id[i] for i in range(10)}) == 1
    assert len({by_id[i] for i in range(10, 15)}) == 1
    # cluster split == hash of the cluster id with the same thresholds
    (train_name, t), = split_thresholds(weights)
    h0 = spark.range(1).select(
        hash60(F.lit(0).cast("long"), 3, "md5").alias("h")
    ).collect()[0]["h"]
    assert by_id[0] == ("train" if h0 < t else "test")
    # unclustered docs behave exactly like a per-doc split
    plain = {
        r["doc_id"]: r["split"]
        for r in train_test_split(
            df.filter(F.col("doc_id") >= 15), "doc_id", weights,
            seed=3, hash_fn="md5",
        ).collect()
    }
    assert {i: by_id[i] for i in range(15, 100)} == plain
    # deterministic under repartitioning
    again = cluster_split(
        df.repartition(7), cl.repartition(2), weights, seed=3,
        hash_fn="md5",
    ).collect()
    assert {r["doc_id"]: r["split"] for r in again} == by_id


def test_balanced_shards_no_global_single_partition_sort(spark, docs):
    """Scale guard: the global rank behind the shard deal must come
    from per-partition windows over the range repartition, never a
    single-reducer global Window (same contract as curriculum_buckets,
    whose device it reuses)."""
    from qcache_spark.operators import sampling

    df = sampling.balanced_shards(docs, "n_chars", 8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "Window " in line:
            assert "__pid" in line, line


def test_distribution_matched_sample_no_single_partition(spark, docs):
    """Scale guard: the per-group prefix selection inherits
    token_budget_mix's distributed plan — no SinglePartition exchange,
    windows keyed on the partition id."""
    from qcache_spark.operators import sampling

    df = sampling.distribution_matched_sample(
        docs, "lang", {"en": 3, "de": 1}
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "Window " in line:
            assert "__pid" in line, line


def test_group_centroids_vectors_and_reproducibility(spark, embeddings):
    out = similarity.group_centroids(
        embeddings, "label", as_vectors=True
    ).collect()
    dims = {len(r["centroid"]) for r in out}
    assert dims == {64}
    # repartitioning must not change a single bit (fixed-point sums)
    a = {
        (r["label"], r["pos"]): r["centroid_val"]
        for r in similarity.group_centroids(embeddings, "label").collect()
    }
    b = {
        (r["label"], r["pos"]): r["centroid_val"]
        for r in similarity.group_centroids(
            embeddings.repartition(7), "label"
        ).collect()
    }
    assert a == b
    # sanity: centroid of each label differs somewhere
    labels = sorted({k[0] for k in a})
    assert len(labels) >= 2
    assert any(a[(labels[0], p)] != a[(labels[1], p)] for p in range(64))


def test_chunk_dup_stats_planted_boilerplate(spark):
    boiler = " ".join(f"tok{i}" for i in range(32))      # exactly one chunk
    uniq_a = " ".join(f"aaa{i}" for i in range(32))
    uniq_b = " ".join(f"bbb{i}" for i in range(32))
    df = spark.createDataFrame(
        [
            (1, boiler + " " + uniq_a),   # chunks: boiler.., mixed.., tail
            (2, boiler + " " + uniq_b),
            (3, uniq_a),                   # repeats doc 1's unique text
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_frac"])
        for r in text.chunk_dup_stats(df, chunk_size=32, stride=32).collect()
    }
    # stride=32: doc1 = [boiler, uniq_a], doc2 = [boiler, uniq_b],
    # doc3 = [uniq_a]. boiler repeats across docs 1+2; uniq_a across 1+3.
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 1, 1.0)


def test_skewed_join_exact_vs_plain(spark):
    from qcache_spark.operators.skew import skewed_join

    # key 7 owns 80% of left rows; key None must keep left-join rows
    left = spark.createDataFrame(
        [(7, i) for i in range(800)]
        + [(i % 5, 1000 + i) for i in range(200)]
        + [(None, 9999)],
        ["k", "lv"],
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(8)] + [(7, "r7b")], ["k", "rv"]
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, "k", how).collect()), key=repr
        )
        split = skewed_join(left, right, "k", how=how, hot_keys=[7])
        got = sorted(map(tuple, split.collect()), key=repr)
        assert got == plain, how
    # hot branch is a broadcast join
    plan = skewed_join(left, right, "k", hot_keys=[7])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # auto-detection at a low threshold finds the hot key
    auto = skewed_join(left, right, "k", min_count=500)
    assert sorted(map(tuple, auto.collect()), key=repr) == sorted(
        map(tuple, left.join(right, "k", "inner").collect()), key=repr
    )
    with pytest.raises(ValueError):
        skewed_join(left, right, "k", how="full")


def test_skewed_join_composite_key(spark):
    """VERDICT r7 item 8: a 2-column key with ONE planted hot value
    COMBINATION — ('US', 7) is hot while 'US' with other versions and
    7 under other regions stay cold. Split must equal the plain join
    for inner/left, keep null-component rows in left joins, and route
    the hot branch through a broadcast."""
    from qcache_spark.operators.skew import skewed_join

    left = spark.createDataFrame(
        [("US", 7, i) for i in range(600)]          # the hot combo
        + [("US", i % 4, 1000 + i) for i in range(100)]
        + [("EU", 7, 2000 + i) for i in range(100)]
        + [(None, 7, 9001), ("US", None, 9002)],
        ["region", "ver", "lv"],
    )
    right = spark.createDataFrame(
        [("US", 7, "hot"), ("US", 1, "a"), ("EU", 7, "b"), ("EU", 2, "c")],
        ["region", "ver", "rv"],
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, ["region", "ver"], how).collect()),
            key=repr,
        )
        for hot in ([("US", 7)], None):  # explicit + auto-detected
            split = skewed_join(
                left, right, ["region", "ver"], how=how,
                hot_keys=hot, min_count=500,
            )
            got = sorted(map(tuple, split.collect()), key=repr)
            assert got == plain, (how, hot)
    plan = skewed_join(
        left, right, ["region", "ver"], hot_keys=[("US", 7)]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError):
        skewed_join(left, right, ["region", "ver"], hot_keys=[("US",)])
    with pytest.raises(ValueError):
        skewed_join(left, right, [], hot_keys=[("US", 7)])


def test_dedup_clusters_cycle_and_clique(spark):
    # ring (cycle) and clique components: shapes with redundant edges
    # must converge to the same min-label star forest
    ring = [(i, (i + 1) % 20) for i in range(20)]            # 0..19 cycle
    clique = [(a, b) for a in range(30, 36) for b in range(30, 36) if a < b]
    pairs = spark.createDataFrame(ring + clique, ["id_a", "id_b"])
    ids = spark.createDataFrame(
        [(i,) for i in list(range(20)) + list(range(30, 36))], ["doc_id"]
    )
    res = dedup.dedup_clusters(pairs, ids)
    got = {r["doc_id"]: r["cluster_id"] for r in res.collect()}
    assert res.converged is True
    assert all(got[i] == 0 for i in range(20))
    assert all(got[i] == 30 for i in range(30, 36))


def test_negative_pairs_empty_id_domain_raises(spark):
    from qcache_spark.operators import sampling

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="id domain"):
        sampling.negative_pairs(empty, k=2)


def test_curriculum_buckets_approx_balance_and_order(spark, docs):
    from qcache_spark.operators import sampling

    out = sampling.curriculum_buckets_approx(docs, "n_chars", n_buckets=4)
    rows = out.select("n_chars", "bucket").collect()
    sizes = {}
    for r in rows:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    assert set(sizes) == {1, 2, 3, 4}
    n = len(rows)
    assert all(abs(s - n / 4) <= 0.25 * n / 4 + 2 for s in sizes.values()), sizes
    # value-contiguous: max score in bucket b <= min score in bucket b+2
    by_bucket = {
        b: [r["n_chars"] for r in rows if r["bucket"] == b] for b in sizes
    }
    assert max(by_bucket[1]) <= min(by_bucket[3])
    assert max(by_bucket[2]) <= min(by_bucket[4])
    # plan: no global sort — assignment is scan-stage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan.split("AdaptiveSparkPlan")[-1].split("Scan")[0]


# ---------------- round-6 operators ----------------


def test_quantize_embeddings_reconstruction(spark, embeddings):
    out = similarity.quantize_embeddings(embeddings).collect()
    assert len(out) == embeddings.count()
    for r in out[:50]:
        assert len(r["qvec"]) == 64
        assert max(abs(v) for v in r["qvec"]) <= 127
        # int8 symmetric quantization: per-element error <= scale/2,
        # so MSE <= (scale/2)^2
        assert r["recon_mse"] <= (r["scale"] / 2) ** 2 + 1e-12
        assert r["scale"] > 0
    with pytest.raises(ValueError):
        similarity.quantize_embeddings(embeddings, bits=1)


def test_quantize_embeddings_scan_stage_only(spark, embeddings):
    plan = (
        similarity.quantize_embeddings(embeddings)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure scan-stage map: no shuffle


def test_ivf_dup_probe_and_admit(spark, tmp_path):
    """IVF admission loop: dup_probe finds batch-vs-corpus near-dups
    within the home cluster; admit drops corpus dups + dominated
    intra-batch rows, appends only survivors. Synthetic geometry pins
    the policy (same construction as the semantic_dedup test)."""
    import math

    def unit(theta, axis):
        v = [0.0, 0.0, 0.0]
        v[axis] = math.cos(theta)
        v[(axis + 1) % 3] = math.sin(theta)
        return v

    # init takes the 2 lowest ids: one per bundle, so the clusters
    # separate deterministically
    corpus = spark.createDataFrame(
        [
            (0, unit(0.0, 0)),   # x-bundle
            (1, unit(0.0, 2)),   # z-bundle
            (2, unit(0.01, 0)),  # x-bundle
            (3, unit(0.01, 2)),  # z-bundle
        ],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (10, unit(0.02, 0)),        # near the x-bundle: corpus dup
            (20, unit(math.pi / 2, 0)),  # y-axis: corpus-novel
            (21, unit(math.pi / 2 - 0.01, 0)),  # dominated by 20
            (12, unit(math.pi / 4, 0)),  # 45 deg: unique at 0.99
        ],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf_admit")
    similarity.IVFIndex(corpus, n_centroids=2, iters=1).write(spark, path)
    idx = similarity.IVFIndex.load(spark, path)

    pairs = idx.dup_probe(batch, threshold=0.99).collect()
    assert {r["batch_id"] for r in pairs} == {10}
    assert all(r["cosine"] >= 0.99 for r in pairs)

    kept = idx.admit(batch, threshold=0.99)
    assert sorted(kept.columns) == ["embedding", "vec_id"]
    assert {r["vec_id"] for r in kept.collect()} == {12, 20}
    # survivors were appended: the index now holds corpus + survivors
    assert idx.assigned.count() == 6
    # a fresh load sees them too, and a re-probe of a vector identical
    # to an admitted one reports the near-dup
    again = similarity.IVFIndex.load(spark, path)
    reprobe = spark.createDataFrame(
        [(99, unit(math.pi / 2, 0))], "vec_id long, embedding array<double>"
    )
    assert {r["corpus_id"] for r in again.dup_probe(reprobe, threshold=0.99).collect()} == {20}

    # intra_batch=False admits the batch-internal duplicate as well
    path2 = str(tmp_path / "ivf_admit2")
    similarity.IVFIndex(corpus, n_centroids=2, iters=1).write(spark, path2)
    idx2 = similarity.IVFIndex.load(spark, path2)
    kept2 = idx2.admit(batch, threshold=0.99, intra_batch=False)
    assert {r["vec_id"] for r in kept2.collect()} == {12, 20, 21}

    # guards
    with pytest.raises(ValueError, match="n_probe"):
        idx.dup_probe(batch, n_probe=0)
    with pytest.raises(ValueError, match="write"):
        similarity.IVFIndex(corpus, n_centroids=2, iters=1).admit(batch)


def test_ivf_compact(spark, embeddings, tmp_path):
    """IVFIndex.compact: append small files merged to one id-sorted
    file per cluster partition under data_g{N+1}, meta pointer
    flipped, search/probe results unchanged, append-after-compact
    works, and a fresh load follows the generation pointer."""
    import os

    emb = embeddings
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    path = str(tmp_path / "ivf_compact")
    idx = similarity.IVFIndex(
        emb.filter(F.col("vec_id") % 3 == 0), n_centroids=4, iters=1
    )
    idx.write(spark, path)
    idx.append(emb.filter(F.col("vec_id") % 3 == 1))
    idx.append(emb.filter(F.col("vec_id") % 3 == 2))
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in idx.search(qvec, k=10, n_probe=4).collect()
    ]

    stats = idx.compact()
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] == idx.n_centroids
    assert idx.generation == 1
    assert os.path.isdir(os.path.join(path, "data_g1"))
    # generation-0 partitions stay at the root: the retention window
    # (retain=1) keeps the superseded generation for in-flight readers
    # until vacuum() or a later compact ages it out
    assert stats["retained_generations"] == [0]
    assert any(n.startswith("cluster_id=") for n in os.listdir(path))
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in idx.search(qvec, k=10, n_probe=4).collect()
    ]
    assert got == want

    loaded = similarity.IVFIndex.load(spark, path)
    assert loaded.generation == 1
    got2 = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in loaded.search(qvec, k=10, n_probe=4).collect()
    ]
    assert got2 == want

    # admission continues against the compacted generation; a second
    # compact flips to g2, keeps g1 in the retention window and ages
    # out g0; vacuum() then drops everything superseded
    n_before = loaded.assigned.count()
    extra = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    loaded.append(extra)
    assert loaded.assigned.count() == n_before + 5
    rep2 = loaded.compact()
    assert loaded.generation == 2
    assert rep2["retained_generations"] == [1]
    assert rep2["removed_generations"] == [0]
    assert os.path.isdir(os.path.join(path, "data_g2"))
    assert os.path.isdir(os.path.join(path, "data_g1"))
    assert not any(n.startswith("cluster_id=") for n in os.listdir(path))
    assert loaded.assigned.count() == n_before + 5
    vrep = loaded.vacuum()
    assert vrep["removed_generations"] == [1]
    assert not os.path.isdir(os.path.join(path, "data_g1"))
    assert loaded.assigned.count() == n_before + 5  # live gen untouched

    with pytest.raises(ValueError, match="write"):
        similarity.IVFIndex(emb, n_centroids=4, iters=1).compact()


def test_ivf_delete(spark, embeddings, tmp_path):
    """IVFIndex.delete tombstones: same CENTROIDS, live rows only —
    a probe-all search equals brute-force top-k over the undeleted
    vectors; dup_probe drops exactly the pairs whose corpus side was
    deleted; compact() materializes and clears."""
    import os

    emb = embeddings
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    path = str(tmp_path / "ivf_del")
    similarity.IVFIndex(emb, n_centroids=4, iters=1).write(spark, path)
    idx = similarity.IVFIndex.load(spark, path)

    batch = emb.filter(F.col("vec_id") % 2 == 1).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    pairs_before = {
        (r["batch_id"], r["corpus_id"])
        for r in idx.dup_probe(batch, threshold=0.4).collect()
    }

    deleted = {r["vec_id"] for r in emb.filter(F.col("vec_id") % 5 == 0).collect()}
    idx.delete(emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"))

    # probe-all search == brute force over the undeleted rows
    got = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in idx.search(qvec, k=10, n_probe=4).collect()
    ]
    want = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in similarity.cosine_topk(
            emb.filter(F.col("vec_id") % 5 != 0), qvec, k=10
        ).collect()
    ]
    assert got == want
    assert all(v not in deleted for v, _ in got)

    # dup_probe: exactly the deleted-corpus pairs disappear
    pairs_after = {
        (r["batch_id"], r["corpus_id"])
        for r in idx.dup_probe(batch, threshold=0.4).collect()
    }
    assert pairs_after == {
        (b, c) for b, c in pairs_before if c not in deleted
    }
    assert pairs_after != pairs_before  # some deletions bound

    # fresh load sees tombstones; compact materializes + clears
    loaded = similarity.IVFIndex.load(spark, path)
    assert loaded.tombstones is not None
    n_live = emb.count() - len(deleted)
    loaded.compact()
    assert loaded.tombstones is None
    assert not os.path.isdir(path + "_tombstones")
    assert loaded.assigned.count() == n_live
    got2 = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in loaded.search(qvec, k=10, n_probe=4).collect()
    ]
    assert got2 == want

    with pytest.raises(ValueError, match="write"):
        similarity.IVFIndex(emb, n_centroids=4, iters=1).delete([1])


def test_semantic_dedup_dominated_policy(spark):
    """Hand-built corpus pins the SemDeDup semantics: a row is dropped
    iff a LOWER-id same-cluster row has cosine >= threshold — even
    when that lower-id row is itself dropped (NOT-EXISTS dominance,
    not sequential-greedy), and never across cluster boundaries."""
    # two tight bundles on orthogonal axes -> 2 clusters under any
    # sane assignment; within each, ids 0/1/2 are mutual near-dups
    import math

    def unit(theta, axis):
        v = [0.0, 0.0, 0.0]
        v[axis] = math.cos(theta)
        v[(axis + 1) % 3] = math.sin(theta)
        return v

    rows = []
    for i, th in enumerate([0.0, 0.01, 0.02]):  # x-bundle: ids 0,1,2
        rows.append((i, unit(th, 0)))
    for i, th in enumerate([0.0, 0.01, 0.02]):  # z-bundle: ids 3,4,5
        rows.append((3 + i, unit(th, 2)))
    # a lone vector far from both bundles in cosine (45 deg off x)
    rows.append((6, unit(math.pi / 4, 0)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kept = similarity.semantic_dedup(
        df, n_centroids=2, iters=1, threshold=0.99
    )
    got = {r["vec_id"] for r in kept.collect()}
    # each bundle keeps only its lowest id; the lone vector survives
    # (cos(45 deg) ~= 0.707 < 0.99 to everything)
    assert {0, 3, 6} <= got
    assert {1, 2} & got == set() and {4, 5} & got == set()
    # partition-invariance: the dominated policy is order-free
    got_rep = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df.repartition(5), n_centroids=2, iters=1, threshold=0.99
        ).collect()
    }
    assert got_rep == got
    # threshold above every pairwise cosine keeps everything
    assert (
        similarity.semantic_dedup(
            df, n_centroids=2, iters=1, threshold=1.0001
        ).count()
        == 7
    )


def test_weighted_sample_deterministic_and_monotone(spark, docs):
    from qcache_spark.operators import sampling

    a = {r["doc_id"] for r in
         sampling.weighted_sample(docs, "n_chars", 1024, seed=3).collect()}
    b = {r["doc_id"] for r in
         sampling.weighted_sample(docs.repartition(7), "n_chars", 1024,
                                  seed=3).collect()}
    assert a == b  # partitioning-independent
    # denom -> 1 keeps everything with weight >= 1
    all_ids = {r["doc_id"] for r in
               sampling.weighted_sample(docs, "n_chars", 1, seed=3).collect()}
    assert all_ids == {r["doc_id"] for r in docs.select("doc_id").collect()}
    # larger denom keeps a subset
    c = {r["doc_id"] for r in
         sampling.weighted_sample(docs, "n_chars", 4096, seed=3).collect()}
    assert c <= a
    with pytest.raises(ValueError):
        sampling.weighted_sample(docs, "n_chars", 0)


def test_user_funnel_strict_ordering(spark):
    from qcache_spark.operators import funnel

    rows = [
        # u1 completes the full ordered funnel
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2: purchase BEFORE click -> stops after click
        (2, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 10:02:00", "purchase"),
        (2, "2024-01-01 10:04:00", "click"),
        # u3: click before view -> only view counts; later click converts
        (3, "2024-01-01 09:00:00", "click"),
        (3, "2024-01-01 10:00:00", "view"),
        # u4: no view -> never enters
        (4, "2024-01-01 10:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        [(u, ts, t) for u, ts, t in rows],
        "user_id long, ts_s string, event_type string",
    ).selectExpr("user_id", "cast(ts_s as timestamp_ntz) as ts", "event_type")
    out = {r["step"]: r["n_users"] for r in
           funnel.user_funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}
    with pytest.raises(ValueError):
        funnel.user_funnel(ev, [])
    with pytest.raises(ValueError):
        funnel.user_funnel(ev, ["view", "view"])


def test_user_funnel_single_scan_plan(spark, sf_dir):
    """The r7 chained-window formulation reads events ONCE: the plan
    has no joins (the old per-step min-join chain re-evaluated step
    1's subtree O(k) times) and exactly one parquet scan of events."""
    from qcache_spark.operators import funnel
    from qcache_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = funnel.user_funnel(
        ev, ["view", "click", "purchase"]
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Relation") == 1  # one events scan feeds all steps


def test_ngram_novelty_attribution(spark):
    from qcache_spark.operators import text as text_ops

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # grams: ab g, b g d
            (2, "alpha beta gamma epsilon"),    # shares "alpha beta gamma"
            (3, "zz"),                          # < 3 tokens -> 0 grams
            (4, None),                          # null text -> 0 grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_ngrams"], r["n_novel"]) for r in
           text_ops.ngram_novelty(d, n=3).collect()}
    assert out[1] == (2, 2)           # both trigrams first seen here
    assert out[2] == (2, 1)           # "alpha beta gamma" inherited from 1
    assert out[3] == (0, 0)
    assert out[4] == (0, 0)
    with pytest.raises(ValueError):
        text_ops.ngram_novelty(d, n=0)


def test_vocab_overlap_pairs_total(spark):
    from qcache_spark.operators import text as text_ops

    d = spark.createDataFrame(
        [
            (1, "en", "the cat sat"),
            (2, "en", "the dog ran"),
            (3, "de", "der cat hund"),
            (4, "fr", "xyz"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {(r["lang_a"], r["lang_b"]): r for r in
           text_ops.vocab_overlap(d, "lang").collect()}
    # total pair coverage including the zero-overlap fr pairs
    assert set(out) == {("de", "en"), ("de", "fr"), ("en", "fr")}
    r = out[("de", "en")]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (3, 5, 1)  # only "cat"
    assert out[("en", "fr")]["n_common"] == 0


def test_profile_table_one_job_and_values(spark):
    from qcache_spark.operators import text as text_ops

    d = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "k long, s string",
    )
    out = {r["col_name"]: r for r in text_ops.profile_table(d).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_null"] == 1
    assert out["k"]["n_distinct"] == 2  # nulls excluded
    assert (out["k"]["min_value"], out["k"]["max_value"]) == ("1", "2")
    assert out["s"]["n_distinct"] == 2
    with pytest.raises(ValueError):
        text_ops.profile_table(d, ["nope"])
    # single aggregation: exactly one frame-wide agg, no per-column jobs
    plan = (
        text_ops.profile_table(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 2  # partial->final agg only (+expand)


# ---------------------------------------------------------- pagerank


def test_pagerank_star_hub_dominates(spark):
    from qcache_spark.operators.graph import pagerank

    # star: spokes 1..5 all point at hub 0 (and back, so the hub has
    # out-degree and the spokes receive mass)
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)],
        ["src", "dst"],
    )
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert set(ranks) == set(range(6))
    hub = ranks[0]
    assert all(hub > ranks[i] for i in range(1, 6))
    # spokes are symmetric -> identical integer ranks (exact arithmetic)
    assert len({ranks[i] for i in range(1, 6)}) == 1


def test_pagerank_convergence_termination(spark):
    """VERDICT r7 item 9: tol stops the loop once max |Δrank| <= tol;
    the converged ranks must EQUAL the fixed-k ranks at the round it
    stopped (exact integer state, so equality is literal)."""
    from qcache_spark.operators.graph import pagerank

    # 1 -> 2 converges after round 2: node 1 holds base from round 1
    # on, so round 3 reproduces round 2 exactly (delta 0)
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    converged, rounds = pagerank(edges, iters=10, tol=0, return_rounds=True)
    assert rounds < 10  # actually stopped early
    got = {r["id"]: r["rank"] for r in converged.collect()}
    fixed = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iters=rounds).collect()
    }
    assert got == fixed
    # a further fixed round changes nothing (it really was converged)
    more = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iters=rounds + 1).collect()
    }
    assert got == more
    # a loose tolerance on a slower graph stops earlier than tol=0
    ring = spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)] + [(0, 3), (5, 1)],
        ["src", "dst"],
    )
    _, fast_rounds = pagerank(ring, iters=30, tol=5_000, return_rounds=True)
    _, slow_rounds = pagerank(ring, iters=30, tol=0, return_rounds=True)
    assert fast_rounds <= slow_rounds
    # default tol=None keeps the fixed-k contract (q90/q102 oracles)
    _, plain_rounds = pagerank(ring, iters=3, return_rounds=True)
    assert plain_rounds == 3
    # default return_rounds=False returns the bare frame (back-compat)
    assert hasattr(pagerank(ring, iters=1), "collect")
    with pytest.raises(ValueError):
        pagerank(ring, iters=3, tol=-1)


def test_pagerank_sink_keeps_base_only(spark):
    from qcache_spark.operators.graph import pagerank

    # 1 -> 2: node 1 has no in-edges, so after the first round it
    # holds exactly base = (100-85)% of 1e6 = 150000 forever
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    ranks = {r["id"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert ranks[1] == 150_000
    assert ranks[2] > ranks[1]


def test_pagerank_dangling_redistribution(spark):
    from qcache_spark.operators.graph import pagerank

    # 1 -> 2: node 2 is a sink. Simplified variant loses its mass;
    # with redistribution every node receives D div n each round.
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    plain = {r["id"]: r["rank"] for r in pagerank(edges, iters=1).collect()}
    redis = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iters=1, redistribute_dangling=True).collect()
    }
    # round 1: D = 1_000_000 (node 2's start mass), n = 2, share 500k
    # r(1) = 150000 + 85*500000//100 ; r(2) adds node 1's full contrib
    assert plain == {1: 150_000, 2: 1_000_000}
    assert redis[1] == 150_000 + (85 * 500_000) // 100
    assert redis[2] == 150_000 + (85 * (1_000_000 + 500_000)) // 100
    # mass conservation (modulo per-node floor loss < n): total stays
    # within n of the full 2 * scale
    assert abs(sum(redis.values()) - 2_000_000) <= 2 * 100


def test_pagerank_edge_weights(spark):
    from qcache_spark.operators.graph import pagerank

    # 0 -> 1 (w=3), 0 -> 2 (w=1): node 1 gets 3/4 of node 0's contrib
    edges = spark.createDataFrame(
        [(0, 1, 3), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        ["src", "dst", "w"],
    )
    ranks = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iters=1, weight_col="w").collect()
    }
    # round 1 from uniform 1e6: contrib(0->1) = (1e6 * 3) div 4,
    # contrib(0->2) = (1e6 * 1) div 4
    assert ranks[1] == 150_000 + (85 * 750_000) // 100
    assert ranks[2] == 150_000 + (85 * 250_000) // 100
    # non-integral weight column rejected
    bad = spark.createDataFrame([(0, 1, 0.5)], ["src", "dst", "w"])
    with pytest.raises(ValueError):
        pagerank(bad, weight_col="w")


def test_pagerank_reliable_checkpoint_and_validation(spark, tmp_path):
    import os

    from qcache_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    ckpt = str(tmp_path / "pr_ckpt")
    ranks = pagerank(edges, iters=2, checkpoint_dir=ckpt).collect()
    # 3-cycle is symmetric: all ranks equal
    assert len({r["rank"] for r in ranks}) == 1
    assert any(fs for _, _, fs in os.walk(ckpt))

    with pytest.raises(ValueError):
        pagerank(edges, iters=0)
    with pytest.raises(ValueError):
        pagerank(edges, damping_pct=100)


def test_weighted_sample_fractional_weights(spark):
    # review fix: a bare decimal(38,0) cast rounded 0.4 -> 0 (never
    # kept) and 0.5 -> 1; fractional weights must sample at ~w/denom
    from qcache_spark.operators import sampling

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit(0.4).alias("w")
    )
    kept = sampling.weighted_sample(df, "w", 1, seed=5).count()
    assert 0.3 * 4000 < kept < 0.5 * 4000  # P[keep] = 0.4
    # integer weights are bit-identical to the unscaled formulation
    # (the q81 oracle's contract): scale factors cancel exactly
    di = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("w")
    )
    got = {r["doc_id"] for r in sampling.weighted_sample(di, "w", 8, seed=2).collect()}
    from qcache_spark.operators.sampling import HASH_SCALE, hash60

    want = {
        r["doc_id"]
        for r in di.filter(
            hash60(F.col("doc_id"), 2).cast("decimal(38,0)") * 8
            < F.col("w").cast("decimal(38,0)") * F.lit(HASH_SCALE).cast("decimal(38,0)")
        ).collect()
    }
    assert got == want


def test_profile_table_dotted_column_names(spark):
    # review fix: unquoted F.col on generated aliases parsed a dot as
    # struct access and raised AnalysisException
    from qcache_spark.operators import text as T

    df = spark.createDataFrame([(1, "x"), (2, None)], ["a.b", "plain"])
    rows = {r["col_name"]: r for r in T.profile_table(df).collect()}
    assert rows["a.b"]["n_distinct"] == 2
    assert rows["plain"]["n_null"] == 1


# -------------------------------------------------- round-6 batch-2 operators

def test_triangle_participation_known_graph(spark):
    from qcache_spark.operators.graph import triangle_participation

    # triangles {1,2,3} and {2,3,4} share edge (2,3); (9,10) is inert
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (9, 10)], ["src", "dst"]
    )
    got = {r["id"]: r["n_triangles"] for r in triangle_participation(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}
    # reversed duplicates and self-loops must not change counts
    noisy = edges.union(
        spark.createDataFrame([(2, 1), (3, 2), (5, 5)], ["src", "dst"])
    )
    got2 = {r["id"]: r["n_triangles"] for r in triangle_participation(noisy).collect()}
    assert got2 == got


def test_event_transitions_tiny(spark):
    import datetime as dt

    from qcache_spark.operators.funnel import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 100, t0, "a"),
        (2, 100, t0 + dt.timedelta(seconds=1), "b"),
        (3, 100, t0 + dt.timedelta(seconds=2), "a"),
        (4, 200, t0, "a"),
        (5, 200, t0 + dt.timedelta(seconds=1), "b"),
        (6, 300, t0, "a"),  # single event: no transition
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["n_users"])
        for r in event_transitions(df).collect()
    }
    assert got == {("a", "b"): (2, 2), ("b", "a"): (1, 1)}


def test_ohlc_composite_key_determinism(spark):
    import datetime as dt

    from qcache_spark.operators.timeseries import ohlc

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    # two events share the open timestamp: id breaks the tie
    rows = [
        (2, t0, "x", 20.0),
        (1, t0, "x", 10.0),
        (3, t0 + dt.timedelta(minutes=5), "x", 5.0),
        (4, t0 + dt.timedelta(minutes=59), "x", 30.0),
        (5, t0 + dt.timedelta(hours=1), "x", 99.0),  # next bucket
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    got = {r["bucket_start_s"]: r for r in ohlc(df).collect()}
    assert len(got) == 2
    first = got[min(got)]
    assert first["open"] == 10.0 and first["close"] == 30.0
    assert first["high"] == 30.0 and first["low"] == 5.0
    assert first["n"] == 4 and first["sum_value_e4"] == 650000


def test_grouped_percentile_stats_matches_naive(spark, sf_dir):
    from pyspark.sql import Window

    from qcache_spark.operators.timeseries import grouped_percentile_stats

    events = load_table(spark, sf_dir, "events")
    got = {
        r["event_type"]: r
        for r in grouped_percentile_stats(events, pct=0.9).collect()
    }
    # naive single-window replica (fine at test scale, the scale trap
    # the operator exists to avoid)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    naive = (
        events.filter(F.col("value").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
        .filter(F.col("rk") == F.greatest(F.lit(1), F.ceil(0.9 * F.col("n"))))
        .select("event_type", "value", "n")
    )
    for r in naive.collect():
        g = got[r["event_type"]]
        assert g["p_value"] == r["value"]
        assert g["n"] == r["n"]
        assert 0 <= g["n_tail"] <= g["n"] - g["k"] + 5


def test_grouped_percentile_no_single_partition_window(spark, sf_dir):
    """Scale guard: every Window in the plan must key on __pid (the
    range-partitioned local sort), never an empty/global spec."""
    from qcache_spark.operators.timeseries import grouped_percentile_stats

    events = load_table(spark, sf_dir, "events")
    df = grouped_percentile_stats(events, pct=0.99)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "Window " in line:
            assert "__pid" in line, line


def test_broadcast_offsets_path_matches_literal(spark, sf_dir, docs, monkeypatch):
    """Above _rank.LITERAL_MAP_MAX offset entries the rank device ships
    offsets as a broadcast DataFrame instead of a literal create_map
    (plan-size guard for 10^4+-partition clusters). Forcing the
    broadcast path must change NOTHING in any caller's results, and
    the plan must carry no giant literal map."""
    from qcache_spark.operators import _rank, sampling, timeseries

    docs8 = docs.repartition(8)
    events = load_table(spark, sf_dir, "events")
    calls = {
        "curriculum": lambda: sampling.curriculum_buckets(docs8, "n_chars", 4),
        "shards": lambda: sampling.balanced_shards(
            docs8, "n_chars", 3, rank_col="r"
        ),
        "token_mix": lambda: sampling.token_budget_mix(
            docs8, "lang", "n_chars", {"en": 5000, "de": 3000}, epochs=2
        ),
        "percentile": lambda: timeseries.grouped_percentile_stats(events, pct=0.9),
    }

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    lit = {name: rows(call()) for name, call in calls.items()}
    monkeypatch.setattr(_rank, "LITERAL_MAP_MAX", 0)
    for name, call in calls.items():
        df = call()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "__opid" in plan, name  # the broadcast offsets join
        if name in ("curriculum", "shards"):  # no literal map of their own
            assert "map_from_arrays" not in plan, name
        assert rows(df) == lit[name], name
        assert lit[name], name


def test_grouped_percentile_non_string_group_types(spark):
    """ADVICE r6: Python str(True)='True' vs Spark cast 'true' made
    boolean/decimal/timestamp groups silently vanish from the output.
    The canonical key is now Spark's own rendering — every group must
    come back, on both the literal and broadcast offset paths."""
    from qcache_spark.operators import timeseries

    df = spark.createDataFrame(
        [(i, i % 2 == 0, float(i)) for i in range(40)],
        "event_id long, flag boolean, value double",
    )
    out = timeseries.grouped_percentile_stats(
        df, group_col="flag", value_col="value", id_col="event_id", pct=0.5
    ).collect()
    groups = {r["flag"] for r in out}
    assert groups == {True, False}
    for r in out:
        assert r["n"] == 20 and r["k"] == 10


def test_prefix_jaccard_matches_bruteforce(spark):
    from qcache_spark.operators.dedup import prefix_jaccard_pairs

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy dog"),   # near-dup of 1
        (3, "lorem ipsum dolor sit amet consectetur"),
        (4, "lorem ipsum dolor sit amet elit"),               # near-dup of 3
        (5, "completely different text about spark engines"),
        (6, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"])
        for r in prefix_jaccard_pairs(df, threshold_pct=60).collect()
    }
    # python brute force over the same token sets
    import re

    sets = {i: set(t for t in re.split(r"[^\w]+", s.lower()) if t) for i, s in corpus}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if union and inter * 100 >= 60 * union:
                    want[(i, j)] = (inter, len(sets[i]), len(sets[j]))
    assert got == want
    assert (1, 6) in got and (1, 2) in got and (3, 4) in got


def test_knn_label_agreement_bounds(spark, embeddings):
    from qcache_spark.operators.similarity import knn_label_agreement

    probes = embeddings.filter(F.col("vec_id") % 64 == 0)
    rows = knn_label_agreement(embeddings, probes, k=3).collect()
    assert len(rows) == probes.count()
    for r in rows:
        assert 0 <= r["n_agree"] <= 3
        assert r["top1_id"] != r["vec_id"]  # self excluded
    # deterministic: a second run returns the identical result
    again = knn_label_agreement(embeddings, probes, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_token_pmi_finds_collocation(spark):
    from qcache_spark.operators.text import token_cooccurrence_pmi

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(i, f"{filler} new york {filler}") for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = token_cooccurrence_pmi(df, window=2, min_count=5, top_n=5).collect()
    assert out, "no pairs returned"
    # ("new","york") occurs in every doc exactly once within the window
    pair = {(r["a"], r["b"]): r["n_ab"] for r in out}
    assert pair.get(("new", "york")) == 10


def test_snapshot_diff_row_semantics(spark):
    from qcache_spark.operators.diff import snapshot_diff, snapshot_diff_summary

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        ["k", "s", "v"],
    )
    right = spark.createDataFrame(
        [(1, "a", 10),      # unchanged
         (2, "b", 20),      # null -> value IS a change (null-safe)
         (3, None, 30),     # value -> null IS a change
         (5, "e", 50)],     # added; key 4 removed
        ["k", "s", "v"],
    )
    rows = {r["k"]: r for r in snapshot_diff(left, right, ["k"]).collect()}
    assert rows[1]["status"] == "unchanged"
    assert rows[2]["status"] == "changed" and rows[2]["chg_v"] and not rows[2]["chg_s"]
    assert rows[3]["status"] == "changed" and rows[3]["chg_s"] and not rows[3]["chg_v"]
    assert rows[4]["status"] == "removed" and rows[4]["chg_s"] is None
    assert rows[5]["status"] == "added"
    summary = {
        r["metric"]: r["n_rows"]
        for r in snapshot_diff_summary(left, right, ["k"]).collect()
    }
    assert summary == {
        "added": 1, "removed": 1, "changed": 2, "unchanged": 1,
        "col:s": 1, "col:v": 1,
    }
    # key validation
    with pytest.raises(ValueError):
        snapshot_diff(left, right, [])
    with pytest.raises(ValueError):
        snapshot_diff(left, right, ["nope"])


def test_index_stats(spark, sf_dir, embeddings, tmp_path):
    """stats() health reports track the append/delete/compact
    lifecycle for both index classes."""
    from qcache_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    idx = dedup.MinHashIndex(docs.filter(F.col("doc_id") % 2 == 0))
    idx.write(spark, str(tmp_path / "mh_stats"))
    idx.append(docs.filter(F.col("doc_id") % 2 == 1))
    idx.delete(docs.filter(F.col("doc_id") % 10 == 0).select("doc_id"))
    s = idx.stats()
    n_del = docs.filter(F.col("doc_id") % 10 == 0).count()
    assert s["docs_stored"] == docs.count()
    assert s["docs_live"] == docs.count() - n_del
    assert s["tombstones_pending"] == n_del
    assert s["generation"] == 0 and s["bands"] == 16
    assert s["postings_files"] > 16  # two write rounds
    idx.compact()
    s2 = idx.stats()
    assert s2["tombstones_pending"] == 0
    assert s2["docs_stored"] == s2["docs_live"] == docs.count() - n_del
    assert s2["generation"] == 1 and s2["postings_files"] == 16

    ivf = similarity.IVFIndex(embeddings, n_centroids=4, iters=1)
    ivf.write(spark, str(tmp_path / "ivf_stats"))
    ivf.delete([0, 5, 10])
    s3 = ivf.stats()
    assert s3["vectors_stored"] == embeddings.count()
    assert s3["vectors_live"] == embeddings.count() - 3
    assert s3["tombstones_pending"] == 3
    assert sum(s3["cluster_sizes"].values()) == embeddings.count()
    assert len(s3["cluster_sizes"]) <= 4
    ivf.compact()
    s4 = ivf.stats()
    assert s4["tombstones_pending"] == 0
    assert s4["vectors_stored"] == embeddings.count() - 3
    assert s4["data_files"] == 4 and s4["generation"] == 1


def test_ivf_store_int8_recall_and_plan(spark, embeddings, tmp_path):
    """store_int8=True (VERDICT r9 Next #7): the index persists int8
    codes next to the float vectors; search ranks candidates from the
    CODES ONLY (parquet column pruning — the probed partitions' float
    pages are never read in the ranking stage) and exact-reranks the
    shortlist from the float column via a pushed-down id IN-filter.
    Must match the float index's top-k at full-rerank width, keep
    recall at default width, and survive the append lifecycle."""
    fpath = str(tmp_path / "ivf_f32")
    qpath = str(tmp_path / "ivf_sq8")
    params = dict(n_centroids=8, iters=1)
    similarity.IVFIndex(embeddings, **params).write(spark, fpath)
    similarity.IVFIndex(embeddings, store_int8=True, **params).write(
        spark, qpath
    )
    fidx = similarity.IVFIndex.load(spark, fpath)
    qidx = similarity.IVFIndex.load(spark, qpath)
    assert qidx.store_int8 is True
    qvec = list(embeddings.select("embedding").first()[0])

    # full-width rerank == exact: every candidate is re-scored float
    n_all = embeddings.count()
    exact = [
        (r[0], round(r[1], 6))
        for r in fidx.search(qvec, k=10, n_probe=8).collect()
    ]
    assert [
        (r[0], round(r[1], 6))
        for r in qidx.search(qvec, k=10, n_probe=8, rerank=n_all).collect()
    ] == exact

    # default shortlist width: 8-bit ranking loses almost nothing
    got = {r[0] for r in qidx.search(qvec, k=10, n_probe=8).collect()}
    assert len(got & {i for i, _ in exact}) >= 8

    # candidate ranking reads codes, not floats: the ranking stage's
    # scan schema must exclude the embedding column...
    approx_plan = (
        qidx._live_assigned()
        .select("vec_id", "_qvec")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"ReadSchema: [^\n]*", approx_plan)
    assert m and "embedding" not in m.group(0), m.group(0)
    # ...and the rerank read pushes the shortlist ids into the scan
    short = [i for i, _ in exact[:5]]
    rr = qidx._live_assigned().filter(F.col("vec_id").isin(short)).select(
        "vec_id", "embedding"
    )
    rplan = rr._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in rplan and "In(vec_id" in rplan.split(
        "PushedFilters"
    )[1][:200], rplan.split("PushedFilters")[1][:200]

    # append keeps the stored schema (codes derived for the batch too)
    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    apath = str(tmp_path / "ivf_sq8_app")
    similarity.IVFIndex(half, store_int8=True, **params).write(spark, apath)
    aidx = similarity.IVFIndex.load(spark, apath)
    aidx.append(embeddings.filter(F.col("vec_id") % 2 == 1))
    assert "_qvec" in aidx.assigned.columns
    assert dict(aidx.assigned.dtypes)["_qvec"] == "array<tinyint>"
    full = aidx.search(qvec, k=10, n_probe=8, rerank=n_all)
    assert [(r[0], round(r[1], 6)) for r in full.collect()] == exact


def _centroids_close(a, b, rel_tol=1e-12):
    """Per-coordinate closeness at ~1e-12 rel tol (ADVICE r10 #5):
    refit re-reads live rows from parquet with a different partitioning
    than the fresh build's input frame, and Spark's F.sum over doubles
    does not guarantee a reduction order, so EXACT centroid equality is
    not promised by Spark semantics — assignment and search parity stay
    pinned exactly (rounded cosines), which is the contract q125 gates."""
    import math

    return len(a) == len(b) and all(
        len(x) == len(y)
        and all(
            math.isclose(p, q, rel_tol=rel_tol, abs_tol=1e-12)
            for p, q in zip(x, y)
        )
        for x, y in zip(a, b)
    )


def test_ivf_refit_equals_fresh_build(spark, embeddings, tmp_path):
    """refit() (the centroid-drift rebuild): after build(evens) +
    append(odds), refitting must reproduce a FRESH build on all
    vectors — centroids equal to ~1e-12 (FP summation order is the
    only latitude), pruned search exactly — and materialize pending
    tombstones; store_int8 codes survive."""
    params = dict(n_centroids=8, iters=1)
    path = str(tmp_path / "ivf_refit")
    similarity.IVFIndex(
        embeddings.filter(F.col("vec_id") % 2 == 0), **params
    ).write(spark, path)
    idx = similarity.IVFIndex.load(spark, path)
    idx.append(embeddings.filter(F.col("vec_id") % 2 == 1))
    stale = idx.centroids
    rep = idx.refit()
    assert rep["vectors"] == embeddings.count()
    assert idx.generation == 1

    fresh = similarity.IVFIndex(embeddings, **params)
    assert _centroids_close(idx.centroids, fresh.centroids)
    assert not _centroids_close(idx.centroids, stale)  # it actually refit

    qvec = list(embeddings.select("embedding").first()[0])
    reloaded = similarity.IVFIndex.load(spark, path)
    assert _centroids_close(reloaded.centroids, fresh.centroids)
    got = [(r[0], round(r[1], 6)) for r in reloaded.search(qvec, 10, 3).collect()]
    fpath = str(tmp_path / "ivf_refit_fresh")
    fresh.write(spark, fpath)
    want = [
        (r[0], round(r[1], 6))
        for r in similarity.IVFIndex.load(spark, fpath).search(qvec, 10, 3).collect()
    ]
    assert got == want

    # refit materializes pending tombstones (rebuild-without semantics)
    victims = [r["vec_id"] for r in embeddings.limit(3).collect()]
    reloaded.delete(victims)
    reloaded.refit()
    assert reloaded.tombstones is None
    assert reloaded.assigned.count() == embeddings.count() - 3
    assert (
        reloaded.assigned.filter(F.col("vec_id").isin(victims)).count() == 0
    )

    # store_int8 survives the rewrite (codes re-derived)
    qpath = str(tmp_path / "ivf_refit_sq8")
    similarity.IVFIndex(
        embeddings.filter(F.col("vec_id") % 2 == 0), store_int8=True, **params
    ).write(spark, qpath)
    qidx = similarity.IVFIndex.load(spark, qpath)
    qidx.append(embeddings.filter(F.col("vec_id") % 2 == 1))
    qidx.refit()
    assert "_qvec" in qidx.assigned.columns
    assert qidx.store_int8 and _centroids_close(qidx.centroids, fresh.centroids)
