"""Deduplication operators for 100 TB-scale corpus curation.

Five families, each with an explicit scale story:

- **exact**: groupBy on an 8-byte fingerprint (not the document body)
  → representative = min(id). The shuffle moves ids + hashes only.
- **MinHash + LSH**: shingle → 32-bit hash → k permutations →
  signature → b bands → band-bucket join for candidate pairs →
  exact Jaccard verify. Everything up to the verify join is built-in
  JVM expressions (no Python in the scan). Candidate generation is a
  self-equi-join on (band_id, band_hash) — a co-partitioned shuffle,
  no cross product. Pathological buckets (boilerplate) are capped by
  `max_bucket_size` to bound the quadratic blowup; cap events are
  observable in the returned stats.
- **SimHash**: 64-bit sign-aggregated token-hash sketch, computed with
  a JVM `aggregate` expression; near-dup candidates via chunk-band
  join (dups within Hamming distance d share one of d+1 chunks),
  verified with bit_count(xor).
- **n-gram Jaccard**: exact set similarity over shingle sets for a
  candidate pair set (usually LSH output).
- **embedding cosine**: random-hyperplane LSH bucket join + exact
  cosine verify (see similarity.py for the vector kernels).

Reference parity note: tobgu/qcache has no dedup operators at all
(`distinct` is its closest concept, qcache/qframe/query.py:196-204);
this module is the driver's north-star extension surface.
"""
from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from qcache_spark import hadoopfs as hfs
from qcache_spark import opcache
from qcache_spark.operators import _lifecycle

MERSENNE_PRIME_ISH = 4294967311  # smallest prime > 2^32
MAX_HASH = 0xFFFFFFFF


def tokenize(col: Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization (JVM split)."""
    c = F.trim(col)
    if lowercase:
        c = F.lower(c)
    return F.split(c, r"\s+")


def shingles(col: Column, n: int = 3, lowercase: bool = True) -> Column:
    """Word n-gram shingles as array<string>; documents shorter than
    n tokens yield one whole-document shingle."""
    tokens = tokenize(col, lowercase)
    make = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
    )
    return F.when(F.size(tokens) < n, F.array(F.array_join(tokens, " "))).otherwise(
        make
    )


def shingle_hashes(col: Column, n: int = 3, lowercase: bool = True) -> Column:
    """32-bit n-gram shingle hashes WITHOUT materializing shingle
    strings: hash each token once, combine n consecutive token hashes
    polynomially. array<bigint>, values in [0, 2^32)."""
    tokens = tokenize(col, lowercase)
    # mask to 32 bits up front and after every combine step: inputs
    # stay < 2^32, products < 2^52 — no ANSI long overflow
    th = F.transform(tokens, lambda t: F.xxhash64(t).bitwiseAND(F.lit(MAX_HASH)))
    prime = F.lit(1000003)

    def step(acc: Column, h: Column) -> Column:
        return (acc * prime + h).bitwiseAND(F.lit(MAX_HASH))

    def combine(h_arr: Column) -> Column:
        def shingle_at(i: Column) -> Column:
            acc = F.element_at(h_arr, i + 1)
            for j in range(1, n):
                acc = step(acc, F.element_at(h_arr, i + 1 + j))
            return acc

        whole_doc = F.array(
            F.aggregate(h_arr, F.lit(0).cast("long"), step)
        )
        ngrams = F.transform(F.sequence(F.lit(0), F.size(h_arr) - n), shingle_at)
        return F.when(F.size(h_arr) < n, whole_doc).otherwise(ngrams)

    return let(th, combine)


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    # a*h fits in int64: a < 2^28, h < 2^32 → product < 2^60
    return [(rng.randrange(1, 1 << 28), rng.randrange(0, 1 << 28)) for _ in range(num_perm)]


def let(value: Column, body) -> Column:
    """Lambda-let: bind `value` to a variable evaluated ONCE, usable
    many times in `body`. Encoded as `transform(array(v), x -> body)[0]`.

    Why: Catalyst's CollapseProject inlines single-use projections into
    consumers — an expensive subexpression referenced inside a
    higher-order-function lambda then re-evaluates on EVERY lambda
    invocation. For the MinHash signature that meant recomputing
    shingles+xxhash64 64 times per row (~34 ms/doc, 169 s for 5k docs);
    with the let-binding it is computed once (~2 s)."""
    return F.transform(F.array(value), body)[0]


def minhash_signature(
    text_col: Column, num_perm: int = 64, shingle_size: int = 3, seed: int = 42
) -> Column:
    """MinHash signature (array<bigint> of length num_perm) over the
    DISTINCT shingle set, computed entirely with built-in collection
    expressions — no UDFs, no Python in the scan.

    Structure notes (both matter at scale):
    - permutations iterate as a nested `transform` over a LITERAL
      params array (a Python-side loop of num_perm array_min calls
      duplicates the hash subtree num_perm times → ~19 MiB task
      binaries);
    - the shingle-hash array is bound via `let` so it is evaluated
      once per row, not once per permutation (see `let`)."""
    sh = F.array_distinct(shingles(text_col, shingle_size))
    hashes = F.transform(sh, lambda s: F.xxhash64(s).bitwiseAND(F.lit(MAX_HASH)))
    return let(hashes, lambda h: _signature_from_bound_hashes(h, num_perm, seed))


def _signature_from_bound_hashes(h: Column, num_perm: int, seed: int) -> Column:
    """Permutation minima over an already-BOUND hash-array variable
    (reading a bound lambda variable is free; re-evaluating an inlined
    expression is not — see `let`)."""
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _perm_params(num_perm, seed)
        ]
    )
    return F.transform(
        params,
        lambda p: F.array_min(
            F.transform(
                h,
                lambda x: (x * p["a"] + p["b"]) % F.lit(MERSENNE_PRIME_ISH),
            )
        ),
    )


def _band_hashes(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<bigint>: one bucket hash per band (band index mixed in so
    buckets never collide across bands). `let`-bound: the signature
    expression evaluates once, not once per band."""
    return let(
        sig,
        lambda s: F.array(
            *[
                F.xxhash64(F.slice(s, j * rows_per_band + 1, rows_per_band), F.lit(j))
                for j in range(bands)
            ]
        ),
    )


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact dedup keeping an arbitrary row per key (Spark
    dropDuplicates — the reference's `distinct`, SURVEY.md §2.5)."""
    return df.dropDuplicates(subset or None)


def exact_dedup_representatives(
    df: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic exact dedup: hash the key to 8 bytes, keep
    min(id) per hash, count members. Shuffle payload = (hash, id)."""
    return (
        df.select(F.xxhash64(key).alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_members"))
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: count, per corpus doc, the distinct
    word n-grams it shares with an evaluation/benchmark set (docs with
    any overlap are contamination candidates to drop before training).

    Scale shape: the eval side collapses to a DISTINCT set of n-gram
    hashes — benchmark suites are tiny next to a training corpus — and
    is broadcast, so the corpus-side probe is a map-only semi-join on
    the scan: no corpus shuffle at all until the final per-doc count
    (which only carries matching (doc, hash) rows). N-grams are
    compared as 64-bit xxhash64 of the shingle string (not the 32-bit
    minhash-domain shingle_hashes — at corpus scale 32-bit birthday
    collisions would plant false contamination); the strings exist
    only inside the scan projection and are never shuffled.
    """
    sh = F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
    ev = (
        eval_df.select(F.explode(sh).alias("sh"))
        .distinct()
    )
    doc_sh = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("sh")
    )
    return (
        doc_sh.join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def shared_ngram_pairs(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 200,
) -> DataFrame:
    """Exact shared-span pairs: documents that share at least one
    verbatim n-token span, with the count of distinct shared spans —
    the exact-substring-duplication signal (the "copy-paste" dedup
    family, complementary to MinHash's set-similarity family: a 100%
    verbatim paragraph inside an otherwise-different page has low
    Jaccard but is exactly what this catches).

    Scale shape: an inverted-index self-join on the 64-bit span hash —
    (doc, gram-hash) postings, posting lists longer than
    `max_postings` dropped (ubiquitous boilerplate spans would
    otherwise contribute |list|² pairs; the cap bounds the join
    blow-up exactly like the LSH bucket cap). Span strings exist only
    inside the scan projection; the shuffle carries 16-byte (id, hash)
    rows. 64-bit hashes, not the 32-bit minhash domain — at corpus
    scale 32-bit birthday collisions would fabricate shared spans.

    Output: (id_a, id_b, n_shared) with id_a < id_b.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    sh = F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
    grams = df.select(
        F.col(id_col).alias("_id"), F.explode(F.array_distinct(sh)).alias("_g")
    )
    # posting-list length as a window count: one _g exchange shared by
    # the count, the [2, cap] filter, and the self-join (same rewrite
    # as the LSH bucket caps below)
    capped = grams.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("_g"))
    ).filter((F.col("_n") >= 2) & (F.col("_n") <= max_postings)).drop("_n")
    a = capped.select("_g", F.col("_id").alias("id_a"))
    b = capped.select("_g", F.col("_id").alias("id_b"))
    return (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def canonical_representatives(
    df: DataFrame,
    key: Column,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-document selection: per exact-dup cluster keep the
    highest-*quality* member (ties -> lowest id), not an arbitrary or
    min-id one — the selection step every dedup pipeline runs after
    clustering, choosing which copy of a duplicated page survives into
    the training set.

    Scale shape: identical to exact_dedup_representatives — ONE hash
    shuffle whose payload is (8-byte fingerprint, quality, id), with
    map-side partial aggregation; max_by over a (quality, -id) struct
    picks the canonical member without a per-cluster window sort.
    """
    return (
        df.select(
            F.xxhash64(key).alias("dup_key"),
            F.col(quality_col).alias("_q"),
            F.col(id_col),
        )
        .groupBy("dup_key")
        .agg(
            F.max_by(
                id_col, F.struct(F.col("_q"), (-F.col(id_col)).alias("_nid"))
            ).alias("keep_id"),
            F.max("_q").alias("best_quality"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket_size: int = 500,
    verify_threshold: float | None = 0.5,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) with exact Jaccard.

    API note (ADVICE r12 #3): CONSTRUCTING the returned DataFrame is
    eager — the signature/bucket pipeline runs at call time (an
    eager localCheckpoint materializes the shared base; the r12
    planning-cost fix). The checkpoint blocks live outside the
    opcache registry: ``opcache.release`` does not free them (the
    context cleaner does, when the returned frame is dropped), while
    ``opcache.cached_bytes`` — whole-app RDD storage — does count
    them for monitoring.

    With num_perm=64, bands=16 (r=4) the LSH S-curve has its midpoint
    near s ≈ (1/16)^(1/4) ≈ 0.5.

    ``_base``: a caller-persisted `_minhash_base` frame over ``df``
    (MinHashIndex.admit shares one batch base across its probe, this
    intra-batch self-join, and the survivor append).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    # One let-bound struct computes the distinct shingle-HASH set once
    # per row and derives both outputs (the verify set and the LSH
    # band hashes) from the bound variable. Shingle hashes combine
    # token hashes polynomially instead of building n-gram STRINGS —
    # hashing T tokens once beats allocating T shingle strings of n
    # tokens each (the string construction dominated the signature
    # stage). Jaccard over 32-bit shingle-hash sets equals string-set
    # Jaccard up to negligible collision probability (~1e-5/doc).
    base = _base if _base is not None else _minhash_base(
        df, id_col, text_col, num_perm, bands, r, shingle_size, seed
    )

    buckets = base.select(
        "_id", F.posexplode("_bands").alias("_band", "_bucket")
    )
    # Cap pathological buckets (identical boilerplate): the bucket
    # size is an unbounded-frame window COUNT over the same
    # (_band, _bucket) partitioning the self-join needs — Spark plans
    # ONE exchange that the window, the filter, and both join sides
    # all reuse (the previous groupBy-sizes + join-back formulation
    # shuffled the postings an extra time through the aggregate
    # branch).
    w_bucket = Window.partitionBy("_band", "_bucket")
    capped = buckets.withColumn(
        "_n", F.count(F.lit(1)).over(w_bucket)
    ).filter(F.col("_n") <= max_bucket_size).drop("_n")

    left = capped.select("_band", "_bucket", F.col("_id").alias("id_a"))
    right = capped.select("_band", "_bucket", F.col("_id").alias("id_b"))
    pairs = (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # Materialize: `pairs` is referenced 3x below (verify join +
        # both sides of the member filter) and Spark shares no common
        # subplans — without this the whole bucket-join pipeline
        # re-executes per reference (observed 5x duplication). The
        # pair set is small by construction (post-cap, post-distinct).
    )
    # localCheckpoint (eager), not registry-persist (the r7-r11
    # device): a persisted frame still carries the full bucket-join
    # pipeline as LOGICAL lineage, so each of the three downstream
    # references re-ANALYZED the num_perm-sized signature tree on the
    # driver (guide §7.3/§3.3 — plan-size cost, measured ~1 s per
    # action at 64 perms). Checkpoint blocks are O(pairs) rows, freed
    # by the context cleaner when the returned frame is dropped;
    # lineage is cut, so executor loss fails the job instead of
    # recomputing (batch-retry trade-off, as in MinHashIndex.admit).
    pairs = pairs.localCheckpoint(eager=True)

    # Verify only touches candidate-pair members: the semi-join on the
    # id column pushes below the shingle projection, so shingle sets
    # are recomputed for ~2·|pairs| docs, not the whole corpus (the
    # full-corpus verify join dominated the sf0.1 bench at 26 s).
    cand_ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .union(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # ONE corpus scan for the member sets, not one per rename branch:
    # `a` and `b` below each referenced the semi-joined projection,
    # and Spark shares no common subplans — the corpus was scanned
    # (and candidate shingles recomputed) twice. The checkpointed
    # frame is O(candidates) rows.
    sets = base.select("_id", "_shingles").join(
        cand_ids, "_id", "left_semi"
    ).localCheckpoint(eager=True)
    a = sets.withColumnRenamed("_id", "id_a").withColumnRenamed("_shingles", "_sa")
    b = sets.withColumnRenamed("_id", "id_b").withColumnRenamed("_shingles", "_sb")
    verified = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb"))
            ).alias("jaccard"),
        )
    )
    if verify_threshold is not None:
        verified = verified.filter(F.col("jaccard") >= verify_threshold)
    return verified


def _minhash_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    rows_per_band: int,
    shingle_size: int,
    seed: int,
) -> DataFrame:
    """(_id, _shingles, _bands) projection shared by the self-join and
    probe variants: one let-bound struct computes the distinct
    shingle-hash set once per row and derives both the verify set and
    the LSH band hashes from the bound variable (see
    minhash_lsh_pairs for the algebra and cost notes)."""
    sh_hashes = F.array_distinct(shingle_hashes(F.col(text_col), shingle_size))
    packed = let(
        sh_hashes,
        lambda s: F.struct(
            s.alias("sh"),
            _band_hashes(
                _signature_from_bound_hashes(s, num_perm, seed),
                bands,
                rows_per_band,
            ).alias("bands"),
        ),
    )
    return df.select(F.col(id_col).alias("_id"), packed.alias("_p")).select(
        "_id",
        F.col("_p.sh").alias("_shingles"),
        F.col("_p.bands").alias("_bands"),
    )


def minhash_probe_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    max_bucket_size: int = 500,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Incremental near-dup probe: MinHash-LSH candidates between a
    NEW batch and an EXISTING corpus, verified with exact Jaccard.

    The 100 TB ingestion pattern minhash_lsh_pairs cannot serve:
    corpora grow by daily batches, and re-running the all-corpus
    self-join to admit one batch re-pairs petabytes that were already
    deduplicated. This probe touches the corpus once per batch:

    - corpus side: one exchange of its (band, bucket, id) postings —
      16 rows of ~24 bytes per document — shared by the bucket-size
      cap window and the join (the q31 shared-exchange device);
    - batch side: its postings are BROADCAST (a batch is small by
      definition; 10k docs × 16 bands ≈ 4 MB), so no corpus-side
      re-shuffle per batch and no skew exposure on hot buckets;
    - verify: exact shingle-set Jaccard computed only for candidate
      members — the corpus shingle projection is semi-joined down to
      candidate ids before the join, so full-text recompute touches
      O(|candidates|) corpus docs, not the corpus.

    Same LSH parameters/S-curve as minhash_lsh_pairs (num_perm=64,
    bands=16 → midpoint ≈ 0.5). Returns (batch_id, corpus_id, jaccard),
    one row per cross pair with jaccard >= verify_threshold.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    cbase = _minhash_base(
        corpus, id_col, text_col, num_perm, bands, r, shingle_size, seed
    )
    # batch side is referenced twice (bucket join + verify broadcast):
    # checkpoint the O(batch) rows so the signature scan runs once and
    # downstream plans stop re-analyzing the signature tree. The
    # CORPUS side is deliberately NOT materialized — O(corpus) blocks
    # are exactly what must never be pinned at 100 TB; its two
    # references (postings + candidate sets) recompute from the scan,
    # which is this operator's documented cost (the persisted
    # MinHashIndex exists to amortize it).
    bbase = _minhash_base(
        batch, id_col, text_col, num_perm, bands, r, shingle_size, seed
    ).localCheckpoint(eager=True)

    cbuckets = cbase.select(
        "_id", F.posexplode("_bands").alias("_band", "_bucket")
    )
    w_bucket = Window.partitionBy("_band", "_bucket")
    capped = cbuckets.withColumn(
        "_n", F.count(F.lit(1)).over(w_bucket)
    ).filter(F.col("_n") <= max_bucket_size).drop("_n")

    bbuckets = bbase.select(
        F.col("_id").alias("batch_id"),
        F.posexplode("_bands").alias("_band", "_bucket"),
    )
    pairs = (
        capped.select("_band", "_bucket", F.col("_id").alias("corpus_id"))
        .join(F.broadcast(bbuckets), ["_band", "_bucket"])
        .filter(F.col("corpus_id") != F.col("batch_id"))
        .select("batch_id", "corpus_id")
        .distinct()
    )
    pairs = opcache.cache(
        corpus.sparkSession, "dedup.minhash_probe_pairs", pairs
    )

    cand_ids = pairs.select(F.col("corpus_id").alias("_id")).distinct()
    csets = cbase.select("_id", "_shingles").join(cand_ids, "_id", "left_semi")
    verified = (
        pairs.join(
            F.broadcast(
                bbase.select(
                    F.col("_id").alias("batch_id"),
                    F.col("_shingles").alias("_sb"),
                )
            ),
            "batch_id",
        )
        .join(
            csets.select(
                F.col("_id").alias("corpus_id"),
                F.col("_shingles").alias("_sc"),
            ),
            "corpus_id",
        )
        .select(
            "batch_id",
            "corpus_id",
            (
                F.size(F.array_intersect("_sb", "_sc"))
                / F.size(F.array_union("_sb", "_sc"))
            ).alias("jaccard"),
        )
    )
    if verify_threshold is not None:
        verified = verified.filter(F.col("jaccard") >= verify_threshold)
    return verified


# Bumped whenever the on-disk postings/sets layout or the MinHash
# signature algebra changes incompatibly; persisted in the _meta
# sidecar and checked by load() (operators/_lifecycle.py).
MINHASH_FORMAT_VERSION = 1


class MinHashIndexMismatch(ValueError):
    """A persisted MinHash index does not match the expected format
    version or build parameters; callers should rebuild."""


class MinHashIndex(_lifecycle.PersistedIndex):
    """Persisted, appendable MinHash-LSH index (VERDICT r8 missing #1).

    ``minhash_probe_pairs`` answers a batch-vs-corpus probe but
    re-derives and re-shuffles the CORPUS postings from raw text on
    every call — at 100 TB of text that is ~38 TB of recomputation per
    daily batch admission. This index materializes the corpus side
    ONCE:

    - ``postings/`` — one parquet row per (band, bucket, id): the LSH
      band hashes, 16 rows of ~24 bytes per document, partitioned by
      band (16 static partitions — append lands new files inside
      existing partitions, no directory churn);
    - ``sets/`` — one row per (id, shingles): the 32-bit shingle-hash
      sets the exact-Jaccard verify step needs, so verification never
      goes back to corpus text either;
    - ``<path>_meta`` — a single-row JSON sidecar carrying the format
      version and every signature-affecting parameter. ``load()``
      refuses a stale or differently-parameterized artifact
      (:class:`MinHashIndexMismatch`) instead of silently probing
      against incompatible hashes.

    Daily-ingestion loop: ``probe(batch)`` finds the batch's near-dups
    against everything admitted so far, then ``append(batch)`` admits
    the (deduplicated) batch — both O(batch), never O(corpus):

    - probe scans stored postings once with NO corpus shuffle: the
      batch's (band, bucket) keys are broadcast, a semi-join keeps
      only TOUCHED buckets (complete buckets — the semi-join keys on
      the full bucket identity — so the ``max_bucket_size`` cap sees
      true bucket sizes), and only those O(|batch| x bucket-size) rows
      enter the cap window's exchange;
    - verify reads stored ``sets`` for candidate corpus ids
      (broadcast-joined) and recomputes shingles only for the BATCH
      side, whose text is in hand;
    - append writes the batch's postings and sets as new files in
      place — no read-modify-write of existing data. Callers own id
      uniqueness (append does not dedup against stored ids; probe
      drops self-pairs by id equality).

    Parity: ``load(path).probe(batch)`` returns exactly
    ``minhash_probe_pairs(corpus, batch)`` for the corpus the index
    holds (pytest-pinned, including after append), and the driver gate
    (q107) checks probe-off-loaded-index against the same brute-force
    DuckDB oracle as q105.

    The lease, generation, retention and tombstone lifecycle is
    operators/_lifecycle.py's.
    """

    # postings/ + sets/ at generation 0; tombstones mask the LIVE
    # generation and are consumed by the next compact
    LAYOUT = _lifecycle.Layout(
        ("postings", "sets"), "postings_generation", "/tombstones"
    )
    _tomb_col = "_id"

    def __init__(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_perm: int = 64,
        bands: int = 16,
        shingle_size: int = 3,
        seed: int = 42,
    ):
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        self.id_col, self.text_col = id_col, text_col
        self.num_perm, self.bands = num_perm, bands
        self.shingle_size, self.seed = shingle_size, seed
        self.path: str | None = None
        self.generation = 0
        self.tombstones: DataFrame | None = None
        self._spark = df.sparkSession
        base = self._base(df)
        # Kept so write() can persist the base ONCE and derive both
        # outputs from the cached rows: postings and sets otherwise
        # each re-run the full shingle+signature scan (2x the most
        # expensive expression in the module — guide §1.2 step 1,
        # don't compute things twice). None once the index is
        # disk-backed (load/_reload read parquet instead).
        self._mem_base: DataFrame | None = base
        self.postings = base.select(
            "_id", F.posexplode("_bands").alias("_band", "_bucket")
        )
        self.sets = base.select("_id", "_shingles")

    def _params(self) -> dict:
        return {
            "id_col": self.id_col,
            "text_col": self.text_col,
            "num_perm": self.num_perm,
            "bands": self.bands,
            "shingle_size": self.shingle_size,
            "seed": self.seed,
        }

    def _base(self, df: DataFrame) -> DataFrame:
        return _minhash_base(
            df,
            self.id_col,
            self.text_col,
            self.num_perm,
            self.bands,
            self.num_perm // self.bands,
            self.shingle_size,
            self.seed,
        )

    def _stored(self) -> DataFrame:
        return self.sets

    def _live_copy(self) -> tuple:
        """The live postings and sets to copy out (write/merge), plus
        the base persisted once when the index is in memory: postings
        and sets otherwise each re-run the shingle+signature scan, the
        module's most expensive expression (guide §1.2 step 1). The
        caller unpersists the base after both writes."""
        base = self._mem_base
        if base is None:
            return self._live(self.postings), self._live(self.sets), None
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
        postings = base.select(
            "_id", F.posexplode("_bands").alias("_band", "_bucket")
        )
        sets = base.select("_id", "_shingles")
        return self._live(postings), self._live(sets), base

    def write(self, spark, path: str) -> None:
        """Persist postings + sets + meta sidecar. ``overwrite`` keeps
        rewrites idempotent (same discipline as IVFIndex.write)."""
        if self.path is not None and hfs.same_path(spark, path, self.path):
            # Re-writing a disk-backed index onto its own path:
            # postings/sets READ that path, so an overwrite would
            # delete the files mid-scan (FAILED_READ_FILE; same guard
            # as IVFIndex.write). The data there is already canonical;
            # only the meta sidecar needs refreshing.
            self._write_meta(spark, path)
            return
        # overwrite mode only replaces postings/ + sets/ (ADVICE r9 #1)
        self._clear_previous(spark, path)
        # a re-homed index materializes its pending deletions
        postings, sets, base = self._live_copy()
        self.generation = 0
        self._write_postings(postings, "overwrite", path + "/postings")
        sets.write.mode("overwrite").parquet(path + "/sets")
        if base is not None:
            base.unpersist(blocking=False)
        self._write_meta(spark, path)
        self.path = path
        self._reload(spark)

    @staticmethod
    def _write_postings(postings: DataFrame, mode: str, path: str) -> None:
        """Postings land range-distributed on (_band, _bucket) before
        the partitionBy write. Without the exchange every input task
        holds rows of ALL bands and writes one file per band dir —
        M x bands tiny files per write (512 at the bench's 32-task
        scans; the small-file tax of guide §6). Range distribution
        gives each output task a contiguous (band, bucket) slice: at
        most ~2 band dirs per task, so the file count tracks the
        shuffle-partition count (scale-adaptive: AQE coalesces the
        no-explicit-N range exchange locally; a cluster sizes it from
        spark.sql.shuffle.partitions) — and rows inside each file are
        bucket-clustered, so probe-side row-group stats pruning on
        _bucket becomes possible. Postings are (id, band, bucket) —
        bytes-per-row is tiny, so the extra exchange moves metadata,
        never the corpus text (guide §2.3/§8: shuffle the proxy, not
        the payload)."""
        postings.select("_id", "_band", "_bucket").repartitionByRange(
            "_band", "_bucket"
        ).write.mode(mode).partitionBy("_band").parquet(path)

    def _write_meta(self, spark, path: str) -> None:
        meta = {
            "format_version": MINHASH_FORMAT_VERSION,
            self.LAYOUT.pointer: self.generation,
            **self._params(),
        }
        # Driver-side text file through the Hadoop FS API (~ms). The
        # previous 1-row parquet relation cost a full Spark job
        # (~0.3 s) per meta write — control-plane metadata is driver
        # work, not a distributed job (optimization r12).
        hfs.write_meta_sidecar(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str, expect: dict | None = None) -> "MinHashIndex":
        """Load a persisted index; raises :class:`MinHashIndexMismatch`
        on a stale format version or an ``expect`` key that differs
        from the persisted build parameters."""
        meta = _lifecycle.load_meta(
            spark, path, MINHASH_FORMAT_VERSION, MinHashIndexMismatch,
            "MinHash index", expect,
        )
        index = cls.__new__(cls)
        index.id_col = meta["id_col"]
        index.text_col = meta["text_col"]
        index.num_perm = meta["num_perm"]
        index.bands = meta["bands"]
        index.shingle_size = meta["shingle_size"]
        index.seed = meta["seed"]
        index.path = path
        index.generation = meta.get(cls.LAYOUT.pointer, 0)
        index._spark = spark
        index._reload(spark)
        return index

    def _reload(self, spark) -> None:
        """(Re)open the on-disk tables — fresh reads after write/append
        so the file listing reflects files added since the previous
        DataFrame was planned."""
        self._mem_base = None  # disk-backed from here on
        postings_dir, sets_dir = self._dirs()
        self.postings = spark.read.parquet(postings_dir).select(
            "_id", "_band", "_bucket"
        )
        self.sets = spark.read.parquet(sets_dir)
        self.tombstones = self._read_tombstones(spark)

    def append(
        self,
        batch: DataFrame,
        lease: bool = True,
        _base: DataFrame | None = None,
    ) -> None:
        """Admit a batch: derive its postings + sets with the index's
        own parameters and append them as NEW FILES (no rewrite of
        existing data — O(batch) I/O). The caller owns id uniqueness:
        appending an id twice duplicates its postings, exactly as
        storing a document twice would."""
        with _lifecycle.writer(self, "append", lease):
            # ``_base``: a caller-materialized base over a SUPERSET of
            # batch rows (admit passes the probe's batch base filtered
            # to survivors) — reusing it removes the batch's third and
            # fourth signature scans. Locally derived bases are
            # eagerly localCheckpoint-ed for the same reason, PLUS
            # lineage truncation: the postings sampling job, the
            # postings write and the sets write would otherwise each
            # re-run AND re-plan the shingle+signature pipeline
            # (batch-sized blocks; see admit for the planning-cost
            # rationale and the retry trade-off).
            if _base is None:
                _base = self._base(batch).localCheckpoint(eager=True)
            postings_dir, sets_dir = self._dirs()
            self._write_postings(_base.select(
                "_id", F.posexplode("_bands").alias("_band", "_bucket")
            ), "append", postings_dir)
            _base.select("_id", "_shingles").write.mode("append").parquet(
                sets_dir
            )
            self._reload(self._spark)

    def merge(self, other: "MinHashIndex", lease: bool = True) -> None:
        """Union another index's corpus into this one — the
        PARALLEL-BUILD path: shard a huge corpus, build per-shard
        indexes independently (each build is embarrassingly parallel,
        no cross-shard shuffle anywhere), then fold them together with
        O(shard) file appends. ``other`` may be in-memory (never
        written) or loaded from disk; it must share every
        signature-affecting parameter (checked — merging indexes
        hashed under different params would silently corrupt probes).
        ``other``'s pending tombstones are materialized out during the
        copy; this index's own tombstones are untouched. As with
        append, callers own id uniqueness across the merged shards."""
        with _lifecycle.writer(self, "merge", lease):
            if other._params() != self._params():
                raise MinHashIndexMismatch(
                    f"cannot merge: parameter mismatch "
                    f"{other._params()} != {self._params()}"
                )
            postings, sets, base = other._live_copy()
            postings_dir, sets_dir = self._dirs()
            self._write_postings(postings, "append", postings_dir)
            sets.write.mode("append").parquet(sets_dir)
            if base is not None:
                base.unpersist(blocking=False)
            self._reload(self._spark)

    def _live_postings(self) -> DataFrame:
        return self._live(self.postings)

    def stats(self) -> dict:
        """Operational health report — what to check before deciding
        to ``compact()``: stored vs live (un-tombstoned) document
        counts, pending tombstones, the live data generation, and
        postings file count (appends grow it; probe cost follows it).
        Two small aggregate jobs + a file listing; no corpus text is
        touched."""
        n_docs = self.sets.count() if self.sets is not None else 0
        n_tomb = self._pending()
        return {
            "docs_stored": n_docs,
            "docs_live": n_docs - n_tomb,
            **self._lifecycle_stats(n_tomb),
            "postings_files": self._files() if self.path is not None else None,
            "bands": self.bands,
        }

    def compact(self, retain: int = 1, lease: bool = True) -> dict:
        """Rewrite postings + sets into one bucket-sorted file per
        band. Every ``append`` lands a new file set inside the 16
        ``_band=`` partitions, so a year of daily admissions leaves
        ~365 small files per band — each probe's touched-bucket scan
        then pays per-file open/footer cost and loses row-group
        pruning. Compaction rebuilds the data dirs at generation N+1
        (``repartition(bands, _band)`` + ``sortWithinPartitions
        (_bucket)`` — one shuffle of 24-byte rows, bucket-clustered
        row groups so min/max stats prune within a band) and flips the
        meta pointer; ``retain`` and the reader-safety contract are
        operators/_lifecycle.py's. A scheduled ``index_tool compact``
        fails loudly with :class:`~qcache_spark.lease.LeaseHeld` while
        an admitter is live, instead of silently destroying its batch.

        Returns before/after file counts (None on never-persisted
        paths) plus the kept/removed superseded generations. Probe
        results are unchanged (pytest pins probe-parity across
        compact)."""
        with _lifecycle.writer(self, "compact", lease):
            before = self._files()
            # materialize pending deletions into the rewrite
            postings = self._live(self.postings)
            sets = self._live(self.sets)

            def rewrite():
                postings_dir, sets_dir = self._dirs()
                postings.repartition(self.bands, "_band").sortWithinPartitions(
                    "_bucket", "_id"
                ).write.mode("overwrite").partitionBy("_band").parquet(
                    postings_dir
                )
                sets.repartition(self.bands).write.mode("overwrite").parquet(
                    sets_dir
                )

            kept, removed = self._flip(rewrite, retain)
            return {
                "postings_files_before": before,
                "postings_files_after": self._files(),
                "retained_generations": kept,
                "removed_generations": removed,
            }

    def probe(
        self,
        batch: DataFrame,
        max_bucket_size: int = 500,
        verify_threshold: float | None = 0.5,
        _bbase: DataFrame | None = None,
    ) -> DataFrame:
        """Near-dup pairs between ``batch`` and the indexed corpus:
        (batch_id, corpus_id, jaccard). Semantics identical to
        ``minhash_probe_pairs(corpus, batch)``; cost O(batch):
        the only corpus-side work is one postings scan narrowed to
        touched buckets and a sets read narrowed to candidates.

        ``_bbase``: a caller-materialized batch base (admit shares ONE
        base across probe, intra-batch self-join and append). When
        absent the base is localCheckpoint-ed here: it feeds three
        subplans (touched-bucket keys, the candidate join, the verify
        broadcast), each of which would otherwise re-run the batch's
        shingle+signature scan — and, with mere persist, still carry
        the full signature expression tree as logical lineage through
        every downstream plan analysis (see admit)."""
        bbase = _bbase
        if bbase is None:
            bbase = self._base(batch).localCheckpoint(eager=True)
        bbuckets = bbase.select(
            F.col("_id").alias("batch_id"),
            F.posexplode("_bands").alias("_band", "_bucket"),
        )
        # Touched buckets only, as a broadcast semi-join (complete
        # buckets are kept, so the cap window below still sees true
        # bucket sizes). Row-group pruning is structurally unavailable
        # to these dynamic keys; a literal-key pushdown would need an
        # extra driver job to collect them, which measured ~0.3 s per
        # batch probe (q107/q116).
        bkeys = bbuckets.select("_band", "_bucket").distinct()
        touched = self._live_postings().join(
            F.broadcast(bkeys), ["_band", "_bucket"], "left_semi"
        )
        w_bucket = Window.partitionBy("_band", "_bucket")
        capped = touched.withColumn(
            "_n", F.count(F.lit(1)).over(w_bucket)
        ).filter(F.col("_n") <= max_bucket_size).drop("_n")

        pairs = (
            capped.select("_band", "_bucket", F.col("_id").alias("corpus_id"))
            .join(F.broadcast(bbuckets), ["_band", "_bucket"])
            .filter(F.col("corpus_id") != F.col("batch_id"))
            .select("batch_id", "corpus_id")
            .distinct()
        )
        pairs = opcache.cache(
            self._spark, "dedup.minhash_index_probe", pairs
        )

        cand_ids = pairs.select(F.col("corpus_id").alias("_id")).distinct()
        csets = self.sets.join(cand_ids, "_id", "left_semi")
        verified = (
            pairs.join(
                F.broadcast(
                    bbase.select(
                        F.col("_id").alias("batch_id"),
                        F.col("_shingles").alias("_sb"),
                    )
                ),
                "batch_id",
            )
            .join(
                csets.select(
                    F.col("_id").alias("corpus_id"),
                    F.col("_shingles").alias("_sc"),
                ),
                "corpus_id",
            )
            .select(
                "batch_id",
                "corpus_id",
                (
                    F.size(F.array_intersect("_sb", "_sc"))
                    / F.size(F.array_union("_sb", "_sc"))
                ).alias("jaccard"),
            )
        )
        if verify_threshold is not None:
            verified = verified.filter(F.col("jaccard") >= verify_threshold)
        return verified

    def admit(
        self,
        batch: DataFrame,
        max_bucket_size: int = 500,
        verify_threshold: float = 0.5,
        intra_batch: bool = True,
        lease: bool = True,
    ) -> DataFrame:
        """The complete daily-admission step: probe, drop the batch's
        near-duplicates, append the survivors, return them.

        A batch row is dropped iff
        - it near-duplicates the CORPUS (``probe`` jaccard >=
          ``verify_threshold``), or
        - with ``intra_batch=True``, a LOWER-id row of the SAME batch
          reaches the threshold against it (the dominated policy —
          order-free, so the survivor set is partition-invariant and
          externally SQL-expressible; a row dominated only by another
          DROPPED row is still dropped, by design: dominance is a
          property of the pair, not of the admission outcome).

        Everything stays O(batch): the corpus side is the persisted
        probe (touched-bucket postings scan + stored sets), the
        intra-batch side is the LSH self-join over the batch alone
        (``minhash_lsh_pairs`` with this index's parameters), and
        ``append`` writes only survivors. Returns the surviving batch
        rows with their original columns. The probe→append section
        holds the writer lease (operators/_lifecycle.py)."""
        with _lifecycle.writer(self, "admit", lease):
            # ONE materialized batch base feeds all four consumers below
            # (corpus probe, intra-batch self-join, survivor postings
            # write, survivor sets write). Unshared, each consumer re-ran
            # the batch's shingle+signature scan — 5-6 executions of the
            # module's most expensive expression per admission
            # (guide §1.2 step 1; measured ~2 s per scan at the bench's
            # batch size). localCheckpoint, not persist: the signature
            # expression tree is enormous, and a persisted frame still
            # carries it as LOGICAL lineage — every downstream action
            # re-analyzed the full tree on the driver (~1-1.5 s per
            # consumer, measured; guide §7.3 "query planning" / §3.3
            # "materialising an intermediate truncates the plan").
            # Checkpoint blocks are O(batch) and freed by the context
            # cleaner once the survivors frame is dropped. Trade-off:
            # lineage is cut, so a lost executor fails the admission job
            # instead of recomputing — an admission batch retry, guarded
            # by the writer lease and the streaming watermark.
            bbase = self._base(batch).localCheckpoint(eager=True)
            dropped = self.probe(
                batch, max_bucket_size=max_bucket_size,
                verify_threshold=verify_threshold, _bbase=bbase,
            ).select(F.col("batch_id").alias("_dropped"))
            if intra_batch:
                intra = minhash_lsh_pairs(
                    batch,
                    id_col=self.id_col,
                    text_col=self.text_col,
                    num_perm=self.num_perm,
                    bands=self.bands,
                    shingle_size=self.shingle_size,
                    seed=self.seed,
                    max_bucket_size=max_bucket_size,
                    verify_threshold=verify_threshold,
                    _base=bbase,
                )
                # pairs come back id_a < id_b: the higher id is dominated
                dropped = dropped.union(
                    intra.select(F.col("id_b").alias("_dropped"))
                )
            # The dropped-id set is read three times (batch anti-join,
            # base anti-join, and the caller's consumption of survivors)
            # and its logical plan is the union of the probe and
            # self-join pipelines — O(hundreds of operators). Checkpoint
            # the O(dropped) id ROWS so downstream plans are anti-joins
            # against an in-memory relation, not re-analyses of the whole
            # pipeline (same planning-cost rationale as bbase above).
            dropped_ids = dropped.distinct().localCheckpoint(eager=True)
            survivors = batch.join(
                dropped_ids.withColumnRenamed("_dropped", self.id_col),
                self.id_col,
                "left_anti",
            )
            # append() triggers the probe/self-join jobs via the write;
            # the survivor frame is then re-read as stored postings, so no
            # cache pin is needed beyond the write itself. lease=False:
            # admit already holds the writer lease around probe→append.
            # The survivors' base is the batch base minus dropped ids —
            # row-identical to _base(survivors) (the projection is
            # deterministic per row), sparing append its own two scans.
            self.append(
                survivors,
                lease=False,
                _base=bbase.join(
                    dropped_ids.withColumnRenamed("_dropped", "_id"),
                    "_id",
                    "left_anti",
                ),
            )
            return survivors


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for an arbitrary candidate pair set
    (columns id_a, id_b)."""
    sets = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(F.col(text_col), shingle_size)).alias("_s"),
    )
    a = sets.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    b = sets.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb"))
            ).alias("jaccard"),
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_pct: int = 60,
    shingle_size: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose word-
    token sets have Jaccard >= threshold_pct/100, via prefix filtering
    (Chaudhuri et al. 2006 "A primitive operator for similarity
    joins"; Xiao et al. 2008 PPJoin) — the third near-dup family next
    to MinHash-LSH (probabilistic) and SimHash (bit-sketch), and the
    only one of the three that is LOSSLESS: a pair meeting the
    threshold provably shares >= 1 token among its prefixes, so the
    blocked join finds every qualifying pair. The q95 oracle is the
    unblocked brute-force join — green means the optimization is
    semantics-free.

    Prefix principle: sort each token set by GLOBAL token frequency
    (rarest first, ties by token string — one shared total order);
    with |x| tokens and threshold t, any pair with J >= t must match
    inside the first  L = |x| - ceil(t*|x|) + 1  tokens. Candidates
    therefore join only on prefix tokens — dominated by RARE tokens,
    so bucket sizes stay small exactly where a plain token join
    explodes (every pair sharing "the").

    Plan: element explode (scan stage) -> element-frequency agg ->
    per-doc prefix via a doc-keyed window ordered by the (frequency,
    element) tuple (NO global rank structure — see the inline note) ->
    prefix equi-join with the exact length filter (J >= t requires
    min(|x|,|y|)*100 >= t*max(|x|,|y|)) -> array_intersect verify on
    the surviving candidates. Threshold arithmetic is pure integer
    (inter*100 >= t*(union)) — no float tolerance.

    Set elements are lowercased word tokens by default; pass
    `shingle_size=n` for word n-gram shingle sets (the q31/q32
    element space) — far more discriminative on templated corpora,
    where bag-of-words Jaccard saturates (measured at sf0.01: 71k
    token-set pairs vs 25 shingle-set pairs at the same threshold).

    Returns (id_a, id_b, inter, n_a, n_b) for qualifying pairs.
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in (0, 100], got {threshold_pct}")
    from pyspark.sql import Window

    from .text import word_tokens

    if shingle_size is None:
        elems = F.array_remove(
            F.array_distinct(word_tokens(F.col(text_col))), ""
        )
    else:
        # Documents with fewer than n tokens contribute NO shingle set
        # (shingles() alone would emit a whole-document fallback
        # shingle — useful for MinHash banding, but a similarity-join
        # semantics change: two short duplicates would pair here while
        # an n-gram-only definition, and the q95/q99 oracles, exclude
        # them). Empty-string elements are likewise removed.
        toks = tokenize(F.col(text_col))
        elems = F.when(
            F.size(toks) < shingle_size, F.array().cast("array<string>")
        ).otherwise(
            F.array_remove(
                F.array_distinct(shingles(F.col(text_col), shingle_size)), ""
            )
        )
    sets = df.select(
        F.col(id_col).alias("_id"), elems.alias("_s")
    ).filter(F.size("_s") > 0)
    # |x| is the DISTINCT set size — known from the array before the
    # explode, so it rides along as a column instead of a second
    # whole-partition window pass (count over the _id partition cost
    # an extra Window execution per ranked reference; measured in the
    # q95 stage profile).
    tok = sets.select(
        "_id", F.size("_s").alias("n"), F.explode("_s").alias("tok")
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # The shared total order is the (frequency, element) TUPLE itself —
    # no global row_number materialization. (An earlier version ranked
    # the vocabulary through a single-partition window; fine for zipf-
    # bounded word vocabularies, but SHINGLE vocabularies grow ~linearly
    # with the corpus, which made that window a global sort of nearly
    # corpus-sized input — the q76 trap. Ordering each doc's elements
    # by the tuple is the identical order without any global structure.)
    per_doc = Window.partitionBy("_id")
    ranked = tok.join(dfreq, "tok").select(
        "_id",
        "tok",
        "cnt",
        F.row_number().over(per_doc.orderBy("cnt", "tok")).alias("pos"),
        "n",
    )
    # NOT materialized: the candidate self-join's two sides are
    # identical subtrees keyed the same way, so ReuseExchange computes
    # the pipeline once and the second side reads the first's shuffle
    # files (verified: an eager localCheckpoint here measured SLOWER —
    # it replaced the reused exchange with a materialization job plus
    # two fresh shuffles of the same rows).
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n") - F.expr(f"({threshold_pct} * n + 99) div 100") + 1
    )
    # Join-side pruning, result-identical: a token whose GLOBAL
    # document frequency is 1 occurs in exactly one doc, so the
    # equi-join can only pair it with itself (removed by the pair
    # ordering below). Rarity-ordered prefixes are DOMINATED by such
    # singletons (novel shingles), so this drops most of the
    # self-join input on real corpora (measured r13: on the synthetic
    # bench shingle space only ~0.8% of the vocab is singleton, so it
    # is candidate-neutral there — kept because it is free, the dfreq
    # join exists for the ranking anyway, and lossless). `pos` and
    # the positional bound are computed BEFORE the filter, so the
    # PPJoin algebra is unchanged.
    prefix = prefix.filter(F.col("cnt") >= 2)
    # exact length filter: J >= t forces min|x| >= t * max|x|
    length_filter = (
        F.least("na", "nb") * 100 >= threshold_pct * F.greatest("na", "nb")
    )
    # POSITIONAL filter (PPJoin proper, Xiao et al. 2008 §3.2):
    # J >= t requires overlap >= alpha = ceil(t*(na+nb)/(100+t))
    # (inter*100 >= t*(na+nb-inter) rearranged). For the FIRST
    # common prefix token, every shared element sits at-or-after
    # (pa, pb) in the two sorted sets — both sorted by the SAME
    # (frequency, element) total order, so an earlier common
    # element would itself be an earlier prefix match — hence
    # overlap <= 1 + min(na-pa, nb-pb). Keep the pair when ANY
    # matching token's bound admits alpha (the first match's bound
    # is valid, so a qualifying pair always survives: LOSSLESS);
    # integer cross-multiplied, no float tolerance. Measured: cuts
    # array-fetch verify candidates several-fold, the r6 q95
    # superlinearity fix (VERDICT r6 "What's wrong" #2).
    positional_filter = (
        F.lit(1)
        + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    ) * (100 + threshold_pct) >= threshold_pct * (F.col("na") + F.col("nb"))
    # Join-shape choice, cost-based (the broadcast-threshold style of
    # rule — data size, never core count). The ASYMMETRIC shape
    # (Xiao et al. 2008 §5, the indexing-prefix reduction) puts the
    # SHORTER prefix on the (n, id)-lex-smaller side: for a pair with
    # nx <= ny, overlap alpha = ceil(t*(nx+ny)/(100+t)) >=
    # ceil(2t*nx/(100+t)), so the smaller side only needs its first
    # nx - ceil(2t*nx/(100+t)) + 1 tokens (factor 2t/(100+t) = 0.75
    # at t=60 vs 0.60 for the probing prefix) — measured 36% fewer
    # join-input rows and ~17% q95 wall at sf1 (result-identical,
    # A/B interleaved). It requires materializing the shared prefix
    # table once (the two join sides differ, so ReuseExchange no
    # longer applies); that fixed cost only amortizes when the
    # corpus is non-trivial — measured crossover between the 1.7 MB
    # and 21 MB cached-input points, so the gate defaults to 4 MiB
    # of Catalyst-estimated input and stays on the symmetric
    # reused-exchange shape below it (sub-second latency path).
    # At 100 TB the estimate is always far above any sane threshold:
    # the asymmetric shape IS the scale path.
    try:
        input_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # estimation must never fail the query
        input_bytes = 1 << 62
    min_bytes = int(
        df.sparkSession.conf.get(
            "spark.qcache.prefixJoin.asymmetricMinInputBytes",
            str(4 * 1024 * 1024),
        )
    )
    if input_bytes >= min_bytes:
        pk = prefix.select("_id", "tok", "pos", "n").localCheckpoint(
            eager=True
        )
        # indexing prefix: pos <= n - ceil(2t*n/(100+t)) + 1
        short = pk.filter(
            F.col("pos")
            <= F.col("n")
            - F.expr(
                f"((2 * {threshold_pct} * n) + {100 + threshold_pct} - 1) "
                f"div {100 + threshold_pct}"
            )
            + 1
        )
        cand = (
            short.select(
                F.col("_id").alias("id_a"),
                "tok",
                F.col("n").alias("na"),
                F.col("pos").alias("pa"),
            )
            .join(
                pk.select(
                    F.col("_id").alias("id_b"),
                    "tok",
                    F.col("n").alias("nb"),
                    F.col("pos").alias("pb"),
                ),
                "tok",
            )
            # the short side must be the (n, id)-lex-SMALLER set; a
            # self-pair cannot satisfy this (equal ids force the
            # na == nb branch)
            .filter(
                (F.col("na") < F.col("nb"))
                | (
                    (F.col("na") == F.col("nb"))
                    & (F.col("id_a") < F.col("id_b"))
                )
            )
            .filter(length_filter)
            .filter(positional_filter)
            # canonicalize to id order for the contract (the lex
            # order above is by set size first)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        cand = (
            prefix.select(
                F.col("_id").alias("id_a"),
                "tok",
                F.col("n").alias("na"),
                F.col("pos").alias("pa"),
            )
            .join(
                prefix.select(
                    F.col("_id").alias("id_b"),
                    "tok",
                    F.col("n").alias("nb"),
                    F.col("pos").alias("pb"),
                ),
                "tok",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(length_filter)
            .filter(positional_filter)
            .select("id_a", "id_b")
            .distinct()
            # O(pairs) rows; read three times below (two verify joins
            # + the member-id union) — checkpoint so each reader is a
            # join against blocks, not a re-run of the prefix
            # self-join
            .localCheckpoint(eager=True)
        )
    # ONE corpus shingle scan for the verify sets, not one per rename
    # branch: semi-join to candidate members first (pushes below the
    # shingle projection), checkpoint the O(candidates) rows, then
    # derive both join sides from the blocks (the minhash_lsh_pairs
    # verify discipline).
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    sets_c = sets.join(cand_ids, "_id", "left_semi").localCheckpoint(
        eager=True
    )
    a = sets_c.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    b = sets_c.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("inter"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
        .filter(
            F.col("inter") * 100
            >= threshold_pct * (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_key: Column | None = None,
    max_dist: int = 2,
    block_cap: int | None = None,
) -> DataFrame:
    """Fuzzy string matching: pairs whose edit (Levenshtein) distance
    is <= ``max_dist``, found by blocking instead of an all-pairs
    scan. The classic record-linkage shape (Fellegi–Sunter style
    blocking + verify): an equi-join on a cheap ``block_key`` generates
    candidates, the JVM ``levenshtein`` expression verifies — no
    Python in either stage.

    ``block_key`` defaults to the last whitespace token, lowercased
    (the head noun for name-like strings); callers pass any Column for
    other domains (phonetic code, sorted-trigram prefix, length
    bucket). Pairs crossing blocks are unseen by construction — the
    usual blocking recall trade, stated rather than hidden.

    ``block_cap`` bounds the quadratic worst case: at most cap members
    per block enter the join (first by id order — deterministic, and
    the row_number filter compiles to a pre-shuffle WindowGroupLimit
    heap, so oversized blocks are truncated map-side, the same device
    as stratified_sample). A hot block of 10^6 rows would otherwise
    produce 10^12 candidates; with the cap it is bounded at cap^2,
    and the truncation is visible in the row count rather than in a
    job that never finishes.
    """
    key = (
        block_key
        if block_key is not None
        else F.element_at(F.split(F.lower(F.col(text_col)), " "), -1)
    )
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"),
                     key.alias("_blk"))
    if block_cap is not None:
        w = Window.partitionBy("_blk").orderBy("_id")
        base = (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= block_cap)
            .drop("_rn")
        )
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta"), "_blk"
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_t").alias("_tb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def simhash_column(text_col: str, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash via a single JVM aggregate expression: each
    token's hash votes ±1 per bit position; the sign vector packs
    back into one BIGINT. No Python in the loop. `text_col` is a
    column NAME (spliced into a SQL expression).

    hash_fn: "xxhash64" (default, fastest) or "md5" — a 60-bit hash
    from the first 15 hex chars of md5(token), chosen because an
    external SQL engine (DuckDB oracle) can compute the identical
    value; bits 60-63 then never win a vote and pack to 0."""
    tokens_sql = f"filter(split(lower(trim(`{text_col}`)), '\\\\s+'), t -> t != '')"
    if hash_fn == "md5":
        token_hash = "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"
    elif hash_fn == "xxhash64":
        token_hash = "xxhash64(t)"
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    expr = (
        "aggregate("
        "  transform(" + tokens_sql + ", t -> " + token_hash + "),"
        "  array_repeat(0L, 64),"
        "  (acc, h) -> zip_with(acc, transform(sequence(0, 63),"
        "      j -> CASE WHEN ((h >> j) & 1) = 1 THEN 1L ELSE -1L END),"
        "      (x, y) -> x + y),"
        "  acc -> aggregate(sequence(0, 63), 0L,"
        "      (packed, j) -> packed | (CASE WHEN acc[j] > 0 THEN shiftleft(1L, j) ELSE 0L END))"
        ")"
    )
    return F.expr(expr)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    return df.withColumn(out_col, simhash_column(text_col, hash_fn))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs under Hamming distance on SimHash. Pigeonhole
    banding: split 64 bits into (max_hamming+1) chunks — any pair
    within distance max_hamming agrees on ≥1 whole chunk → candidate
    via chunk-value equi-join; verify with bit_count(xor)."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sh = simhash(df.select(F.col(id_col).alias("_id"), F.col(text_col)), text_col, "_sh")

    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("_chunk"),
                F.shiftright(F.col("_sh"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("_val"),
            )
            for i in range(chunks)
        ]
    )
    buckets = sh.select("_id", "_sh", F.explode(chunk_cols).alias("c")).select(
        "_id", "_sh", F.col("c._chunk").alias("_chunk"), F.col("c._val").alias("_val")
    )
    sizes = buckets.groupBy("_chunk", "_val").agg(F.count(F.lit(1)).alias("_n"))
    capped = buckets.join(sizes.filter(F.col("_n") <= max_bucket_size), ["_chunk", "_val"])

    left = capped.select("_chunk", "_val", F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    right = capped.select("_chunk", "_val", F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    return (
        left.join(right, ["_chunk", "_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sha", "_shb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )  # single-reference pipeline: no materialization needed


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node links each STRICTLY LARGER neighbor to
    the minimum of its neighborhood (incl. itself). Emitted edges are
    (larger, smaller); self-loops are impossible (m <= u < v)."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
        # Measured (r12): removing this distinct is round-identical
        # (small-star's min agg is duplicate-insensitive and its final
        # distinct canonicalizes e2) but NOT faster — q71 2.95->3.07 s,
        # q99 6.36->6.18 s medians, i.e. noise — and at scale it trades
        # the deduped distinct exchange for shuffling duplicate (v, m)
        # rows through small-star's join. Keep the canonical edge set.
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: direct edges larger->smaller, then every node links
    its smaller neighbors AND itself to its minimum neighbor."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = mins.select("u", F.col("m").alias("v"))
    return nbrs.union(selfs).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """True iff the (u, v) edge set is a STAR FOREST: every u carries
    exactly one edge, and no node appears on both sides. This is the
    alternating algorithm's fixpoint test, checkable one round EARLIER
    than the signature comparison (which needs a full extra star round
    to observe "nothing changed"):

    - Both star operations only emit (child > root) edges and preserve
      the graph's connectivity (Kiveris et al., SoCC'14), so a star
      forest has exactly one star per original component, and its root
      IS the component minimum: the min node cannot be a child (its
      root would have to be smaller).
    - On such a set both operations are the identity (every child's
      only neighbor is its smaller root, every root's neighborhood
      minimum is itself), so the loop would terminate with this exact
      edge set — stopping here is result-identical.

    Cost: one small job over the freshly checkpointed round (a
    grouped count + a semi-join, take(1) short-circuit) — cheaper
    than the 4-exchange star round it saves whenever the loop
    converges, which near-dup graphs (shallow, clique-heavy) do in
    2-4 rounds."""
    dup_u = (
        e.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select(F.lit(1).alias("_viol"))
    )
    mixed = (
        e.select("v")
        .join(e.select(F.col("u").alias("v")).distinct(), "v", "left_semi")
        .select(F.lit(1).alias("_viol"))
    )
    return dup_u.union(mixed).isEmpty()


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph via the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm, reimplemented on DataFrames).

    Both operations preserve connectivity and only ever lower labels;
    their alternation provably reaches a star forest — every node
    edge-linked directly to its component's minimum id — in
    O(log^2 n) rounds REGARDLESS of component diameter. A length-L
    chain needs ~log L rounds where plain min-label propagation (the
    previous implementation; VERDICT r2 advice #6) needs L. Each round
    is two grouped shuffles over the EDGE set only; no component is
    ever materialized inside one task, so a 10^9-member component
    costs the same per round as a clique of 10.

    Convergence is detected by an order-independent (count, hash-sum)
    signature of the edge set going stable across rounds; `max_iters`
    is a pure safety valve (30 rounds covers any graph whose node ids
    fit in a long). The returned DataFrame keeps the ``converged``
    attribute for callers that probe it.

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    reliable ``.checkpoint()`` instead of ``localCheckpoint()``.
    localCheckpoint stores blocks on executors — fast, but a lost
    executor kills the job mid-iteration; reliable checkpoints survive
    executor loss, the right trade for multi-hour 100 TB clustering
    runs (VERDICT r5 item 6). Each run writes into a fresh
    SUBDIRECTORY of ``checkpoint_dir`` (returned frames reference the
    final round's files, so nothing here can self-delete); reclaim it
    with one recursive delete after the result is consumed, or enable
    spark.cleaner.referenceTracking.cleanCheckpoints. Note the
    checkpoint location is a SparkContext-wide setting — other
    checkpoint users in the same session should partition directories
    by job."""
    if checkpoint_dir is not None:
        from ._checkpoint import claim_checkpoint_subdir

        claim_checkpoint_subdir(
            pairs.sparkSession.sparkContext, checkpoint_dir, "cc"
        )
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    converged = e.isEmpty()
    prev_sig = None
    for _ in range(max_iters if not converged else 0):
        # localCheckpoint, not persist: each round's plan references the
        # previous round's several times (union + self-join), so without
        # lineage truncation the logical tree grows ~5x per round and
        # the driver OOMs just ANALYZING round ~8. Checkpointing cuts
        # the plan at the stored partitions — the standard device for
        # iterative DataFrame algorithms (on a cluster with a
        # checkpoint dir, reliable .checkpoint() adds fault tolerance).
        # eager=True measured FASTER than letting the signature agg
        # materialize a lazy checkpoint (3.5 s vs 4.0 s for the q71
        # bench entry): the dedicated checkpoint job pipelines the
        # round's shuffles at full width, while folding the
        # materialization into the agg serializes checkpoint writes
        # behind the agg's reduce.
        e2 = _small_star(_large_star(e))
        # The convergence signature rides on the CHECKPOINT job as an
        # observed metric (guide §1.5's thread-local job discipline,
        # applied to metrics): the former standalone agg job per round
        # is gone — the checkpoint materialization computes the same
        # (count, hash-sum) while it writes the blocks.
        from pyspark.sql import Observation

        obs = Observation()
        e2 = e2.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes
            # overflows (ANSI mode raises); decimal(38,0) holds
            # ~10^19 edges' worth of headroom
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        )
        if checkpoint_dir is not None:
            e2 = e2.checkpoint(eager=True)
        else:
            e2 = e2.localCheckpoint(eager=True)
        m = obs.get
        sig = (m["n"], m["h"])
        e.unpersist(blocking=False)
        e = e2
        if sig == prev_sig:  # deterministic ops → fixpoint = star forest
            converged = True
            break
        prev_sig = sig
        if _is_star_forest(e):
            # fixpoint detected STRUCTURALLY, one star round earlier
            # than the signature comparison can see it (proof at
            # _is_star_forest) — the saved round is the loop's fixed
            # cost at small scale and an edge-set double shuffle at
            # large scale
            converged = True
            break
    # groupBy-min, not a raw select: at the star-forest fixpoint each u
    # already has exactly one edge so this is a no-op, but if the loop
    # exited at max_iters short of convergence a node can still carry
    # several (u,v) edges and a raw select would fan the label join out
    # into duplicate id rows with conflicting cluster_ids. min(v) keeps
    # the one-row-per-id contract in all cases (and only ever lowers
    # labels, consistent with the algorithm).
    labels = (
        e.groupBy(F.col("u").alias(id_col))
        .agg(F.min("v").alias("cluster_id"))
    )
    result = ids.join(labels, id_col, "left").select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    )
    result.converged = converged
    return result
