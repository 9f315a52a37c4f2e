"""Deterministic hash-based sampling and train/test splitting.

A 100 TB training-data pipeline cannot use ``df.sample()``: Spark's
sampler is seeded per-partition, so the selected rows change whenever
the input is re-partitioned, re-compacted, or re-read with a different
split plan — and a "random" split computed today is unreproducible
tomorrow. The standard fix (used by every large corpus pipeline) is
*hash bucketing*: derive a uniform value from a stable key column and
compare it against fixed thresholds. Properties:

- **Deterministic & portable**: same key → same bucket on any engine,
  any partitioning, any day. The md5 path produces bit-identical
  values in DuckDB (gated by q54's oracle).
- **No shuffle, no state**: a narrow projection + filter that runs
  inside the scan's WholeStageCodegen span; sampling 1% of 100 TB
  touches every row once and moves nothing.
- **Consistent across tables**: hashing the same key with the same
  seed in two tables yields aligned samples (both sides of a join
  survive together) — impossible with independent RNG sampling.
- **Leak-free splits**: train/test assignment is a pure function of
  (seed, key), so re-runs can never move a document across the split
  boundary (train/test contamination).

Thresholds are compared in the integer domain (60-bit hash vs
``int(fraction * 2**60)``) — no float division, so the boundary is
exact and engine-independent.

Spark-first design notes: hashes are built-in expressions
(``xxhash64`` fast path, ``md5``+``conv`` portable path) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qcache_spark import opcache
from qcache_spark.operators import _rank

# 60 bits: fits a signed 64-bit long, and 15 hex chars of md5 parse
# identically in Spark (conv) and DuckDB ('0x...'::BIGINT).
HASH_BITS = 60
HASH_SCALE = 1 << HASH_BITS


def hash60(key: Column, seed: int = 0, hash_fn: str = "xxhash64") -> Column:
    """Uniform value in [0, 2^60) derived from ``key`` and ``seed``.

    hash_fn "xxhash64" (default): single JVM hash, fastest.
    hash_fn "md5": first 15 hex chars of md5("{seed}:{key}") — slower
    but reproducible bit-for-bit in DuckDB/Postgres/anything with md5,
    which is what makes cross-engine gates and long-lived split
    manifests possible.

    NULL keys hash to NULL (null-propagating concat, like SQL ``||``),
    so they never enter a sample or a split bucket.
    """
    s = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        # xxhash64 hashes a NULL input to the seed value; gate on the
        # key so NULL propagates like the md5/`||` path.
        return F.when(key.isNotNull(), F.pmod(F.xxhash64(s), F.lit(HASH_SCALE)))
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Keep rows whose key hashes below ``fraction`` of the hash space.

    Expected (not exact) fraction of rows survive; the *same* rows
    survive on every run and every engine.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(round(fraction * HASH_SCALE))
    return df.filter(hash60(F.col(key_col), seed, hash_fn) < F.lit(threshold))


def train_test_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 0,
    hash_fn: str = "xxhash64",
    out_col: str = "split",
) -> DataFrame:
    """Add ``out_col`` assigning each row to a named split.

    ``weights`` maps split name → relative weight (normalized, so
    {"train": 8, "valid": 1, "test": 1} works). Assignment is a pure
    function of (seed, key): stable under re-partitioning, re-runs,
    and engine changes. The last split absorbs the rounding remainder
    so every keyed row is assigned. NULL keys get a NULL split —
    consistent with hash60/hash_sample, where a NULL key never enters
    a sample or a split bucket (a row with no stable identity must not
    silently land in e.g. the test split).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")

    h = hash60(F.col(key_col), seed, hash_fn)
    names = list(weights)
    expr = F.lit(names[-1])
    cum = 0.0
    thresholds = []
    for name in names[:-1]:
        cum += weights[name] / total
        thresholds.append((name, int(round(cum * HASH_SCALE))))
    for name, t in reversed(thresholds):
        expr = F.when(h < F.lit(t), F.lit(name)).otherwise(expr)
    return df.withColumn(
        out_col, F.when(F.col(key_col).isNotNull(), expr)
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    key_col: str,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Deterministic stratified sample: the ``n_per_group`` rows of
    each group whose key hashes lowest (ties broken by the key
    itself) — "25 documents per source/language", the balanced-subset
    primitive for eval sets and per-domain quality audits.

    Like every operator in this module the selection is a pure
    function of (seed, key): re-partitioning, re-runs, and engine
    changes keep the same rows, unlike per-partition RNG sampling.

    Scale shape: one shuffle keyed on the group column; the rank
    filter is recognized by Catalyst's WindowGroupLimit rule, which
    keeps a bounded top-N heap per map task BEFORE the shuffle — so
    the exchange carries ~n_per_group rows per (group × input
    partition), not the corpus (pinned by a plan assertion test).
    NULL keys are excluded (they have no stable hash); NULL groups
    form a group of their own, as in SQL window partitioning.
    """
    if n_per_group < 1:
        raise ValueError(f"n_per_group must be >= 1, got {n_per_group}")
    from pyspark.sql import Window

    h = hash60(F.col(key_col), seed, hash_fn)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.filter(F.col(key_col).isNotNull())
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n_per_group)
    )


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """The integer thresholds train_test_split compares against —
    exposed so oracles / other engines can replicate the boundaries
    exactly."""
    total = sum(weights.values())
    out = []
    cum = 0.0
    for name in list(weights)[:-1]:
        cum += weights[name] / total
        out.append((name, int(round(cum * HASH_SCALE))))
    return out


def negative_pairs(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    max_id: int | None = None,
    seed: int = 29,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor row, k pseudo-random candidate negatives drawn by
    hashing (seed, anchor_id, j) into the id domain [0, max_id].
    Candidates equal to their anchor are dropped, and only candidates
    that EXIST are kept (inner join against the id set) — so a sparse
    id domain thins pairs rather than inventing phantom negatives.

    Like every operator in this module the draw is a pure function of
    (seed, anchor, j): re-partitioning, retries, and engine changes
    regenerate the identical pair set — the property that makes a
    training run reproducible. With the md5 hash the same pairs are
    reproducible in any SQL engine (the q75 oracle).

    Scale shape: explode(k) is a scan-stage flatMap (k rows per
    anchor, no shuffle), then ONE equi-join against the distinct id
    set — broadcast when the id table is small, shuffled otherwise.
    No RNG state, no driver-side sampling.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_id is None:
        max_id = df.agg(F.max(F.col(id_col))).collect()[0][0]  # O(1) scalar
        if max_id is None:
            raise ValueError(
                f"cannot infer the id domain: column {id_col!r} has no "
                "non-null values (pass max_id explicitly)"
            )
    domain = int(max_id) + 1
    anchors = df.select(F.col(id_col).alias("anchor_id")).filter(
        F.col("anchor_id").isNotNull()
    )
    cand = anchors.select(
        "anchor_id",
        F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("j"),
    ).select(
        "anchor_id",
        "j",
        F.pmod(
            hash60(
                F.concat_ws(":", F.col("anchor_id"), F.col("j")), seed, hash_fn
            ),
            F.lit(domain),
        ).alias("negative_id"),
    ).filter(F.col("negative_id") != F.col("anchor_id"))
    ids = df.select(F.col(id_col).alias("negative_id")).distinct()
    return cand.join(ids, "negative_id").select("anchor_id", "j", "negative_id")


_CURRICULUM_FAMILY = "sampling.curriculum"


def curriculum_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Curriculum bucketing: exact NTILE(n) over a quality/difficulty
    score (ties broken by id, so the assignment is total and
    deterministic). Bucket 1 = lowest score. The standard
    curriculum-learning / quality-threshold primitive: train on
    buckets >= b, or schedule buckets easy->hard.

    DISTRIBUTED exact NTILE: the global rank comes from the shared
    range-partitioned device in ``operators/_rank.py`` (no
    single-reducer global sort), and the bucket is NTILE arithmetic on
    it: with n rows, q = n div k, rem = n mod k, the first rem buckets
    take q+1 rows (SQL NTILE semantics, matched exactly so the DuckDB
    oracle stays valid). Cost at 100 TB: one range-partitioner sample
    pass + one shuffle + per-partition sorts + one counts job, versus
    the approx variant's single scan (curriculum_buckets_approx, the
    cheaper path when quantile-balanced buckets are acceptable).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    order = [F.col(score_col).asc(), F.col(id_col).asc()]
    ranked = _rank.rank(
        df, _CURRICULUM_FAMILY, order, num_partitions=num_partitions
    )
    if ranked is None:
        return df.withColumn(bucket_col, F.lit(None).cast("int"))
    q, rem = divmod(ranked.totals[None], n_buckets)
    rank = F.col("__rank")
    head = rem * (q + 1)  # rows covered by the (q+1)-sized buckets

    def idiv(a, b):  # exact integer division (float `/` can misround
        return ((a - a % b) / b).cast("long")  # near huge-rank boundaries)

    bucket = (
        F.when(F.lit(rem > 0) & (rank <= head), idiv(rank - 1, F.lit(q + 1)))
        .otherwise(F.lit(rem) + idiv(rank - 1 - head, F.greatest(F.lit(q), F.lit(1))))
        + 1
    ).cast("int")
    return ranked.frame.withColumn(bucket_col, bucket).drop("__rank")


_TOKEN_MIX_FAMILY = "sampling.token_mix"


def token_budget_mix(
    df: DataFrame,
    domain_col: str,
    weight_col: str,
    budgets: dict,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "md5",
    num_partitions: int | None = None,
    cum_col: str = "cum_weight",
    epochs: int = 1,
    epoch_col: str = "epoch",
    _family: str = _TOKEN_MIX_FAMILY,
) -> DataFrame:
    """Domain-mixture selection under per-domain token budgets: for
    each domain, keep documents in deterministic hash order until the
    domain's cumulative token (weight) count reaches its budget.

    THE data-mixing primitive for training corpora: "2B tokens of
    code, 1B of web, 500M of books" is a budgets dict, and the
    selection must be (a) exact — stop at the budget, not near it,
    (b) reproducible — tomorrow's rerun picks the same documents, and
    (c) stable under growth — the hash order is a pure function of
    (seed, key), so adding documents never reorders existing ones:
    every document hashing BEFORE the first new arrival keeps its
    cumulative sum and stays selected; only the boundary region past
    that point can shift (contrast per-partition RNG sampling, where
    any growth reshuffles everything).

    Distributed-exact plan: the cumulative weight is the grouped
    running-sum rank of ``operators/_rank.py`` over (domain, hash,
    key), so no domain ever funnels through one reducer, which a bare
    ``Window.partitionBy(domain).orderBy(hash)`` would do to every
    corpus-sized domain.

    ``budgets`` maps the domain's STRING rendering (Spark's own cast,
    the same canonicalization grouped_percentile_stats uses) to a
    non-negative integer budget. Rows whose domain is not budgeted,
    or whose domain/key/weight is null, are excluded (a mixture spec
    IS the domain list; a null weight has no defined cost).

    ``epochs`` (opt-in, VERDICT r8 item 6): real mixtures OVERSAMPLE
    low-resource domains — a budget larger than the domain's total
    weight should repeat the domain (with-replacement semantics)
    rather than silently under-fill. With ``epochs=k``, selection
    walks the domain's hash order up to k full passes, stopping
    exactly when the cumulative weight (now counted ACROSS passes)
    reaches the budget; each emitted row carries ``epoch_col``
    (1-based pass number). Deterministic and growth-stable for the
    same reason the single pass is: pass e of the grown corpus
    re-selects every pre-growth prefix row. The default ``epochs=1``
    is the exact pre-r9 behavior plus a constant ``epoch = 1`` column.

    Returns the SELECTED rows: the input columns plus ``cum_col`` —
    the domain's cumulative weight through this row across epochs
    (<= the domain's budget), exposing how full each budget ran —
    and ``epoch_col``.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    if any(b < 0 for b in budgets.values()):
        raise ValueError("budgets must be non-negative")
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    base = df.filter(
        F.col(domain_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(weight_col).isNotNull()
    ).withColumn("__h", hash60(F.col(key_col), seed, hash_fn))
    ranked = _rank.rank(
        base,
        _family,
        [F.col("__h").asc(), F.col(key_col).asc()],
        group=domain_col,
        weight=F.col(weight_col).cast("long"),
        num_partitions=num_partitions,
    )
    if ranked is None:
        return (
            base.withColumn(cum_col, F.lit(0).cast("long"))
            .withColumn(epoch_col, F.lit(1).cast("int"))
            .drop("__h")
            .limit(0)
        )
    # a negative weight makes the cumulative sum non-monotone, so
    # filter(cum <= budget) would select a NON-contiguous set and
    # silently break the "maximal hash-order prefix" contract (ADVICE
    # r8) — refuse instead
    if ranked.min_weight < 0:
        opcache.release(df.sparkSession, _family)
        raise ValueError(
            f"token_budget_mix: negative weight {ranked.min_weight} in "
            f"{weight_col!r} — cumulative budgets require non-negative "
            "weights (filter or clamp upstream)"
        )
    totals = ranked.totals
    gs = F.col(domain_col).cast("string")
    budget = F.element_at(
        F.create_map(
            *[F.lit(x) for g, b in budgets.items() for x in (str(g), str(b))]
        ),
        gs,
    ).cast("long")

    # Upsampling epochs (VERDICT r8 item 6): epoch e's overall
    # cumulative = (e-1) x domain_total + within-epoch cumulative, so
    # the selection stays one monotone prefix over (epoch, hash, key)
    # and stops exactly at the budget mid-epoch. Only epochs that can
    # contribute are planned: domain d needs ceil(budget_d / total_d)
    # passes (driver arithmetic over the already-collected totals) —
    # a fully-resourced mixture plans exactly one branch, identical to
    # the pre-epochs plan. Zero-total budgeted domains (all weights 0)
    # repeat up to the epochs cap — their rows cost nothing, so the
    # cap is the only terminator.
    n_eff = 1
    if epochs > 1:
        for g, b in budgets.items():
            t = totals.get(str(g), 0)
            if b <= 0:
                continue
            need = epochs if t <= 0 else -(-b // t)
            n_eff = max(n_eff, min(epochs, need))
    total_lit = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for g in budgets
                for x in (str(g), str(totals.get(str(g), 0)))
            ]
        ),
        gs,
    ).cast("long")
    out = None
    for e in range(1, n_eff + 1):
        cum_e = (
            F.lit(e - 1).cast("long") * total_lit + F.col("__rank")
        ).cast("long")
        branch = (
            ranked.frame.withColumn(cum_col, cum_e)
            .withColumn(epoch_col, F.lit(e).cast("int"))
            .filter(budget.isNotNull() & (F.col(cum_col) <= budget))
        )
        out = branch if out is None else out.unionByName(branch)
    return out.drop("__h", "__rank")


def curriculum_buckets_approx(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    relative_error: float = 0.0001,
    bucket_col: str = "bucket",
) -> DataFrame:
    """The scale path of curriculum_buckets: bucket boundaries from
    approxQuantile (Greenwald-Khenna, one pass, driver gets n_buckets-1
    scalars), then a MAP-SIDE assignment — no global range sort at
    all, so bucketing 100 TB costs one scan plus a boundary broadcast.
    Buckets are value-contiguous and balanced to within the quantile
    sketch's relative error; exact NTILE balance (and total
    determinism on tied scores) needs the sorting variant."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.stat.approxQuantile(score_col, probs, relative_error)
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    bucket = F.lit(1) + F.aggregate(
        arr,
        F.lit(0),
        lambda acc, c: acc + (F.col(score_col) > c).cast("int"),
    )
    return df.withColumn(bucket_col, bucket)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    denom: int,
    id_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep a row iff

        hash60(id, seed) * denom  <  weight * 2^60

    i.e. P[keep] = min(weight/denom, 1), independently per row but as a
    pure function of (seed, id) — the weighted analogue of hash_sample,
    with all of its properties (reproducible across engines/partitions/
    days, no RNG state, scan-stage narrow filter; see module
    docstring). Length-weighted corpus sampling ("keep long documents
    proportionally more often") is the canonical use.

    The comparison is EXACT: both sides are integers up to
    weight*2^60 (~2^80 for 7-digit weights), far past int64, so the
    engine compares in decimal(38,0) and an external oracle can use
    HUGEINT/DECIMAL — no float probability is ever formed, the
    boundary cannot drift between engines.

    Fractional weights are resolved at 2^-20 granularity: both sides
    are scaled by 2^20 and the weight rounds ONCE at that fixed point
    (a bare decimal(38,0) cast would round 0.7 to 1 — silently
    turning a fractional-weight column into a coin flip). For integer
    weights the scale factor cancels exactly, so results — and the
    q81 oracle — are unchanged."""
    if denom < 1:
        raise ValueError(f"denom must be >= 1, got {denom}")
    frac_scale = 1 << 20
    h = hash60(F.col(id_col), seed, hash_fn).cast("decimal(38,0)")
    w_scaled = F.round(F.col(weight_col) * frac_scale).cast("decimal(38,0)")
    return df.filter(
        h
        * F.lit(int(denom)).cast("decimal(38,0)")
        * F.lit(frac_scale).cast("decimal(38,0)")
        < w_scaled * F.lit(HASH_SCALE).cast("decimal(38,0)")
    )


_DIST_MATCH_FAMILY = "sampling.dist_match"


def distribution_matched_sample(
    df: DataFrame,
    group_col: str,
    target: dict,
    key_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "md5",
    num_partitions: int | None = None,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Largest exact subsample matching a target group distribution:
    the categorical form of importance resampling ("reshape the corpus
    to 80% en / 10% de / 10% es"), the primitive behind
    distribution-matched mixture construction (cf. DoReMi / DSIR-style
    domain reweighting, arXiv:2305.10429 / 2302.03169 — here with an
    observed categorical feature rather than a learned score).

    ``target`` maps the group's STRING rendering to a non-negative
    integer weight; proportions are ``w_g / W`` with ``W = sum(w)``.
    All arithmetic is integer-exact so any engine reproduces the same
    boundary (no float proportions):

        N   = min over {g : w_g > 0} of  floor(n_g * W / w_g)
        k_g = floor(w_g * N / W)

    ``N`` is the largest total for which every budgeted group can
    supply its share from the corpus counts ``n_g``; a targeted group
    absent from the data forces ``N = 0`` (an unachievable spec
    returns the empty frame rather than a silently skewed one).
    Groups with ``w_g = 0`` or outside ``target`` are dropped.

    Selection within each group is the ``k_g``-row prefix of the
    deterministic (seed, key) hash order — the module's standard
    device, so the subsample is reproducible across engines/runs and
    stable under corpus growth everywhere except where the grown
    counts move the ``k_g`` boundaries themselves.

    Scale shape: one O(groups) count collect, then exactly
    :func:`token_budget_mix` with unit weights (budgets = ``k_g``) —
    the distributed-exact grouped prefix with NO per-group single
    reducer; see that function's plan notes. Returns the selected
    rows plus ``rank_col`` (1-based position in the group's hash
    order, <= ``k_g``).
    """
    if not target:
        raise ValueError("target must be non-empty")
    if any(w < 0 for w in target.values()):
        raise ValueError("target weights must be non-negative")
    W = sum(int(w) for w in target.values())
    if W <= 0:
        raise ValueError("target weights must sum to a positive value")
    gs = F.col(group_col).cast("string")
    budgeted = {str(g): int(w) for g, w in target.items() if w > 0}
    counts = {
        r["__g"]: r["__n"]
        for r in (
            df.filter(
                gs.isin(*budgeted) & F.col(key_col).isNotNull()
            )
            .groupBy(gs.alias("__g"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
    }  # O(groups) scalars — the only extra driver-side data
    n_total = min(
        (counts.get(g, 0) * W) // w for g, w in budgeted.items()
    )
    quotas = {g: (w * n_total) // W for g, w in budgeted.items()}
    out = token_budget_mix(
        df.withColumn("__one", F.lit(1)),
        group_col,
        "__one",
        quotas,
        key_col=key_col,
        seed=seed,
        hash_fn=hash_fn,
        num_partitions=num_partitions,
        cum_col=rank_col,
        _family=_DIST_MATCH_FAMILY,
    )
    return out.drop("__one", "epoch")


def cluster_split(
    df: DataFrame,
    clusters: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    cluster_id_col: str = "cluster_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/test split: assignment is keyed on the
    near-dup CLUSTER id, not the document id, so two near-duplicate
    documents can never straddle the split boundary — the standard
    eval-contamination failure of a per-document split (train on one
    copy, test on its paraphrase). Composes with any cluster map:
    exact-dup groups, MinHash-LSH + connected components
    (``dedup.dedup_clusters``), or embedding near-dup clusters.

    ``clusters`` holds (``id_col``, ``cluster_id_col``); documents
    without a cluster row key on their OWN id (singleton semantics,
    matching dedup_clusters' self-labeling). Assignment is
    :func:`train_test_split` on the cluster key — a pure function of
    (seed, cluster id), so it inherits every guarantee of the module
    (deterministic, engine-portable with md5, stable under
    re-partitioning and corpus growth; a cluster that grows keeps its
    split).

    Scale shape: ONE equi-join on the id (broadcast when the cluster
    map is small — it only needs rows for clustered docs — shuffled
    otherwise) + a scan-stage hash; nothing else moves.
    """
    cl = clusters.select(
        F.col(id_col).alias("__cid"),
        F.col(cluster_id_col).alias("__ckey_raw"),
    )
    joined = df.join(cl, F.col(id_col) == F.col("__cid"), "left").drop(
        "__cid"
    )
    keyed = joined.withColumn(
        "__ckey", F.coalesce(F.col("__ckey_raw"), F.col(id_col))
    ).drop("__ckey_raw")
    return train_test_split(
        keyed, "__ckey", weights, seed=seed, hash_fn=hash_fn,
        out_col=out_col,
    ).drop("__ckey")


_SHARDS_FAMILY = "sampling.shards"


def balanced_shards(
    df: DataFrame,
    weight_col: str,
    n_shards: int,
    key_col: str = "doc_id",
    shard_col: str = "shard",
    rank_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Weight-balanced shard assignment for training-data output:
    rank all rows by (weight desc, key asc) and deal them round-robin
    across ``n_shards`` — the classic size-descending round-robin,
    whose per-shard weight totals differ PAIRWISE by at most the
    single largest weight: for shards a < b, each round's gap
    ``w[rK+a] - w[rK+b]`` is >= 0 and bounded by ``w[rK+a] -
    w[(r+1)K+a]`` (the next round's a-item is even smaller than this
    round's b-item), so the gaps telescope to <= max(w).
    Writing training shards balanced by TOKEN COUNT (not row count) is
    what keeps data-parallel readers in step; a hash-partitioned write
    leaves long-document shards dominating an epoch's tail.

    Deterministic: the rank order is total (ties broken by the unique
    key), so re-runs and engine changes produce the identical
    assignment — the oracle replays it as one SQL window. NULL keys
    are excluded (no stable identity); NULL weights sort as 0 via
    coalesce (documented, not silent: the row still gets a shard).

    DISTRIBUTED exact global rank: the device in ``operators/_rank.py``
    (NO single-reducer global window). Returns the input rows plus
    ``shard_col`` (0-based) and, when ``rank_col`` is given, the
    1-based global rank."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    w = F.coalesce(F.col(weight_col), F.lit(0)).cast("long")
    base = df.filter(F.col(key_col).isNotNull()).withColumn("__w", w)
    order = [F.col("__w").desc(), F.col(key_col).asc()]
    ranked = _rank.rank(
        base, _SHARDS_FAMILY, order, num_partitions=num_partitions
    )
    if ranked is None:
        out = base.withColumn(shard_col, F.lit(None).cast("int"))
        if rank_col is not None:
            out = out.withColumn(rank_col, F.lit(None).cast("long"))
        return out.drop("__w")
    rank = F.col("__rank")
    out = ranked.frame.withColumn(
        shard_col, F.pmod(rank - 1, F.lit(int(n_shards))).cast("int")
    )
    if rank_col is not None:
        out = out.withColumn(rank_col, rank)
    return out.drop("__w", "__rank")
