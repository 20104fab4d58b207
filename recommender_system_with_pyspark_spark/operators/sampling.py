"""Deterministic, content-addressed sampling & splitting (north-star
extension: training-data pipeline ops).

``df.sample()``/``randomSplit()`` draw per-partition pseudo-randoms — the
kept set changes under repartition, task retry, or engine version, which is
poison for a training pipeline (a re-run must reproduce yesterday's
train/val/test membership EXACTLY, or eval sets leak into training).

Everything here derives the decision from a hash of the ROW KEY instead:

    bucket(k) = int(hex(md5(k || ':' || seed))[:8])   in [0, 2^32)

- Same key → same decision, on any partitioning, any cluster, any day.
- md5 is engine-portable (identical in Spark, DuckDB, Python), so sampling
  decisions can be verified — and reproduced — outside Spark.
- Sampling/splitting becomes a pure projection + filter: no shuffle, fully
  pushdown-friendly, trivially parallel at 100 TB.
- Different ``seed`` values give independent samples (hash avalanche), so
  nested draws (sample 10% of the 80% train split) stay unbiased.

The reference's unseeded ``randomSplit`` (M9 quirk, `bgrfunctions.py:183`)
is the cautionary tale these operators replace.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpointing import local_ckpt_ser

_BUCKETS = 1 << 32


def hash_bucket(key: Column | str, seed: int | str = 0) -> Column:
    """Uniform bucket in [0, 2^32) from the md5 of (key, seed) — the first
    8 hex chars parsed as an integer. Portable across engines (DuckDB:
    ``('0x' || substr(md5(k || ':' || seed), 1, 8))::BIGINT``)."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(k.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int | str = 0,
) -> DataFrame:
    """Keep rows whose key-bucket falls below ``fraction`` — a deterministic
    Bernoulli(fraction) sample keyed by content, stable across runs,
    partitionings, and engines. All rows sharing a key are kept or dropped
    together (sample by document, not by shard)."""
    return df.filter(hash_bucket(key_col, seed) < int(fraction * _BUCKETS))


def stable_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int | str = 0,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a named split (e.g. train/val/test 0.8/0.1/0.1) by
    key-bucket range — the deterministic replacement for ``randomSplit``.
    Weights must sum to ~1; assignment is exhaustive (the last split takes
    any remainder, so float dust can't drop rows)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(key_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int | str = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the domain-mixture op of a
    training-data pipeline ("keep all wiki, 10% of crawl"): each stratum
    value gets its own keep-fraction, applied via the same portable
    md5 key-bucket as :func:`hash_sample` (strata with rate >= 1 keep
    everything; unlisted strata keep ``default_rate``).

    One codegen CASE over a broadcastable literal map — no shuffle, no
    per-stratum passes, linear at 100 TB."""
    bucket = hash_bucket(key_col, seed)
    thresh = None
    for value, rate in rates.items():
        t = F.lit(min(int(rate * _BUCKETS), _BUCKETS))
        cond = F.col(strata_col) == value
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = thresh.otherwise(F.lit(min(int(default_rate * _BUCKETS), _BUCKETS))) \
        if thresh is not None else F.lit(min(int(default_rate * _BUCKETS), _BUCKETS))
    return df.filter(bucket < thresh)


def stratified_fixed_k(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    k: int,
    seed: int | str = 0,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows inside each
    stratum by their content-hash bucket (key as tiebreak) and keep the k
    smallest — a deterministic "reservoir" that returns the SAME k rows on
    any run, partitioning, or engine, unlike ``sampleBy`` (probabilistic
    rates, no exact k) or a true reservoir (order-dependent).

    One shuffle on the stratum key; rank + filter prune everything beyond
    k. For heavily-skewed strata at 100 TB, pre-filter with
    ``hash_sample`` at ~2k/|stratum| to cap the sort input, then rank."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col, seed), F.col(key_col)
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    ).drop("_rn")


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int | str = 0,
    score_col: str = "sample_score",
    round_to: int = 6,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws u ∈ (0, 1] from the md5 of its key and
    scores s = −ln(u) / w; the k smallest scores are the sample. Inclusion
    probability is proportional to ``weight_col`` (domain upweighting,
    quality-weighted corpus draws), yet the selected set is a pure function
    of (key, seed) — reproducible on any partitioning, any engine, any day,
    which ``df.sample(weights...)``-style draws are not.

    Plan shape: pure projection + global top-k. Spark executes the
    orderBy().limit(k) as TakeOrdered (per-partition heaps + driver merge
    of k·partitions rows) — no full sort, no shuffle of the losers.

    Weights must be > 0 (A-ES is undefined otherwise): non-positive or
    null weights are filtered out before scoring — without the filter a
    negative weight yields a negative score that sorts first and silently
    dominates every draw."""
    u = (hash_bucket(key_col, seed) + F.lit(1.0)) / F.lit(float(_BUCKETS))
    score = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn(score_col, F.round(score, round_to))
        .orderBy(F.col(score_col).asc(), F.col(key_col).asc())
        .limit(k)
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Greedy per-group corpus selection under a token budget: walk each
    group's rows best-first (``order_col`` DESC, ``id_col`` ASC tiebreak)
    and keep rows while the running token total stays within ``budget`` —
    "fill a 1B-token training mix with the best documents per language".

    Note the greedy prefix rule: a row is kept iff its OWN cumulative sum
    is <= budget; the walk stops at the first overflow (no skip-and-refill
    — that would be knapsack, not a prefix, and couldn't be verified by a
    window-function oracle).

    One shuffle on ``group_col``; the cumulative sum is a running-frame
    window aggregate — no iteration, no driver state. Skewed groups at
    100 TB: pre-aggregate candidates per group with a cheap quality floor
    before ranking."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = df.withColumn("_cum", F.sum(F.col(token_col).cast("long")).over(w))
    # min_by over the violating prefix: the first row that overflows caps
    # everything after it (monotone cumsum ⇒ a simple filter suffices).
    return run.filter(F.col("_cum") <= budget)


def mixture_sample(
    df: DataFrame,
    category_col: str,
    weight_col: str,
    target_shares: dict[str, float],
    total_budget: int,
    seed: int | str = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus-mixture sampling: select rows so each category
    contributes ~``target_shares[cat] * total_budget`` of ``weight_col``
    (tokens/chars) — the "40% web, 30% code, 30% books" knob every
    LLM-pretraining mix needs.

    Per-category acceptance rate r_c = min(1, share_c·budget / weight_c)
    comes from ONE aggregate over the corpus (|categories| rows, broadcast
    back); a row is kept iff its portable md5 bucket (see
    :func:`hash_bucket`) falls below floor(r_c · 2³²). Selection is a pure
    function of (id, seed, category totals):

    - partitioning-invariant and resumable — re-running on re-sharded data
      keeps exactly the same rows;
    - engine-portable — the DuckDB oracle reproduces the selection
      bit-for-bit (integer threshold comparison, no float equality);
    - one scan + one broadcast join at any scale, no sorting, no windows.

    Sampling is Bernoulli on rows, so realized weight per category
    concentrates around the target (CLT over row weights) rather than
    hitting it exactly; callers needing an exact prefix under a budget use
    :func:`token_budget_select` (greedy, needs a per-group sort) instead.
    Categories missing from ``target_shares`` get rate 0 (dropped)."""
    rates = (
        df.groupBy(category_col)
        .agg(F.sum(F.col(weight_col).cast("double")).alias("_w"))
        .withColumn(
            "_share",
            F.coalesce(
                *[
                    F.when(F.col(category_col) == k, F.lit(float(v)))
                    for k, v in sorted(target_shares.items())
                ],
                F.lit(0.0),
            )
            if target_shares
            else F.lit(0.0),
        )
        .withColumn(
            "_thr",
            F.floor(
                F.least(F.lit(1.0), F.col("_share") * F.lit(float(total_budget)) / F.col("_w"))
                * F.lit(4294967296.0)
            ).cast("long"),
        )
        .select(category_col, "_thr")
    )
    keyed = df.withColumn("_bucket", hash_bucket(F.col(id_col), seed))
    return (
        keyed.join(F.broadcast(rates), category_col)
        .filter(F.col("_bucket") < F.col("_thr"))
        .drop("_bucket", "_thr")
    )


def negative_sample(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 4,
    oversample: int = 3,
    seed: int | str = 0,
) -> DataFrame:
    """Deterministic NEGATIVE sampling for recommender / contrastive
    training: for every user, draw ``k`` items they have NOT interacted
    with — the other half of every implicit-feedback training set (ALS
    ranking losses, BPR, two-tower contrastive batches all need
    negatives; df.sample() can't do it because negatives are defined by
    ABSENCE, and RNG sampling isn't reproducible across engines or
    partitionings).

    Construction (every step engine-portable, md5-keyed like the rest of
    this module):

    1. Dense item index 0..n−1 by item-id order (scale-safe global rank
       via ``relational.two_stage_rank`` — no single-partition window).
    2. ``k·oversample`` candidate draws per user: draw ``j`` picks index
       ``md5(user:j:seed) mod n`` — a pure posexplode projection.
    3. Anti-join the positives on (user, item), drop repeated draws of
       the same item (keep the earliest attempt), keep the first ``k``
       surviving draws per user (window partitioned by USER — maximal
       key cardinality, never single-partition).

    Oversample covers draws lost to positives/duplicates; users with very
    dense positive sets may honestly yield fewer than ``k`` negatives
    (raise ``oversample`` rather than silently re-rolling — determinism
    is the contract). Shuffles are keyed by user/item only; the only
    driver traffic is the item-catalog COUNT (one scalar — the draw
    modulus).

    EAGER AT CALL TIME (like ``temporal.funnel``): constructing the frame
    runs one Spark job — the fused count+quantile aggregate that yields
    the draw modulus and the rank cut points, and whose execution
    materializes the lazy positives/item-set checkpoints below it.
    Without those checkpoints the interactions join is re-planned once
    per consumer — the first sf10 run of this operator OOMed exactly
    there, when the column-pruned item-index subtrees size-underestimated
    a 15M-row fact table into a BuildLeft broadcast (three concurrent
    ~500 MB broadcast builds in one shared heap); a LAZY checkpoint's
    LogicalRDD carries no size stats at all, so Catalyst cannot
    under-estimate it into a broadcast either. The two joins that grow
    with the data are additionally PINNED to shuffle strategies (hash on
    the uniform md5 item index, merge for the positives anti-join) — the
    item catalog is not a broadcastable dim at real scale, and the hints
    keep per-task memory bounded by partition size even if size
    estimates drift.

    Lifetime note: the positives checkpoint lives until the session ends
    (localCheckpoint blocks are not auto-released; the returned frame's
    lineage points INTO them, so the operator cannot unpersist before the
    caller materializes). Loops calling this many times per session
    should checkpoint/persist their interactions frame themselves and
    truncate with ``spark.catalog.clearCache()`` between experiments —
    the same caller-owned policy as ``temporal.funnel``.

    Returns (user_col, item_col, neg_rank) — ``neg_rank`` in 1..k.
    """
    from pyspark.sql import Window

    from .relational import two_stage_rank

    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    # LAZY serialized checkpoints with ONE fused stats job as their
    # materializer (round 14): positives and the distinct item set used to
    # take four eager materialization jobs plus a count job (draw modulus) plus two_stage_rank's eager
    # approx-quantile job — seven actions before the query's own plan ran.
    # The single aggregate below (count + percentile_approx over the item
    # ids) computes BOTH driver scalars in one pass and, being the first
    # action over the lazy checkpoints, persists pos and ids as a side
    # effect: 1 job total. SERIALIZED level throughout — the safe
    # direction at fact scale (the sf100 OOM class); it costs only
    # per-reuse deserialization of catalog-sized blocks. Lazy checkpoints carry no
    # size stats, so Catalyst cannot UNDER-estimate them into stray
    # broadcasts (the sf10 failure eager checkpointing was added for);
    # the two data-scale joins stay pinned to shuffle strategies below.
    pos = local_ckpt_ser(interactions.select(user_col, item_col).distinct(),
                         eager=False)
    ids = local_ckpt_ser(pos.select(item_col).distinct(), eager=False)
    n_groups = int(
        interactions.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    stats = ids.agg(
        F.count(F.lit(1)).alias("_n"),
        F.percentile_approx(
            F.col(item_col).cast("double"),
            [i / n_groups for i in range(1, n_groups)],
            4 * max(n_groups, 1),  # accuracy ≈ 1/relativeError of the old sketch
        ).alias("_cuts"),
    ).first()
    n_items = int(stats["_n"])
    # rank output is exact for ANY cut set (two_stage_rank contract) — the
    # sketch swap from stat.approxQuantile to percentile_approx can only
    # move load-balance boundaries, never a rank
    cuts = sorted({float(c) for c in (stats["_cuts"] or [])})
    items = (
        two_stage_rank(ids, item_col, out_col="_r", n_groups=n_groups,
                       cut_points=cuts)
        .select(F.col(item_col).alias("_neg_item"), (F.col("_r") - 1).alias("_idx"))
    )
    draws = (
        pos.select(user_col)
        .distinct()
        .select(
            user_col,
            F.posexplode(F.sequence(F.lit(0), F.lit(k * oversample - 1))).alias(
                "_j", "_jv"
            ),
        )
        .select(
            user_col,
            "_j",
            F.pmod(
                hash_bucket(
                    F.concat(F.col(user_col).cast("string"), F.lit(":"), F.col("_j")),
                    seed,
                ),
                F.lit(n_items).cast("long"),
            ).alias("_idx"),
        )
    )
    cand = draws.join(items.hint("shuffle_hash"), "_idx").select(
        user_col, F.col("_neg_item").alias(item_col), "_j"
    )
    neg = (
        cand.join(pos.hint("shuffle_merge"), [user_col, item_col], "left_anti")
        .groupBy(user_col, item_col)
        .agg(F.min("_j").alias("_j"))
    )
    w = Window.partitionBy(user_col).orderBy(F.asc("_j"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(user_col, item_col, F.col("neg_rank").cast("int"))
    )


def rolling_origin_folds(
    df: DataFrame,
    ts_col: str,
    n_folds: int = 3,
    min_train_frac: float = 0.5,
    ts_min_us: int | None = None,
    ts_max_us: int | None = None,
) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds for
    temporal data — the CV scheme that respects causality where k-fold
    silently leaks the future into training: the time axis between
    ``min_train_frac`` and 1.0 is cut into ``n_folds`` equal spans; in
    fold ``i`` everything before cut ``i`` trains and the span between
    cuts ``i`` and ``i+1`` tests. Each row is emitted once per fold it
    participates in, tagged (fold, role) — the natural input to a
    groupBy-fold metric pass or a per-fold ``ml`` fit loop.

    Cut points are LINEAR IN TIME (affine from the observed or provided
    [min, max] micros), not row quantiles: quantile cuts move with the
    data volume and would let a traffic spike shift what "the past"
    means; time cuts are deterministic, engine-portable arithmetic. Pass
    ``ts_min_us`` / ``ts_max_us`` to pin the window externally (a frozen
    experiment config); otherwise one tiny min/max aggregate is computed
    and broadcast.

    Scale shape: one optional 2-value aggregate + a pure projection with
    a ≤ n_folds posexplode — no shuffle beyond the aggregate; output is
    at most ``n_folds`` × input rows (exactly the multiplicity CV
    requires).
    """
    if n_folds < 1:
        raise ValueError("n_folds must be >= 1")
    if not 0 < min_train_frac < 1:
        raise ValueError("min_train_frac must be in (0, 1)")
    if (ts_min_us is None) != (ts_max_us is None):
        raise ValueError("provide both ts_min_us and ts_max_us, or neither")
    t_us = F.unix_micros(F.col(ts_col))
    if ts_min_us is None:
        rng = df.agg(
            F.min(t_us).alias("_t0"), F.max(t_us).alias("_t1")
        )
        base = df.crossJoin(F.broadcast(rng))
        t0, t1 = F.col("_t0"), F.col("_t1")
    else:
        base = df
        t0, t1 = F.lit(int(ts_min_us)), F.lit(int(ts_max_us))
    # fold-i boundaries: cut_i = t0 + span*(min_train_frac + i*step),
    # test window = [cut_i, cut_{i+1}) (the last fold's window closes at
    # t1 inclusive so the newest row is never orphaned)
    span = (t1 - t0).cast("double")
    step = (1.0 - min_train_frac) / n_folds
    folds = F.sequence(F.lit(0), F.lit(n_folds - 1))
    exploded = base.select(
        *df.columns,
        t_us.alias("_t"),
        span.alias("_span"),
        t0.alias("_o"),
        F.explode(folds).alias("fold"),
    )
    cut_lo = F.col("_o") + F.col("_span") * (
        F.lit(min_train_frac) + F.col("fold") * F.lit(step)
    )
    cut_hi = F.col("_o") + F.col("_span") * (
        F.lit(min_train_frac) + (F.col("fold") + 1) * F.lit(step)
    )
    role = (
        F.when(F.col("_t") < cut_lo, F.lit("train"))
        .when(
            (F.col("_t") >= cut_lo)
            & (
                (F.col("_t") < cut_hi)
                | ((F.col("fold") == n_folds - 1) & (F.col("_t") <= F.col("_o") + F.col("_span")))
            ),
            F.lit("test"),
        )
        .otherwise(F.lit(None))
    )
    return (
        exploded.withColumn("role", role)
        .filter(F.col("role").isNotNull())
        .drop("_t", "_span", "_o")
        .withColumn("fold", F.col("fold").cast("int"))
    )
