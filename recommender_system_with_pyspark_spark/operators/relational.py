"""Relational operators (SURVEY §2.3 joins, §2.4 aggregations, §2.5 top-k,
§2.7 scalar compositions).

Scale notes (100 TB):
- ``prune_sparse_entities``: the qualifying-key sides are post-aggregation
  tiny (distinct keys above a count threshold), so both semi-joins broadcast
  — the 19M/100TB fact table is never shuffled. At extreme key cardinality
  AQE falls back to shuffled semi-join with skew splitting.
- ``star_join``: dimensions broadcast (classic star schema); the fact scan
  is the only big side and its filters/projections push down.
- ``top_k_per_group``: window row_number with a deterministic tie-break;
  executes as a single shuffle on the partition key (no global sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prune_sparse_entities(
    facts: DataFrame,
    item_col: str,
    user_col: str,
    min_item_count: int,
    min_user_count: int,
) -> DataFrame:
    """Reference ``low_importance_elements`` (`bgrfunctions.py:43-53`,
    thresholds `als.py:14-15`): drop items with <= min_item_count rows, then
    users with <= min_user_count rows, composed in the reference's exact
    non-fixpoint order:

      1. items counted on the *original* frame, facts semi-joined on items;
      2. users counted on the *original* frame, filtered users semi-joined
         against the qualifying items' facts, facts semi-joined on the
         resulting user set.

    (I.e. user counts are computed pre-item-pruning — surviving users may
    have fewer qualifying rows than the threshold. Reproduced faithfully;
    run twice for a fixpoint.)

    Both key sets are post-aggregation small → broadcast semi-joins; the
    fact table is scanned, never shuffled.
    """
    items = facts.groupBy(item_col).count().filter(F.col("count") > min_item_count)
    users = facts.groupBy(user_col).count().filter(F.col("count") > min_user_count)
    pruned = facts.join(F.broadcast(items.select(item_col)), item_col, "left_semi")
    users_kept = users.join(pruned, user_col, "left_semi")
    return pruned.join(F.broadcast(users_kept.select(user_col)), user_col, "left_semi")


def semi_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J1 — left-semi join (`functions.py:43,47,49`)."""
    return df.join(keys, on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT-EXISTS complement of J1 (engine extension; no reference site)."""
    return df.join(keys, on, "left_anti")


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str]],
    how: str = "left",
    broadcast_dims: bool = True,
) -> DataFrame:
    """J4 — chained dimension joins (`read_db.py:27-33` pandas star-join).

    Dimensions broadcast by default — at 100 TB the fact side is the only
    shuffle-sized input and it is never moved.
    """
    out = fact
    for dim, key in dims:
        d = F.broadcast(dim) if broadcast_dims else dim
        out = out.join(d, key, how)
    return out


def group_count(df: DataFrame, *keys: str, alias: str = "count") -> DataFrame:
    """A1/A2 — groupBy count (`bgrfunctions.py:45,49`). Partial+final hash
    aggregate (map-side combine) — Catalyst provides it automatically."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def having(df: DataFrame, *keys: str, min_count: int, alias: str = "count") -> DataFrame:
    """P3 — groups with count > k (`functions.py:42,46`)."""
    return group_count(df, *keys, alias=alias).filter(F.col(alias) > min_count)


def distinct_count(
    df: DataFrame, column: str, approximate: bool = False, rsd: float = 0.05
) -> DataFrame:
    """A8 — number of distinct values (`als.py:52`).

    ``approximate=True`` uses HyperLogLog++ (`approx_count_distinct`) — the
    scale path: one pass, fixed memory, no shuffle of distinct values.
    ``rsd`` is the target relative standard deviation (smaller = bigger
    sketch; 0.01 ≈ 100 KB per group)."""
    agg = (
        F.approx_count_distinct(column, rsd) if approximate else F.countDistinct(column)
    ).alias(f"{column}_distinct")
    return df.agg(agg)


def top_k_per_group(
    df: DataFrame,
    partition_by: str | Sequence[str],
    order_by: str,
    k: int,
    ascending: bool = False,
    tie_breaker: str | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """W1 — per-group top-k, the relational equivalent of
    ``recommendForAllUsers(k)`` (`als.py:44`).

    row_number over (partition, order desc, tie asc) — deterministic under a
    tie_breaker. One shuffle on the partition key; no global sort.
    """
    part = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = [F.col(order_by).asc() if ascending else F.col(order_by).desc()]
    if tie_breaker:
        order.append(F.col(tie_breaker).asc())
    w = Window.partitionBy(*part).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def two_stage_rank(
    df: DataFrame,
    value_col: str,
    partition_by: Sequence[str] = (),
    tiebreak: Sequence[str] = (),
    out_col: str = "rank",
    n_groups: int | None = None,
    cut_points: Sequence[float] | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY partition_by ORDER BY value_col
    ASC, *tiebreak)`` without a per-partition monolithic sort.

    A low-cardinality PARTITION BY caps window parallelism at the number of
    partitions (25 nations ⇒ 25 tasks each sorting every customer of its
    nation). This splits each rank partition into value ranges:

    1. GLOBAL approx-quantile cut points on ``value_col`` sub-group rows
       (in-partition order is compatible with global value ranges, so one
       sketch serves every partition; skew only affects load balance).
    2. ``row_number`` over (partition_by…, subgroup) — parallelism
       |partitions| × n_groups.
    3. Per-(partition, subgroup) counts → prefix offsets via a window over
       the counts frame itself (group-cardinality rows, partitioned by the
       rank keys — never single-partition), broadcast-joined back.

    Result is bit-identical to the monolithic window (ties never straddle a
    value-range boundary; ``tiebreak`` must make the order total). Nulls in
    ``value_col`` rank first, matching Spark ASC windows.

    ``cut_points``: optional precomputed cut values (round 14) — skips the
    eager approx-quantile ACTION this function otherwise runs at call
    time, for callers that already make a pass over ``df`` and can fold a
    ``percentile_approx`` into it (sampling.negative_sample fuses it with
    the draw-modulus count: one job instead of two). The rank is exact
    for ANY cut set — cuts only steer load balance — so the sketch source
    is a pure performance knob."""
    spark = df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pcols = list(partition_by)
    kdf = df.withColumn("_tsr_key", F.col(value_col).cast("double"))
    if cut_points is None:
        cuts = sorted(set(kdf.stat.approxQuantile(
            "_tsr_key", [i / n_groups for i in range(1, n_groups)],
            1.0 / (4.0 * max(n_groups, 1)))))
    else:
        cuts = sorted({float(c) for c in cut_points})
    # Subgroup assignment as ONE flat array fold, wrapped to be provably
    # NON-NULLABLE — both halves are load-bearing at scale (round-12 sf100
    # finding, SCALING.md):
    #
    # - The offsets equi-join infers ``isnotnull(_tsr_grp)``, and Catalyst
    #   pushes that filter — carrying the WHOLE subgroup expression —
    #   BELOW the caller's aggregates onto the base scan. With the old
    #   n_groups-deep chained-add tree (256 nested casts at sf100), that
    #   meant re-evaluating a 256-node expression per BASE row (599M, not
    #   the 15M distinct rows this operator actually ranks), per plan
    #   branch; the per-branch filters also made the three distinct
    #   exchanges structurally different, so ReusedExchange could not
    #   collapse them. dense_id_compaction at sf100 went from "minutes"
    #   to "70 CPU-minutes per task, no completions".
    # - ``coalesce(fold, -2)`` + non-null branches make the CASE
    #   non-nullable, so the inferred isnotnull CONSTANT-FOLDS AWAY: no
    #   filter is pushed at all and the branches unify. (The fold itself
    #   is never null — ``when(null > c, 1).otherwise(0)`` yields 0 for a
    #   null key, and the isNull branch catches null keys first anyway;
    #   the coalesce exists SOLELY to pin nullable=false for Catalyst,
    #   which cannot prove it from the aggregate's type. -2 is
    #   unreachable by construction — do not "simplify" the coalesce
    #   away, the pushdown pathology above comes straight back.)
    # - The array fold keeps the expression ONE shallow node (a tight
    #   O(n_groups) loop per row) instead of an n_groups-deep codegen
    #   tree, so even a future pushed copy costs ns, not interpreted µs.
    if cuts:
        cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
        fold = F.aggregate(
            cuts_arr,
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("_tsr_key") > c, 1).otherwise(0),
        )
    else:  # degenerate sketch (constant / empty column): one subgroup
        fold = F.lit(0)
    grp = F.when(F.col("_tsr_key").isNull(), F.lit(-1)).otherwise(
        F.coalesce(fold, F.lit(-2))
    )
    gdf = kdf.withColumn("_tsr_grp", grp)
    counts = gdf.groupBy(*pcols, "_tsr_grp").agg(F.count(F.lit(1)).alias("_n"))
    if pcols:
        # partitioned by the rank keys over a group-cardinality frame —
        # never single-partition
        woff = (Window.partitionBy(*pcols).orderBy("_tsr_grp")
                .rowsBetween(Window.unboundedPreceding, -1))
        offsets = counts.withColumn(
            "_tsr_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
        ).drop("_n")
    else:
        # GLOBAL rank: an empty PARTITION BY would plan the one remaining
        # unpartitioned window (benign at n_groups rows, but it trips the
        # plan-hygiene gate) — same strictly-earlier broadcast self-join
        # as two_stage_cumsum over the tiny counts frame instead
        prior = counts.select(
            F.col("_tsr_grp").alias("_pg"), F.col("_n").alias("_pn")
        )
        offsets = (
            counts.join(F.broadcast(prior), F.col("_pg") < F.col("_tsr_grp"), "left")
            .groupBy("_tsr_grp", "_n")
            .agg(F.coalesce(F.sum("_pn"), F.lit(0)).alias("_tsr_off"))
            .drop("_n")
        )
    wloc = (Window.partitionBy(*pcols, "_tsr_grp")
            .orderBy(F.col("_tsr_key").asc_nulls_first(),
                     *[F.col(c) for c in tiebreak]))
    joined = gdf.join(F.broadcast(offsets), pcols + ["_tsr_grp"])
    return (
        joined.withColumn(out_col, F.col("_tsr_off") + F.row_number().over(wloc))
        .drop("_tsr_key", "_tsr_grp", "_tsr_off")
    )


_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def dense_id_compaction(
    df: DataFrame,
    cols: Sequence[str],
    idx_cols: Sequence[str] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame | None]]:
    """Guard a long-id key space against an int32-only consumer (MLlib ALS
    user/item ids being the canonical one — found by the sf10 sweep,
    SCALING.md round 7, where 2.2e9-valued keys hit CAST_OVERFLOW inside
    ALS block construction).

    If every value of every column in ``cols`` already fits int32, ``df``
    passes through UNCHANGED (same object — existing outputs stay
    bit-identical; the check costs one tiny min/max aggregate). Otherwise
    EVERY listed column's values are replaced by a dense 1-based int rank
    over that column's distinct values, and the per-column (original →
    index) mapping frames are returned so callers can translate consumer
    output back to the original ids.

    The rank is scale-safe: ``two_stage_rank`` splits each id space into
    value-range subgroups behind a global approx-quantile sketch — no
    single-partition window over a 100 TB key column. Distinct-id
    cardinality must itself be < 2³¹ (the consumer's hard ceiling — ALS
    factor blocks cannot address more ids than that regardless of key
    encoding; beyond it, shard the model).

    Returns ``(compacted_df, {col: map_df | None})`` where ``map_df`` has
    columns ``(col, idx_col)`` and is cached (read by both the compaction
    join and the caller's map-back join). Map-back joins on the user-side
    map can be large (one row per distinct user) — leave them un-hinted and
    let AQE broadcast when small.

    Storage lifecycle (ADVICE r12): each mapping frame is materialized
    into its cache EAGERLY (one count) and the full-corpus distinct-id
    checkpoint that fed it is released immediately after — per-call
    block-manager footprint is the mapping frames alone (bounded by
    distinct-id cardinality), not the checkpointed id sets, and repeated
    calls in one session no longer accumulate unreleasable checkpoint
    blocks. The cached mappings themselves stay pinned until the caller
    is done translating ids — release them with
    :func:`release_compaction_maps` (cache loss after the checkpoint
    release would make map recomputation impossible, which is the same
    executor-loss contract ``localCheckpoint`` itself carries).
    """
    idx = list(idx_cols) if idx_cols is not None else [f"_{c}_idx" for c in cols]
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    mm = df.agg(F.count(F.lit(1)).alias("_n"), *aggs).first()
    fits = mm["_n"] == 0 or all(
        v is None or _INT32_MIN <= v <= _INT32_MAX
        for c in cols
        for v in (mm[f"_mn_{c}"], mm[f"_mx_{c}"])
    )
    if fits:
        return df, {c: None for c in cols}
    from .checkpointing import local_ckpt_ser, release_local_ckpt

    maps: dict[str, DataFrame] = {}
    out = df
    for c, ic in zip(cols, idx):
        # materialize the distinct id set ONCE before ranking: the rank
        # plan references its input from several branches (subgroup
        # counts, offsets, the ranked rows themselves) and column pruning
        # makes those exchanges structurally different, so ReusedExchange
        # cannot collapse them — without the cut, each branch re-runs the
        # full-corpus distinct (3× a 599M-row scan per column at sf100;
        # measured round 12, SCALING.md). The frame is bounded by the
        # distinct-id cardinality this function already caps, serialized
        # level by the checkpointing module's fact-scale rule.
        ids = local_ckpt_ser(df.select(c).distinct())
        m = (
            two_stage_rank(ids, c, out_col="_r")
            .select(c, F.col("_r").cast("int").alias(ic))
            .cache()
        )
        # materialize the mapping into its cache NOW, then drop the
        # checkpointed id blocks: the rank plan's multi-branch reads of
        # `ids` all happen inside this one count, and afterwards nothing
        # recomputable needs the checkpoint — releasing it keeps the
        # per-call storage bounded by the mapping frames (ADVICE r12)
        m.count()
        release_local_ckpt(ids)
        maps[c] = m
        # null-safe equi-join: a NULL id is a distinct value (it ranks
        # first in two_stage_rank), and compaction must be a 1:1 re-key —
        # a plain equi-join would silently drop null-keyed rows
        mm_renamed = m.withColumnRenamed(c, f"_{ic}_key")
        out = (
            out.join(mm_renamed, F.col(c).eqNullSafe(F.col(f"_{ic}_key")))
            .drop(c, f"_{ic}_key")
            .withColumnRenamed(ic, c)
        )
    return out.select(*df.columns), maps


def release_compaction_maps(maps: "dict[str, DataFrame | None]") -> None:
    """Unpersist the cached mapping frames a :func:`dense_id_compaction`
    call returned — the caller-side half of the storage lifecycle: call
    it after the LAST id-translation join (typically after
    :func:`restore_ids` output has been materialized or written).
    Blocking=False; ``None`` entries (columns that already fit int32)
    are skipped."""
    for m in maps.values():
        if m is not None:
            try:
                m.unpersist(False)
            except Exception:
                pass


def assert_int32_ids(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """LOUD guard for code paths that hand ids to an int32-only consumer
    DIRECTLY (MLlib's ``ALS.fit`` being the canonical one — it casts
    user/item ids to int and a long surrogate key CAST_OVERFLOWs deep
    inside block construction with an error that names neither the column
    nor the fix). ``ml.models.als_prediction`` compacts automatically;
    call this before any direct MLlib usage this package doesn't wrap.

    Raises ``ValueError`` naming the offending column, its observed range,
    and the remedy (``dense_id_compaction`` + ``restore_ids``) when any
    value falls outside int32; returns ``df`` unchanged otherwise."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    mm = df.agg(F.count(F.lit(1)).alias("_n"), *aggs).first()
    if mm["_n"] == 0:
        return df
    for c in cols:
        lo, hi = mm[f"_mn_{c}"], mm[f"_mx_{c}"]
        if any(v is not None and not _INT32_MIN <= v <= _INT32_MAX for v in (lo, hi)):
            raise ValueError(
                f"column {c!r} holds ids outside int32 (observed range "
                f"[{lo}, {hi}]); MLlib consumers such as ALS cast ids to "
                f"int and overflow. Re-key with "
                f"operators.relational.dense_id_compaction(df, [{c!r}]) "
                f"and translate outputs back with restore_ids — or use "
                f"ml.models.als_prediction, which does both automatically."
            )
    return df


def restore_ids(
    df: DataFrame,
    col: str,
    mapping: DataFrame | None,
    idx_col: str | None = None,
) -> DataFrame:
    """Translate a consumer-output column of dense indexes back to the
    original ids via the mapping frame ``dense_id_compaction`` returned
    (no-op when the mapping is None — the passthrough case). Keeps ``df``'s
    column order. The join is un-hinted: AQE broadcasts small maps; a
    100 TB user map shuffles."""
    if mapping is None:
        return df
    ic = idx_col or [c for c in mapping.columns if c != col][0]
    return (
        df.withColumnRenamed(col, ic)
        .join(mapping, ic)
        .select(*df.columns)
    )


def global_top_n(df: DataFrame, order_by: str, n: int, tie_breaker: str | None = None) -> DataFrame:
    """W2+W3 — global sort + limit (`read_db.py:34,52` + implicit show(20)).

    Spark executes orderBy+limit as TakeOrderedAndProject — per-partition
    top-n then a driver merge of n*partitions rows, never a full sort.
    """
    order = [F.col(order_by).desc()]
    if tie_breaker:
        order.append(F.col(tie_breaker).asc())
    return df.orderBy(*order).limit(n)


def binary_flags_to_categorical(
    df: DataFrame,
    flag_cols: Sequence[str],
    out_col: str,
    drop_flags: bool = True,
    sep: str = ", ",
) -> DataFrame:
    """F7 — wide 0/1 flag matrix → one comma-joined categorical string
    (`bgrfunctions.py:35-40` ``binary_to_categorical``; v1 `functions.py:33`
    is buggy and not reproduced).

    Fully native: per row, collect the names of set flags and join. No UDF —
    a pure projection inside WholeStageCodegen, embarrassingly parallel.
    Rows with no set flags yield '' (matching the reference's ''.join of an
    empty list).
    """
    names = F.array(
        *[
            F.when(F.col(c) != 0, F.lit(c)).otherwise(F.lit(None))
            for c in flag_cols
        ]
    )
    out = df.withColumn(
        out_col,
        F.array_join(F.filter(names, lambda x: x.isNotNull()), sep),
    )
    return out.drop(*flag_cols) if drop_flags else out


def explode_recommendations(
    df: DataFrame,
    rec_col: str = "recommendations",
    fields: Sequence[str] = ("BGGId", "Rating"),
) -> DataFrame:
    """F3/F4 — flatten array<struct> recommendation lists (`als.py:45-47`)."""
    out = df.withColumn("rec", F.explode(F.col(rec_col))).drop(rec_col)
    for f in fields:
        out = out.withColumn(f, F.col(f"rec.{f}"))
    return out.drop("rec")


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str],
    dedupe_updates_by: str | None = None,
) -> DataFrame:
    """MERGE INTO emulation (upsert) without a table format: matched target
    rows are replaced by their update, unmatched updates are inserted —
    expressed as target-anti-join-updates ∪ updates.

    ``dedupe_updates_by``: if the updates batch can carry several rows per
    key (CDC), keep the one with the max of this column (e.g. an event
    timestamp) — deterministic last-writer-wins.

    At scale this is the no-Delta fallback; with a lakehouse format the
    same logical op is a real MERGE with file-level pruning."""
    keys = [key] if isinstance(key, str) else list(key)
    up = updates
    if dedupe_updates_by is not None:
        w = Window.partitionBy(*keys).orderBy(F.desc(dedupe_updates_by))
        up = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    untouched = target.join(up.select(*keys), keys, "left_anti")
    return untouched.unionByName(up.select(*target.columns))


def two_stage_topk(
    df: DataFrame,
    partition_by: str | Sequence[str],
    order_by: str,
    k: int,
    ascending: bool = False,
    tie_breaker: str | None = None,
    rank_col: str = "rank",
    n_salts: int = 32,
) -> DataFrame:
    """Skew-safe per-group top-k: EXACTLY ``top_k_per_group``'s output, but
    a mega-group never lands on one reducer.

    Stage 1 ranks within (group, salt) — salt = hash(tie_breaker) mod
    n_salts, deterministic — and keeps k rows per salt slice, so no task
    ever sorts more than a 1/n_salts slice of the hottest group. Stage 2
    re-ranks the ≤ k·n_salts survivors per group: a group's stage-2 input
    is bounded by construction, so the second window is skew-free no matter
    how hot the key. Top-k commutes over any partition of the rows
    (the top k of a union is inside the union of per-part top k's), so the
    result is exact.

    Use over ``top_k_per_group`` when a group can be pathologically large
    (bot users, null-ish keys). Costs one extra (cheap, bounded) shuffle."""
    part = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if tie_breaker is None:
        raise ValueError("two_stage_topk needs a tie_breaker: it salts on "
                         "hash(tie_breaker) and exactness under ties needs "
                         "a total order anyway")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(tie_breaker)), F.lit(n_salts))
    )
    order = [F.col(order_by).asc() if ascending else F.col(order_by).desc(),
             F.col(tie_breaker).asc()]
    w1 = Window.partitionBy(*part, "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy(*part).orderBy(*order)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )


def two_stage_cumsum(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    out_prefix: str = "cum_",
    n_groups: int | None = None,
    cut_points: Sequence[float] | None = None,
) -> DataFrame:
    """``SUM(col) OVER (ORDER BY order_col ROWS UNBOUNDED PRECEDING)``
    — a GLOBAL running sum — without the single-partition window Spark
    would otherwise plan (``WindowExec: No Partition Defined``).

    Same construction as :func:`two_stage_rank`: global approx-quantile cut
    points on ``order_col`` split the frame into value-range subgroups;
    per-subgroup totals (an ``n_groups``-row frame) turn into prefix
    offsets via a broadcast strictly-earlier self-join over that tiny
    frame (not a window — see inline note); offsets broadcast back and
    each subgroup cumsums locally in parallel.

    Rows that tie on ``order_col`` land in the same subgroup (cut points
    are concrete values), and within a tie the emitted cumulative value is
    made order-independent by pre-aggregating: callers that need
    per-distinct-value running totals (ECDFs, Lorenz curves, KS statistics)
    should ``groupBy(order_col).agg(...)`` first — then the cumsum is
    deterministic regardless of physical row order. Nulls in ``order_col``
    sort first (Spark ASC semantics).

    At 100 TB this is the difference between an ECDF that funnels every
    row through one reducer and one that scales out: the only serial state
    is the n_groups-row offsets frame on the driver-side broadcast."""
    spark = df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    kdf = df.withColumn("_tsc_key", F.col(order_col).cast("double"))
    # ``cut_points``: optional precomputed cuts (round 14) — skips the
    # eager approx-quantile ACTION for callers that already pass over
    # ``df`` and can fold a percentile_approx into it (drift.ks_statistic
    # fuses it with its checkpoint materialization). Cumulative sums are
    # exact for ANY cut set — cuts only steer load balance (rows tying on
    # the order column still land in one subgroup because cuts are
    # concrete values either way).
    if cut_points is None:
        cuts = sorted(set(kdf.stat.approxQuantile(
            "_tsc_key", [i / n_groups for i in range(1, n_groups)],
            1.0 / (4.0 * max(n_groups, 1)))))
    else:
        cuts = sorted({float(c) for c in cut_points})
    grp = F.lit(0)
    for c in cuts:
        grp = grp + (F.col("_tsc_key") > F.lit(c)).cast("int")
    grp = F.when(F.col("_tsc_key").isNull(), F.lit(-1)).otherwise(grp)
    gdf = kdf.withColumn("_tsc_grp", grp)
    # Prefix offsets via a broadcast self-join over the n_groups-row totals
    # frame (strictly-earlier groups), NOT a window: even the tiny offsets
    # frame never plans a SinglePartition exchange, so the "no
    # single-partition anywhere" plan invariant is checkable verbatim.
    aggs = [F.sum(c).alias(f"_tot_{c}") for c in sum_cols]
    tots = gdf.groupBy("_tsc_grp").agg(*aggs)
    prior = tots.select(
        F.col("_tsc_grp").alias("_pg"),
        *[F.col(f"_tot_{c}").alias(f"_pt_{c}") for c in sum_cols],
    )
    offsets = (
        tots.join(F.broadcast(prior), F.col("_pg") < F.col("_tsc_grp"), "left")
        .groupBy("_tsc_grp", *[f"_tot_{c}" for c in sum_cols])
        .agg(*[
            F.coalesce(F.sum(f"_pt_{c}"), F.lit(0)).alias(f"_off_{c}")
            for c in sum_cols
        ])
        .drop(*[f"_tot_{c}" for c in sum_cols])
    )
    wloc = (Window.partitionBy("_tsc_grp")
            .orderBy(F.col("_tsc_key").asc_nulls_first())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = gdf.join(F.broadcast(offsets), "_tsc_grp")
    for c in sum_cols:
        out = out.withColumn(out_prefix + c, F.col(f"_off_{c}") + F.sum(c).over(wloc))
    return out.drop("_tsc_key", "_tsc_grp", *[f"_off_{c}" for c in sum_cols])


def small_frame_ranks(
    df: DataFrame,
    order_by: Sequence[tuple[str, str]],
    row_number_col: str | None = "rank",
    dense_rank_col: str | None = None,
    ntile_col: str | None = None,
    ntile_n: int = 4,
) -> DataFrame:
    """Window-free ranking for a SMALL, already-aggregated frame (a top-k
    slice, a per-brand rollup — O(k) rows) via one broadcast self-join:
    each row's rank is 1 + the number of rows strictly before it in the
    ``order_by`` lexicographic order; dense_rank counts DISTINCT earlier
    order keys; ntile is the SQL-standard ``floor((rn-1)*n/N)+1``.

    Why not ``Window.orderBy(...)``: an unpartitioned window plans
    ``WindowExec: No Partition Defined`` + a SinglePartition exchange even
    over a 25-row frame — harmless here, but it makes the "no
    single-partition window anywhere" plan invariant un-assertable and the
    JVM warning un-greppable as a regression signal. The broadcast
    self-join keeps every plan clean so any future WindowExec warning IS a
    scale bug (VERDICT r6 #2).

    Requirements: rows are unique (the frame is post-aggregation) and, for
    ``row_number_col``, the ``order_by`` key is a total order (add a
    tie-break column); ``order_by`` values must be non-null.

    ``order_by`` is ``[(col, "asc"|"desc"), ...]``. Output keeps all input
    columns plus the requested rank columns (ints)."""
    cols = [c for c, _ in order_by]
    right = df.select(*[F.col(c).alias(f"_sfr_{c}") for c in cols])

    def before(l_pre: list, rc: str, lc: str, direction: str):
        cmp = (F.col(rc) > F.col(lc)) if direction == "desc" else (F.col(rc) < F.col(lc))
        for p_rc, p_lc in l_pre:
            cmp = cmp & (F.col(p_rc) == F.col(p_lc))
        return cmp

    strictly_before = F.lit(False)
    prefix: list = []
    for c, direction in order_by:
        strictly_before = strictly_before | before(prefix, f"_sfr_{c}", c, direction)
        prefix.append((f"_sfr_{c}", c))

    joined = df.crossJoin(F.broadcast(right))
    aggs = [F.count(F.lit(1)).alias("_sfr_n")]
    if row_number_col or ntile_col:
        aggs.append(
            (F.sum(strictly_before.cast("long")) + 1).cast("int").alias("_sfr_rn")
        )
    if dense_rank_col:
        key = F.when(strictly_before, F.struct(*[F.col(f"_sfr_{c}") for c in cols]))
        aggs.append((F.count_distinct(key) + 1).cast("int").alias("_sfr_dr"))
    out = joined.groupBy(*df.columns).agg(*aggs)
    if row_number_col:
        out = out.withColumn(row_number_col, F.col("_sfr_rn"))
    if dense_rank_col:
        out = out.withColumn(dense_rank_col, F.col("_sfr_dr"))
    if ntile_col:
        out = out.withColumn(
            ntile_col,
            (F.floor((F.col("_sfr_rn") - 1) * ntile_n / F.col("_sfr_n")) + 1).cast("int"),
        )
    return out.drop("_sfr_n", "_sfr_rn", "_sfr_dr")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-mitigating equi-join: the big side gets a salt in [0, salt),
    the small side is replicated ``salt`` times, and the join runs on
    (key, salt) — a hot key's rows spread across ``salt`` reducers instead
    of one.

    The salt is DETERMINISTIC — ``pmod(xxhash64(all big columns, seed),
    salt)`` — never ``F.rand``: a non-deterministic expression feeding a
    shuffle means a recomputed partition (fetch failure, speculative task,
    AQE replan) can re-salt rows differently from the already-shuffled
    small side, losing or duplicating rows on partial retries. Hashing row
    content reproduces identical shuffle output on any recompute; fully
    identical rows share a salt, which only matters if a hot key's rows are
    all byte-identical (then they carry no spreadable entropy anyway).

    Result is identical to ``big.join(small, on, how)``. Use when AQE's
    skew-join splitting isn't available/enough (SURVEY §4: the reference's
    ratings are long-tail skewed by both user and game). Inner/left joins
    only — the salt must not fabricate unmatched small-side rows."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    row_hash = F.xxhash64(*[F.col(c) for c in big.columns], F.lit(seed))
    salted_big = big.withColumn("_salt", F.pmod(row_hash, F.lit(salt)).cast("int"))
    salts = big.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
    salted_small = small.crossJoin(salts)
    out = salted_big.join(salted_small, [on, "_salt"], how)
    return out.drop("_salt")


def pivot_sum(
    df: DataFrame,
    group_by: str,
    pivot_col: str,
    value_col: str,
    pivot_values: Sequence[str] | None = None,
) -> DataFrame:
    """Engine extension — pivot with explicit value list (avoids the extra
    distinct-values job and keeps output schema deterministic)."""
    g = df.groupBy(group_by).pivot(pivot_col, list(pivot_values) if pivot_values else None)
    return g.agg(F.sum(value_col))


def cooccurrence_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Item-to-item co-occurrence recommender ("customers who bought X also
    bought Y") — the non-ML sibling of the ALS flagship: distinct
    (basket, item) pairs self-joined within a basket, pair counts, then
    per-item top-k neighbours by (count DESC, neighbour ASC).

    Scale shape: the self-join shuffles both sides on ``basket_col`` and
    emits C(lines, 2) pairs per basket — bounded per basket (a retail order
    has a handful of lines), so output is LINEAR in basket count. The
    pair-count groupBy combines map-side; the final top-k windows over the
    pair-count table (items² upper bound, item-degree bound in practice),
    never the fact table. A degenerate mega-basket (one basket containing
    half the catalog) should be dropped beforehand — it alone contributes
    quadratically."""
    from pyspark.sql import Window

    bi = df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")).distinct()
    a, b = bi.alias("a"), bi.alias("b")
    pairs = (
        a.join(b, (F.col("a._b") == F.col("b._b")) & (F.col("a._i") < F.col("b._i")))
        .groupBy(F.col("a._i").alias("item"), F.col("b._i").alias("other"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    # Symmetrize by EXPLODING each pair into both directions, not
    # pairs.union(pairs.swapped): a self-referenced DataFrame re-executes
    # its whole subtree (the basket self-join would run twice).
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("item"), F.col("other")),
                F.struct(F.col("other").alias("item"), F.col("item").alias("other")),
            )
        ).alias("_p"),
        "n_baskets",
    ).select(F.col("_p.item").alias("item"), F.col("_p.other").alias("other"), "n_baskets")
    w = Window.partitionBy("item").orderBy(F.col("n_baskets").desc(), F.col("other").asc())
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("item", "other", "n_baskets", "rank")
    )


def key_skew_audit(
    df: DataFrame,
    key_col: str,
    top: int = 20,
    skew_factor: float = 4.0,
) -> DataFrame:
    """Join-key skew diagnostic to run BEFORE a big shuffle join: per-key
    row counts, each key's share of the table, and a ``skewed`` flag for
    keys holding more than ``skew_factor`` × the mean per-key count.
    Feed flagged keys to ``salted_join`` (or let AQE skew-split handle
    them) instead of discovering the straggler task at hour three.

    One map-side-combining groupBy on the key (the same shuffle the join
    would do, but carrying ONLY (key, count)); the stats side is a 2-number
    aggregate broadcast back; top-N returns via TakeOrdered."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").alias("_total"), F.avg("n_rows").alias("_mean")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            (F.col("n_rows") > F.lit(skew_factor) * F.col("_mean")).alias("skewed"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top)
    )


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """Exact φ-heavy-hitters: values occurring in MORE than n/k rows
    (φ = 1/k), with count and share. Misra–Gries/count-min give the same
    set approximately in one pass at unbounded cardinality; this exact
    form is a partial-aggregating groupBy (shuffle carries one row per
    distinct value) + a broadcast of the scalar total — right whenever
    the distinct-value count is far below the row count, which is the
    heavy-hitter regime by definition. The n/k threshold guarantees at
    most k−1 output rows regardless of input size.
    """
    total = df.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    counts = df.groupBy(F.col(col)).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .select(
            col,
            "cnt",
            F.round(F.col("cnt") / F.col("_n"), 6).alias("share"),
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_baskets: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Two-item association rules from (basket, item) rows:
    antecedent → consequent with support, confidence, and lift.

        support(a→b)   = |baskets with a and b| / |baskets|
        confidence     = support(a,b) / support(a)
        lift           = confidence / support(b)

    Pair generation is the per-basket self-join (bounded by basket size,
    linear in baskets — the same shape as ``cooccurrence_topk``), item and
    basket totals are one aggregate each and broadcast back; rules below
    ``min_pair_baskets`` co-occurrences are cut BEFORE the stats joins.
    Both rule directions are emitted (confidence is asymmetric).
    """
    b = F.col(basket_col)
    items = baskets.select(b.alias("_b"), F.col(item_col).alias("_i")).distinct()
    n_baskets = items.select("_b").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_nb")
    )
    item_counts = items.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_ic"))

    a = items.select(F.col("_b"), F.col("_i").alias("antecedent"))
    c = items.select(F.col("_b"), F.col("_i").alias("consequent"))
    pairs = (
        a.join(c, "_b")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_baskets"))
        .filter(F.col("pair_baskets") >= min_pair_baskets)
    )
    ia = item_counts.select(F.col("_i").alias("antecedent"), F.col("_ic").alias("_ca"))
    ic = item_counts.select(F.col("_i").alias("consequent"), F.col("_ic").alias("_cc"))
    return (
        pairs.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "pair_baskets",
            F.round(F.col("pair_baskets") / F.col("_nb"), round_to).alias("support"),
            F.round(F.col("pair_baskets") / F.col("_ca"), round_to).alias("confidence"),
            F.round(
                (F.col("pair_baskets") / F.col("_ca")) / (F.col("_cc") / F.col("_nb")),
                round_to,
            ).alias("lift"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher) of N ranked lists:

        rrf(d) = Σ_lists 1 / (k0 + rank_list(d))

    THE standard hybrid-retrieval combiner — lexical BM25 and embedding
    ANN rankings disagree wildly on scores but agree on ranks, and RRF
    fuses them without any score calibration. Each input is an
    already-ranked candidate list ``(id_col, rank_col)`` (top-k slices —
    O(k) rows each, tiny by construction no matter the corpus size).

    Scale shape: union of contributions → ONE map-side-combined groupBy on
    the id — no join web, no window, no broadcast ceiling; cost is
    O(N·k), independent of corpus size. With ≤2 lists the double sum is
    order-exact (IEEE a+b == b+a); for larger N the per-list contributions
    are rounded only after the sum, and ties are for the CALLER to break
    (sort on (rrf_score desc, id)).

    Returns (id_col, rrf_score, n_lists) — n_lists = how many input lists
    contained the id (fusion-coverage diagnostic).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double"))).alias(
                "_rrf_c"
            ),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    return u.groupBy(id_col).agg(
        F.round(F.sum("_rrf_c"), round_to).alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
