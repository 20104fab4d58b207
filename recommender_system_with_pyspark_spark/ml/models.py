"""Model zoo + tuning/eval harness (SURVEY §2.8 M9-M21, §7 M4).

The reference's six model functions (`bgrfunctions.py:179-366`) share one
skeleton: randomSplit → train-validation split over a 2×2 grid → evaluate →
save. :func:`tuned_fit` is that skeleton, written once; each model
function only builds its estimator, grid and evaluators. Differences from
the reference are deliberate and documented:

- ``randomSplit`` is ALWAYS seeded (reference M9 quirk: unseeded splits make
  golden outputs non-reproducible).
- ``BinaryClassificationEvaluator`` uses the true ``rawPrediction`` column.
  The reference feeds hard 0/1 predictions (`bgrfunctions.py:250,282`),
  which pins areaUnderROC ≈ 0.5 (`risultati.txt:68,105`); compat mode
  reproduces that quirk for parity testing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Estimator, Model
from pyspark.sql import DataFrame


@dataclass
class FitResult:
    """A fitted model with its held-out metrics.

    ``predictions`` are the scored test rows, lazy: reading them after
    :func:`tuned_fit` returns recomputes the split and the transform.

    ``id_maps`` holds the ``dense_id_compaction`` maps of an ALS fit, one
    per id column (``None`` where the ids already fit int32); pass them to
    :func:`recommend_for_all_users` to get the caller's ids back.
    Compacted maps stay cached until the caller passes them to
    ``operators.relational.release_compaction_maps``."""

    model: Model
    metrics: dict[str, float]
    best_params: dict[str, object] = field(default_factory=dict)
    predictions: DataFrame | None = None
    id_maps: dict = field(default_factory=dict)


GRID_PARALLELISM = 4
"""Grid points fitted at once by :func:`tuned_fit`; :func:`als_prediction`
divides the session's cores by the same number to size the grid fits'
ALS blocks. Measured on 4 cores (perfbench's als_grid corpus, one warm
process): 4 and 2 run the grid in 7.3–9.4 s, 1 in 10.3–12.5 s."""


def tuned_fit(estimator: Estimator, df: DataFrame, grid, evaluators: dict, seed: int,
              grid_params: dict | None = None) -> FitResult:
    """M9 + M17/M18 — seeded 80/20 split → a train-validation grid search
    (trainRatio=0.8, `bgrfunctions.py:191`) over ``grid`` → refit of the
    picked point on the train split → every evaluator on the held-out
    predictions.

    ``evaluators`` is an ordered ``{metric name: evaluator}``: the first
    one selects the grid point, and the dict order is the order of
    ``FitResult.metrics``. ``best_params`` is the chosen grid point by
    param name. A one-point grid is fitted on the train split directly.

    The grid search is PySpark's ``TrainValidationSplit`` written out (the
    same inner split, evaluation, pick and refit) with one addition:
    ``grid_params`` apply to the grid-phase fits only, never to the refit,
    so they can move the scores but not the model fitted for a given
    pick. Up to :data:`GRID_PARALLELISM` grid points fit at once
    (the reference fits serially), so a caller can give each of them its
    share of the cores; their jobs run in the caller's job group.

    An uncached input is cached for the call and released before it
    returns, so it is read once: the grid search's own split, the refit and
    every metric read the cache, and both splits come from the same rows in
    the same partitions. A caller's cache is used as it is and left alone.
    The predictions are not cached: a cached plan skips AQE's final-stage
    coalescing, which would change the order of the metric sums."""
    from pyspark import StorageLevel

    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.cache()
    try:
        train, test = df.randomSplit([0.8, 0.2], seed=seed)
        point = grid[0]
        if len(grid) > 1:
            point = _grid_search(estimator, train, grid, next(iter(evaluators.values())), seed,
                                 grid_params or {})
        best = estimator.fit(train, point)
        pred = best.transform(test)
        metrics = {name: ev.evaluate(pred) for name, ev in evaluators.items()}
    finally:
        if owned:
            df.unpersist()
    return FitResult(
        model=best,
        metrics=metrics,
        best_params={param.name: value for param, value in point.items()},
        predictions=pred,
    )


def _grid_search(estimator: Estimator, train: DataFrame, grid, select, seed: int,
                 grid_params: dict) -> dict:
    """The pick of MLlib's ``TrainValidationSplit`` at ``trainRatio=0.8``
    and ``seed`` over ``train``, with ``grid_params`` added to every grid
    fit: rows with ``rand(seed) >= 0.8`` are the validation part, both
    parts are cached for the search, each point is fitted on the rest and
    scored by ``select``, and the first best score wins."""
    from multiprocessing.pool import ThreadPool

    import numpy as np
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from pyspark.util import inheritable_thread_target

    split = train.select("*", F.rand(seed).alias("_grid_rand"))
    held_out = split["_grid_rand"] >= 0.8
    parts = split.filter(~held_out), split.filter(held_out)
    for part in parts:
        part.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    try:
        fit_part, validation = parts
        models = estimator.fitMultiple(fit_part, [{**point, **grid_params} for point in grid])

        # captures the caller's job group here; each pool thread applies it
        @inheritable_thread_target(train.sparkSession)
        def fit_next(_):
            i, model = next(models)
            return i, select.evaluate(model.transform(validation, grid[i]))

        scores = [0.0] * len(grid)
        with ThreadPool(min(GRID_PARALLELISM, len(grid))) as pool:
            for i, score in pool.imap_unordered(fit_next, range(len(grid))):
                scores[i] = score
    finally:
        for part in parts:
            part.unpersist()
    pick = np.argmax if select.isLargerBetter() else np.argmin
    return grid[int(pick(scores))]


def _grid(*axes) -> list:
    """ParamGridBuilder over ``(param, values)`` pairs, in the given order."""
    from pyspark.ml.tuning import ParamGridBuilder

    builder = ParamGridBuilder()
    for param, values in axes:
        builder.addGrid(param, list(values))
    return builder.build()


def _regression_evaluators(label_col: str) -> dict:
    from pyspark.ml.evaluation import RegressionEvaluator

    return {
        m: RegressionEvaluator(metricName=m, labelCol=label_col, predictionCol="prediction")
        for m in ("rmse", "r2")
    }


def _classification_evaluators(label_col: str, compat_hard_roc: bool) -> dict:
    from pyspark.ml.evaluation import BinaryClassificationEvaluator, MulticlassClassificationEvaluator

    return {
        "accuracy": MulticlassClassificationEvaluator(
            metricName="accuracy", labelCol=label_col, predictionCol="prediction"
        ),
        # numBins=0: the exact curve. Binned, it is downsampled per partition,
        # so the AUC would move with the predictions' partitioning
        "areaUnderROC": BinaryClassificationEvaluator(
            labelCol=label_col, numBins=0,
            # reference quirk M21: rawPredictionCol='prediction' → ROC ≈ 0.5
            rawPredictionCol="prediction" if compat_hard_roc else "rawPrediction",
        ),
    }


def als_estimator(spark, **params):
    """The package's one ALS constructor: ``coldStartStrategy="drop"``
    (`bgrfunctions.py:182`) and one user block and one item block per
    session core (``defaultParallelism``: the local core count, or the
    total executor cores on a cluster) in place of MLlib's fixed 10, plus
    ``params``.

    ALS ships each factor to every block on the other side that holds one
    of its ratings; under a popularity head that is nearly every block, so
    shuffle and serialization grow with the block count, and 10-task
    stages run in three waves on 4 cores. Seeded factors are
    bit-reproducible for a fixed block count but differ across block
    counts (the block layout seeds the factor init). Fits that share the
    cores with others pass smaller counts per fit, as
    :func:`als_prediction`'s grid fits do."""
    from pyspark.ml.recommendation import ALS

    blocks = spark.sparkContext.defaultParallelism
    return ALS(
        coldStartStrategy="drop", numUserBlocks=blocks, numItemBlocks=blocks, **params
    )


def als_prediction(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
    ranks: tuple[int, ...] = (20, 30),
    reg_params: tuple[float, ...] = (0.1, 0.01),
    max_iter: int = 20,
    seed: int = 1,
    tune: bool = True,
) -> FitResult:
    """M10 — ALS with the reference's grid (`bgrfunctions.py:179-201`):
    rank∈{20,30} × regParam∈{0.1,0.01}, coldStartStrategy='drop', seed=1,
    selected by RMSE on a seeded 80/20 split. ``tune=False`` fits the
    grid's first point (``ranks[0]``, ``reg_params[0]``) alone.

    Scale: every ALS iteration shuffles user/item factor blocks, and ALS
    partitions by its own block counts, not by
    ``spark.sql.shuffle.partitions``. :func:`als_estimator` sizes them to
    the session's cores (one wave of tasks, fewest factor copies) for the
    refit and ``tune=False``. The grid fits run :data:`GRID_PARALLELISM`
    at a time, so each gets ``cores // min(GRID_PARALLELISM, len(grid))``
    blocks (at least 1): together they still fill the cores in one wave.
    The grid fits' validation RMSEs depend on that layout; the returned
    model does not, it is the same full-width refit of the picked point.
    Rank is the other lever. checkpointInterval=10 truncates the
    20-iteration lineage."""
    # checkpointInterval is a silent no-op without a checkpoint dir, and at
    # maxIter=20 the factor RDD lineage is deep enough to StackOverflow task
    # serialization (hit at 2M rows already). Set one if the session has
    # none — on a real cluster this should point at durable shared storage.
    sc = ratings.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark-als-ckpt-"))

    # int32 id ceiling (SCALING.md round 7): MLlib ALS casts user/item ids
    # to int — long surrogate keys CAST_OVERFLOW. Compact dense when needed;
    # exact passthrough (same object, so split/hashes unchanged) otherwise.
    from ..operators.relational import dense_id_compaction, restore_ids

    ratings, id_maps = dense_id_compaction(ratings, [user_col, item_col])
    als = als_estimator(
        ratings.sparkSession, userCol=user_col, itemCol=item_col, ratingCol=rating_col,
        maxIter=max_iter, seed=seed, checkpointInterval=10,
    )
    grid = _grid((als.rank, ranks), (als.regParam, reg_params))
    if not tune:
        grid = grid[:1]
    share = max(1, als.getNumUserBlocks() // min(GRID_PARALLELISM, len(grid)))
    res = tuned_fit(als, ratings, grid, _regression_evaluators(rating_col), seed,
                    grid_params={als.numUserBlocks: share, als.numItemBlocks: share})
    # translate model output back to the caller's original (long) ids —
    # restore_ids is a no-op in the passthrough case
    res.predictions = restore_ids(
        restore_ids(res.predictions, user_col, id_maps[user_col]), item_col, id_maps[item_col]
    )
    res.id_maps = id_maps
    return res


def fm_regressor(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    step_sizes: tuple[float, ...] = (0.1, 0.01),
    factor_sizes: tuple[int, ...] = (1, 2),
    seed: int = 1,
) -> FitResult:
    """M12 — FMRegressor, grid stepSize×factorSize (`bgrfunctions.py:204-236`)."""
    from pyspark.ml.regression import FMRegressor

    fm = FMRegressor(featuresCol=features_col, labelCol=label_col, seed=seed)
    grid = _grid((fm.stepSize, step_sizes), (fm.factorSize, factor_sizes))
    return tuned_fit(fm, df, grid, _regression_evaluators(label_col), seed)


def fm_classifier(df: DataFrame, features_col: str = "features", label_col: str = "label",
                  seed: int = 1, compat_hard_roc: bool = False) -> FitResult:
    """M13 — FMClassifier (`bgrfunctions.py:238-269`)."""
    from pyspark.ml.classification import FMClassifier

    fm = FMClassifier(featuresCol=features_col, labelCol=label_col, seed=seed)
    grid = _grid((fm.stepSize, [0.1, 0.01]), (fm.factorSize, [1, 2]))
    return tuned_fit(fm, df, grid, _classification_evaluators(label_col, compat_hard_roc), seed)


def logistic_regression(df: DataFrame, features_col: str = "features", label_col: str = "label",
                        seed: int = 1, compat_hard_roc: bool = False) -> FitResult:
    """M14 — LogisticRegression, grid regParam×maxIter
    (`bgrfunctions.py:271-303`)."""
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression(featuresCol=features_col, labelCol=label_col)
    grid = _grid((lr.regParam, [0.1, 0.01]), (lr.maxIter, [50, 100]))
    return tuned_fit(lr, df, grid, _classification_evaluators(label_col, compat_hard_roc), seed)


def decision_tree(df: DataFrame, features_col: str = "features", label_col: str = "label",
                  seed: int = 1, compat_hard_roc: bool = False,
                  min_info_gains: tuple[float, ...] = (0.0, 0.01),
                  max_bins: int | None = None) -> FitResult:
    """M15 — DecisionTreeClassifier (`bgrfunctions.py:306-334`).

    NB the reference's grid uses minInfoGain∈{20,30} — info gain is ≤ 1, so
    those thresholds forbid every split and the tree degenerates
    (ROC≈0.5, PDF p.32). Default grid here is sane; pass (20, 30) for
    parity-with-the-bug experiments.

    ``max_bins``: Spark's default 32 candidate bins per continuous feature
    are pure overhead on BINARY (one-hot) features — the only candidate
    threshold is between 0 and 1, so ``max_bins=2`` shrinks every node's
    DTStatsAggregator 16× with an identical fitted model. Measured at
    reference scale (REFSCALE.md): −33% on the 30-tree forest (stats
    allocation/merge dominates there), ~no change for a single tree
    (dominated by MLlib's dense per-row binned conversion, which is
    rows × dims regardless of bins)."""
    from pyspark.ml.classification import DecisionTreeClassifier

    dt = DecisionTreeClassifier(featuresCol=features_col, labelCol=label_col, seed=seed)
    if max_bins is not None:
        dt.setMaxBins(max_bins)
    grid = _grid((dt.maxDepth, [5, 10]), (dt.minInfoGain, min_info_gains))
    return tuned_fit(dt, df, grid, _classification_evaluators(label_col, compat_hard_roc), seed)


def random_forest(df: DataFrame, features_col: str = "features", label_col: str = "label",
                  seed: int = 1, compat_hard_roc: bool = False,
                  num_trees: int = 30,
                  min_info_gains: tuple[float, ...] = (0.0, 0.01),
                  max_bins: int | None = None) -> FitResult:
    """M16 — RandomForestClassifier, numTrees=30 (`bgrfunctions.py:337-366`).

    As with :func:`decision_tree`, the reference's grid uses
    minInfoGain∈{20,30} (`bgrfunctions.py:347`) — impossible thresholds
    that forbid every split. Default grid here is sane; pass (20, 30) for
    parity-with-the-bug experiments."""
    from pyspark.ml.classification import RandomForestClassifier

    rf = RandomForestClassifier(
        featuresCol=features_col, labelCol=label_col, seed=seed, numTrees=num_trees
    )
    if max_bins is not None:
        rf.setMaxBins(max_bins)
    grid = _grid((rf.maxDepth, [5, 10]), (rf.minInfoGain, min_info_gains))
    return tuned_fit(rf, df, grid, _classification_evaluators(label_col, compat_hard_roc), seed)


def recommend_for_all_users(model, k: int = 10, id_maps: dict | None = None) -> DataFrame:
    """M11 — per-user top-k (`als.py:44`), exploded to rows with rank.

    ``id_maps`` (``FitResult.id_maps``) translates the compacted user and
    item indexes back to the caller's ids; without it, or in the
    passthrough case, the model's ids are returned as they are."""
    from pyspark.sql import functions as F

    from ..operators.relational import restore_ids

    user_col, item_col = model.getUserCol(), model.getItemCol()
    maps = id_maps or {}
    recs = model.recommendForAllUsers(k).select(
        user_col, F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        user_col,
        F.col(f"rec.{item_col}").alias(item_col),
        F.col("rec.rating").alias("score"),
        (F.col("pos") + 1).alias("rank"),
    )
    for c in (user_col, item_col):
        recs = restore_ids(recs, c, maps.get(c))
    return recs


def build_als_ann_index(
    model, path: str, n_cells: int = 64, seed: int = 1, max_iter: int = 5
) -> list[list[float]]:
    """Index an ALS model's ITEM factors for ANN serving — the fit-once
    half of the scale path for M11 (`als.py:44` recommendForAllUsers):
    the sf100 probe priced the exact users×items GEMM at ≈145.6 h, and
    per-user cost there is linear in the 20M-item catalog. MIPS→cosine
    reduction (operators.similarity.mips_augment_items) + the standard
    partitioned IVF build; every probe then touches ~n_probe/n_cells of
    the catalog. Returns the coarse centroids (pass to
    :func:`recommend_topk_ann` to skip the sidecar read)."""
    from ..operators import similarity as S

    items = model.itemFactors
    m_norm = S.mips_max_norm(items, "features")
    items_aug = S.mips_augment_items(items, m_norm, "features")
    return S.write_ivf_index(
        items_aug, path, id_col="id", vec_col="features",
        n_cells=n_cells, seed=seed, max_iter=max_iter,
    )


def recommend_topk_ann(
    spark,
    model,
    path: str,
    k: int = 10,
    n_probe: int = 8,
    users: DataFrame | None = None,
    centers: "list[list[float]] | None" = None,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """ANN twin of :func:`recommend_for_all_users` against an index built
    by :func:`build_als_ann_index`: per-user top-k by INNER PRODUCT,
    served as a partition-pruned GEMM probe instead of the full
    users×items factor GEMM. Output shape matches the exact path:
    (user_id-as-`id`, item id as ``neighbor_id``, ``score``, ``rank``),
    where ``score`` recovers the dot product from the probe's cosine
    (score = sim·‖u‖·M; M — the augmented items' shared norm — is read
    off any one indexed vector, so no extra metadata sidecar). The 6dp
    rounding of the probe sim bounds the score error at ~1e-6·‖u‖·M.

    User batches beyond ``max_broadcast_rows`` raise (the anchor matrix
    broadcasts): shard the user-factor frame and call per shard — each
    shard probes only its own cells, so sharding composes with the
    partition pruning. Recall is n_probe-bounded; measure it with the
    ``als_recommend_ann`` registry entry's protocol before trusting a
    setting (at n_probe = n_cells the output equals the exact top-k up
    to 6dp score ties)."""
    from pyspark.sql import functions as F

    from ..operators import similarity as S
    from ..operators.similarity import _norm

    uf = users if users is not None else model.userFactors
    q = S.mips_augment_queries(uf, "features")
    res = S.hard_negatives_indexed(
        spark, path, q, centers=centers, id_col="id", vec_col="features",
        pos_col=None, k=k, n_probe=n_probe, exclude_self=False,
        max_broadcast_rows=max_broadcast_rows,
    )
    # the index layout always stores the vector column as "embedding"
    # (write_ivf_index normalizes the name); every augmented item has
    # norm exactly M, so one row recovers the reduction constant
    m_row = spark.read.parquet(path).select("embedding").first()
    m_norm = float(sum(x * x for x in m_row["embedding"])) ** 0.5
    unorm = uf.select(
        F.col("id").alias("query_id"),
        _norm(F.col("features").cast("array<double>")).alias("_un"),
    )
    return (
        res.join(unorm, "query_id")
        .select(
            F.col("query_id").alias("id"),
            "neighbor_id",
            F.round(F.col("sim") * F.col("_un") * F.lit(m_norm), 4).alias("score"),
            "rank",
        )
    )


def metrics_report(results: dict[str, FitResult]) -> DataFrame:
    """PDF p.32 Table 7 shape: one row per model with its metrics."""
    import pandas as pd
    from pyspark.sql import SparkSession

    rows = []
    for name, res in results.items():
        row: dict[str, object] = {"model": name}
        row.update({k: round(v, 4) for k, v in res.metrics.items()})
        rows.append(row)
    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(pd.DataFrame(rows))
