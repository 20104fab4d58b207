"""Model zoo + tuning/eval harness (SURVEY §2.8 M9-M21, §7 M4).

The reference's six model functions (`bgrfunctions.py:179-366`) share one
skeleton: randomSplit → TrainValidationSplit over a 2×2 grid → evaluate →
save. Re-expressed once, parameterized by estimator; differences from the
reference are deliberate and documented:

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
    model: Model
    metrics: dict[str, float]
    best_params: dict[str, object] = field(default_factory=dict)
    predictions: DataFrame | None = None


def _tvs(estimator: Estimator, evaluator, grid, seed: int, parallelism: int = 4):
    """M17 — TrainValidationSplit, trainRatio=0.8 (`bgrfunctions.py:191`).
    Grid fits run in parallel (the reference fits serially)."""
    from pyspark.ml.tuning import TrainValidationSplit

    return TrainValidationSplit(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        trainRatio=0.8,
        seed=seed,
        parallelism=parallelism,
    )


def _cv(estimator: Estimator, evaluator, grid, seed: int, num_folds: int = 3, parallelism: int = 4):
    """CrossValidator — imported but unused by the reference
    (`bgrfunctions.py:7`); exposed as the better-variance alternative."""
    from pyspark.ml.tuning import CrossValidator

    return CrossValidator(
        estimator=estimator,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=seed,
        parallelism=parallelism,
    )


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
    bit-reproducible for a fixed core count but differ across core counts
    (the block layout seeds the factor init)."""
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
    selected by RMSE on a seeded 80/20 split.

    Scale: every ALS iteration shuffles user/item factor blocks, and ALS
    partitions by its own block counts, not by
    ``spark.sql.shuffle.partitions``. :func:`als_estimator` sizes them to
    the session's cores (one wave of tasks, fewest factor copies), which
    serves the TVS grid fits, the refit and ``tune=False`` alike; rank is
    the other lever. checkpointInterval=10 truncates the 20-iteration
    lineage."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import ParamGridBuilder

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

    ratings, _idmaps = dense_id_compaction(ratings, [user_col, item_col])

    train, test = ratings.randomSplit([0.8, 0.2], seed=seed)
    als = als_estimator(
        ratings.sparkSession, userCol=user_col, itemCol=item_col, ratingCol=rating_col,
        maxIter=max_iter, seed=seed, checkpointInterval=10,
    )
    rmse_eval = RegressionEvaluator(metricName="rmse", labelCol=rating_col, predictionCol="prediction")
    r2_eval = RegressionEvaluator(metricName="r2", labelCol=rating_col, predictionCol="prediction")
    if tune:
        grid = (
            ParamGridBuilder()
            .addGrid(als.rank, list(ranks))
            .addGrid(als.regParam, list(reg_params))
            .build()
        )
        best = _tvs(als, rmse_eval, grid, seed).fit(train).bestModel
    else:
        best = als.setRank(ranks[0]).setRegParam(reg_params[0]).fit(train)
    pred = best.transform(test)
    # translate model output back to the caller's original (long) ids —
    # restore_ids is a no-op in the passthrough case
    pred = restore_ids(
        restore_ids(pred, user_col, _idmaps[user_col]), item_col, _idmaps[item_col]
    )
    return FitResult(
        model=best,
        metrics={"rmse": rmse_eval.evaluate(pred), "r2": r2_eval.evaluate(pred)},
        best_params={"rank": best.rank, "regParam": best._java_obj.parent().getRegParam() if tune else reg_params[0]},
        predictions=pred,
    )


def _classification_fit(
    estimator,
    df: DataFrame,
    grid,
    label_col: str,
    seed: int,
    compat_hard_roc: bool = False,
) -> FitResult:
    """Shared classifier skeleton (`bgrfunctions.py:238-366`): seeded split →
    TVS(accuracy) → accuracy + areaUnderROC on the held-out test."""
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    acc_eval = MulticlassClassificationEvaluator(
        metricName="accuracy", labelCol=label_col, predictionCol="prediction"
    )
    roc_eval = BinaryClassificationEvaluator(
        labelCol=label_col,
        # reference quirk M21: rawPredictionCol='prediction' → ROC ≈ 0.5
        rawPredictionCol="prediction" if compat_hard_roc else "rawPrediction",
    )
    best = _tvs(estimator, acc_eval, grid, seed).fit(train).bestModel
    pred = best.transform(test)
    return FitResult(
        model=best,
        metrics={"accuracy": acc_eval.evaluate(pred), "areaUnderROC": roc_eval.evaluate(pred)},
        predictions=pred,
    )


def fm_regressor(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    step_sizes: tuple[float, ...] = (0.1, 0.01),
    factor_sizes: tuple[int, ...] = (1, 2),
    seed: int = 1,
) -> FitResult:
    """M12 — FMRegressor, grid stepSize×factorSize (`bgrfunctions.py:204-236`)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.regression import FMRegressor
    from pyspark.ml.tuning import ParamGridBuilder

    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    fm = FMRegressor(featuresCol=features_col, labelCol=label_col, seed=seed)
    rmse_eval = RegressionEvaluator(metricName="rmse", labelCol=label_col, predictionCol="prediction")
    r2_eval = RegressionEvaluator(metricName="r2", labelCol=label_col, predictionCol="prediction")
    grid = (
        ParamGridBuilder()
        .addGrid(fm.stepSize, list(step_sizes))
        .addGrid(fm.factorSize, list(factor_sizes))
        .build()
    )
    best = _tvs(fm, rmse_eval, grid, seed).fit(train).bestModel
    pred = best.transform(test)
    return FitResult(
        model=best,
        metrics={"rmse": rmse_eval.evaluate(pred), "r2": r2_eval.evaluate(pred)},
        predictions=pred,
    )


def fm_classifier(df: DataFrame, features_col: str = "features", label_col: str = "label",
                  seed: int = 1, compat_hard_roc: bool = False) -> FitResult:
    """M13 — FMClassifier (`bgrfunctions.py:238-269`)."""
    from pyspark.ml.classification import FMClassifier
    from pyspark.ml.tuning import ParamGridBuilder

    fm = FMClassifier(featuresCol=features_col, labelCol=label_col, seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(fm.stepSize, [0.1, 0.01])
        .addGrid(fm.factorSize, [1, 2])
        .build()
    )
    return _classification_fit(fm, df, grid, label_col, seed, compat_hard_roc)


def logistic_regression(df: DataFrame, features_col: str = "features", label_col: str = "label",
                        seed: int = 1, compat_hard_roc: bool = False) -> FitResult:
    """M14 — LogisticRegression, grid regParam×maxIter
    (`bgrfunctions.py:271-303`)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.tuning import ParamGridBuilder

    lr = LogisticRegression(featuresCol=features_col, labelCol=label_col)
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.1, 0.01])
        .addGrid(lr.maxIter, [50, 100])
        .build()
    )
    return _classification_fit(lr, df, grid, label_col, seed, compat_hard_roc)


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
    from pyspark.ml.tuning import ParamGridBuilder

    dt = DecisionTreeClassifier(featuresCol=features_col, labelCol=label_col, seed=seed)
    if max_bins is not None:
        dt.setMaxBins(max_bins)
    grid = (
        ParamGridBuilder()
        .addGrid(dt.maxDepth, [5, 10])
        .addGrid(dt.minInfoGain, list(min_info_gains))
        .build()
    )
    return _classification_fit(dt, df, grid, label_col, seed, compat_hard_roc)


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
    from pyspark.ml.tuning import ParamGridBuilder

    rf = RandomForestClassifier(
        featuresCol=features_col, labelCol=label_col, seed=seed, numTrees=num_trees
    )
    if max_bins is not None:
        rf.setMaxBins(max_bins)
    grid = (
        ParamGridBuilder()
        .addGrid(rf.maxDepth, [5, 10])
        .addGrid(rf.minInfoGain, list(min_info_gains))
        .build()
    )
    return _classification_fit(rf, df, grid, label_col, seed, compat_hard_roc)


def recommend_for_all_users(model, k: int = 10) -> DataFrame:
    """M11 — per-user top-k (`als.py:44`), exploded to rows with rank."""
    from pyspark.sql import functions as F

    recs = model.recommendForAllUsers(k)
    item_field = model.getItemCol()
    return recs.select(
        model.getUserCol(),
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        model.getUserCol(),
        F.col(f"rec.{item_field}").alias(item_field),
        F.col("rec.rating").alias("score"),
        (F.col("pos") + 1).alias("rank"),
    )


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
