"""ML pipeline + model zoo tests (SURVEY §5 invariants at fixture scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.ml import features as FE
from recommender_system_with_pyspark_spark.ml import models as MD
from recommender_system_with_pyspark_spark.ml.stats import chi_square_test, correlation_matrix


@pytest.fixture(scope="module")
def labeled(spark):
    """Small numeric frame with a learnable binary label."""
    import random

    random.seed(7)
    rows = []
    for i in range(400):
        x = random.random()
        y = random.random()
        label = 1.0 if x + 0.3 * y > 0.6 else 0.0
        rows.append((i, x, y, ["u", "v", "w"][i % 3], label))
    return spark.createDataFrame(rows, "id int, x double, y double, cat string, label double")


@pytest.fixture(scope="module")
def assembled(labeled):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(labeled)


@pytest.fixture(scope="module")
def logreg(assembled):
    """The tuned logistic regression on ``assembled``, fitted once for the
    tests that only read it."""
    return MD.logistic_regression(assembled, seed=1)


def test_string_indexer_modal_is_zero(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.ml.features import encode_categorical_features

    cust = load_table(spark, sf_tiny, "customer")
    encoded, _ = encode_categorical_features(cust, ["c_mktsegment"])
    modal_seg = (
        cust.groupBy("c_mktsegment").count().orderBy(F.desc("count"), F.asc("c_mktsegment")).first()[0]
    )
    joined = encoded.join(cust.select("c_custkey", "c_mktsegment"), "c_custkey")
    zero_rows = joined.filter(F.col("c_mktsegment_indexed") == 0.0)
    assert zero_rows.select("c_mktsegment").distinct().first()[0] == modal_seg
    assert "c_mktsegment" not in encoded.columns


def test_feature_pipeline_scaled_bounds_and_scree(spark, labeled):
    pipe = FE.feature_pipeline(index_cols=["cat"], numeric_cols=["x", "y"], scale=True, pca_k=2)
    model = FE.fit_features(pipe, labeled)
    ev = FE.explained_variance(model)
    assert len(ev) == 2
    assert ev == sorted(ev, reverse=True)  # non-increasing
    assert sum(ev) <= 1.0 + 1e-9
    from pyspark.ml.functions import vector_to_array

    out = model.transform(labeled)
    scaled = out.select(vector_to_array("_scaled").alias("s"))
    bad = scaled.select(F.explode("s").alias("v")).filter((F.col("v") < -1e-9) | (F.col("v") > 1 + 1e-9))
    assert bad.count() == 0


def test_pca_loading_matrix_orthonormal_columns(spark, labeled):
    pipe = FE.feature_pipeline(index_cols=["cat"], numeric_cols=["x", "y"], scale=True, pca_k=2)
    model = FE.fit_features(pipe, labeled)
    pc = FE.principal_components(model)  # (n_features × k), columns orthonormal
    k = len(pc[0])
    assert k == 2
    for a in range(k):
        for b in range(k):
            dot = sum(row[a] * row[b] for row in pc)
            assert abs(dot - (1.0 if a == b else 0.0)) < 1e-6


def test_pca_dim_guard():
    pipe = FE.feature_pipeline(numeric_cols=[f"c{i}" for i in range(20_000)], pca_k=5)
    with pytest.raises(ValueError, match="ceiling"):
        FE.fit_features(pipe, None)


def test_logistic_regression_learns(logreg, assembled):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    assert list(logreg.metrics) == ["accuracy", "areaUnderROC"]
    assert logreg.metrics["accuracy"] > 0.85
    assert logreg.metrics["areaUnderROC"] > 0.85  # true rawPrediction ROC
    # best_params is the grid point that the TVS's own validation metrics pick
    lr = LogisticRegression()
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.1, 0.01]).addGrid(lr.maxIter, [50, 100]).build()
    train, _ = assembled.randomSplit([0.8, 0.2], seed=1)
    scores = TrainValidationSplit(
        estimator=lr, estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(metricName="accuracy"), trainRatio=0.8, seed=1,
    ).fit(train).validationMetrics
    picked = grid[scores.index(max(scores))]  # the first best, as np.argmax
    assert logreg.best_params == {p.name: v for p, v in picked.items()}


@pytest.mark.parametrize("fit", ["logistic_regression", "fm_regressor_one_point"])
def test_fit_reads_input_once_and_leaves_no_cache(spark, labeled, fit):
    """The skeleton caches an uncached input for the call, so the grid
    search, the refit and every metric read that copy, and it releases the
    copy."""
    from pyspark.ml.feature import VectorAssembler

    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def tick(x):
        reads.add(1)
        return x

    counted = VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(
        labeled.withColumn("x", F.udf(tick, "double")("x"))
    )
    persisted = len(sc._jsc.getPersistentRDDs())
    if fit == "logistic_regression":
        MD.logistic_regression(counted, seed=1)
    else:
        MD.fm_regressor(counted, step_sizes=(0.1,), factor_sizes=(1,))
    assert reads.value == labeled.count()
    assert len(sc._jsc.getPersistentRDDs()) == persisted


def test_compat_hard_roc_quirk(spark):
    # The reference feeds hard predictions to the ROC evaluator
    # (`bgrfunctions.py:250`). On imbalanced data (the BGG label is ~92%
    # positive — BASELINE.md) the classifier predicts the majority class
    # almost always → hard-prediction ROC pins to ~0.5 even though the
    # score-based ROC shows real ranking power (`risultati.txt:68,105`).
    import random

    from pyspark.ml.feature import VectorAssembler

    random.seed(11)
    rows = []
    for _ in range(800):
        x, y = random.random(), random.random()
        # ~90% positive; x carries a weak real signal
        label = 1.0 if random.random() < 0.8 + 0.19 * x else 0.0
        rows.append((x, y, label))
    df = VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(
        spark.createDataFrame(rows, "x double, y double, label double")
    )
    good = MD.logistic_regression(df, seed=1, compat_hard_roc=False)
    quirk = MD.logistic_regression(df, seed=1, compat_hard_roc=True)
    assert abs(quirk.metrics["areaUnderROC"] - 0.5) < 0.05  # pinned to chance
    assert good.metrics["areaUnderROC"] > quirk.metrics["areaUnderROC"] + 0.03
    assert quirk.metrics["accuracy"] > 0.85  # majority-rate accuracy, like the reference


def test_area_under_roc_is_exact_whatever_the_partitioning(spark):
    """The ROC is the exact curve (``numBins=0``): a binned one is
    downsampled per partition, so its AUC moved with the predictions'
    partitioning."""
    import random

    random.seed(3)
    rows = []
    for _ in range(5_000):
        score = random.random()
        rows.append((score, 1.0 if score + random.random() > 1.0 else 0.0))
    pred = spark.createDataFrame(rows, "rawPrediction double, label double")
    auc = MD._classification_evaluators("label", compat_hard_roc=False)["areaUnderROC"]
    three, seven = (auc.evaluate(pred.repartition(n)) for n in (3, 7))
    assert abs(three - seven) < 1e-12


def test_cross_validated_logreg_reports_the_cv_estimate(spark, sf_tiny, monkeypatch):
    """The row is the best grid point's mean held-out accuracy, not the
    best model's accuracy on the rows it was fitted on."""
    from pyspark.ml.tuning import CrossValidator

    from recommender_system_with_pyspark_spark.queries_composite import cross_validated_logreg

    fitted = []
    fit = CrossValidator._fit
    monkeypatch.setattr(CrossValidator, "_fit", lambda self, df: fitted.append(fit(self, df)) or fitted[-1])
    row = cross_validated_logreg(spark, sf_tiny).first()
    assert row["accuracy"] == round(max(fitted[0].avgMetrics), 4)


def test_decision_tree_and_forest(assembled):
    dt = MD.decision_tree(assembled, seed=1)
    rf = MD.random_forest(assembled, seed=1, num_trees=5)
    assert dt.metrics["accuracy"] > 0.8
    assert rf.metrics["accuracy"] > 0.8


def test_decision_tree_reference_grid_degenerates(assembled):
    # minInfoGain ∈ {20,30} (the reference grid) forbids every split →
    # majority-class stump → ROC ≈ 0.5 (PDF p.32 explanation, reproduced)
    res = MD.decision_tree(assembled, seed=1, min_info_gains=(20.0, 30.0))
    assert abs(res.metrics["areaUnderROC"] - 0.5) < 0.05


def test_fm_regressor_runs(assembled):
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.regression import FMRegressor
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    df = assembled.withColumnRenamed("label", "target")
    res = MD.fm_regressor(df, label_col="target", step_sizes=(0.1,), factor_sizes=(1,))
    assert res.metrics["rmse"] < 0.6
    assert res.best_params == {"stepSize": 0.1, "factorSize": 1}
    # the one-point grid is fitted directly: the same model, so the same
    # metrics, as a TrainValidationSplit over that point
    fm = FMRegressor(labelCol="target", seed=1)
    grid = ParamGridBuilder().addGrid(fm.stepSize, [0.1]).addGrid(fm.factorSize, [1]).build()
    train, test = df.randomSplit([0.8, 0.2], seed=1)
    ev = RegressionEvaluator(labelCol="target")
    best = TrainValidationSplit(
        estimator=fm, estimatorParamMaps=grid, evaluator=ev, trainRatio=0.8, seed=1
    ).fit(train).bestModel
    pred = best.transform(test)
    assert res.metrics == {m: ev.setMetricName(m).evaluate(pred) for m in ("rmse", "r2")}


def test_als_prediction_and_topk(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.flagship import implicit_ratings

    ratings = implicit_ratings(spark, sf_tiny)
    res = MD.als_prediction(ratings, ranks=(4,), reg_params=(0.1,), max_iter=5, tune=False)
    assert res.metrics["rmse"] < 2.0
    # both splits come from one cached copy, so a caller's cache changes nothing
    ratings.cache()
    try:
        again = MD.als_prediction(ratings, ranks=(4,), reg_params=(0.1,), max_iter=5, tune=False)
    finally:
        ratings.unpersist()
    assert again.metrics == res.metrics
    recs = MD.recommend_for_all_users(res.model, k=4)
    counts = recs.groupBy("user_id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [4]
    # scores non-increasing within each user
    w_bad = recs.alias("a").join(
        recs.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.rank") + 1 == F.col("b.rank")),
    ).filter(F.col("b.score") > F.col("a.score") + 1e-6)
    assert w_bad.count() == 0


def test_als_prediction_long_ids_recommend_input_ids(spark):
    """Ids past int32 are compacted for the fit; the recommendations come
    back in the caller's ids, never in the dense indexes."""
    from recommender_system_with_pyspark_spark.operators.relational import (
        release_compaction_maps,
    )

    big = 5_000_000_000
    users = {big + u for u in range(30)}
    items = {big * 2 + i for i in range(12)}
    rows = [
        (big + u, big * 2 + i, float((u * 7 + i * 3) % 5 + 1))
        for u in range(30) for i in range(12) if (u + i) % 3
    ]
    ratings = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    res = MD.als_prediction(ratings, ranks=(4,), reg_params=(0.1,), max_iter=3, tune=False)
    assert all(m is not None for m in res.id_maps.values())
    k = 3
    got = MD.recommend_for_all_users(res.model, k, res.id_maps).collect()
    release_compaction_maps(res.id_maps)
    assert len(got) == res.model.userFactors.count() * k
    assert {r["user_id"] for r in got} <= users
    assert {r["item_id"] for r in got} <= items


def test_als_blocks_sized_to_cores(spark, sf_tiny, monkeypatch):
    """Every ALS is built by ``als_estimator``: one user/item block per
    session core when fitted alone or as the tuned refit. The grid fits run
    ``GRID_PARALLELISM`` at a time, so each gets its share of the cores."""
    from pyspark.ml.recommendation import ALS

    from recommender_system_with_pyspark_spark.flagship import implicit_ratings

    cores = spark.sparkContext.defaultParallelism
    als = MD.als_estimator(spark, rank=4)
    assert (als.getNumUserBlocks(), als.getNumItemBlocks()) == (cores, cores)
    assert als.getColdStartStrategy() == "drop"

    grid_maps = []
    fit_multiple = ALS.fitMultiple

    def spy(self, dataset, param_maps):
        grid_maps.extend({p.name: v for p, v in m.items()} for m in param_maps)
        return fit_multiple(self, dataset, param_maps)

    monkeypatch.setattr(ALS, "fitMultiple", spy)
    ratings = implicit_ratings(spark, sf_tiny).cache()
    try:
        for tune in (False, True):
            res = MD.als_prediction(
                ratings, ranks=(2, 4), reg_params=(0.1,), max_iter=2, tune=tune
            )
            est = res.model._java_obj.parent()
            assert (est.getNumUserBlocks(), est.getNumItemBlocks()) == (cores, cores), tune
    finally:
        ratings.unpersist()
    share = max(1, cores // min(MD.GRID_PARALLELISM, 2))
    assert [(m["rank"], m["numUserBlocks"], m["numItemBlocks"]) for m in grid_maps] == [
        (2, share, share), (4, share, share)
    ]


def _factor_hashes(model) -> list[int]:
    # bit_xor of per-row hashes: order-free and, unlike sum, no ANSI overflow
    return [
        f.agg(F.bit_xor(F.xxhash64("id", "features"))).first()[0]
        for f in (model.userFactors, model.itemFactors)
    ]


def test_tuned_als_is_the_full_width_refit_of_its_pick(spark):
    """The grid fits' block share changes only the validation scores: the
    returned model is bit for bit the full-width fit of the picked point on
    the train split."""
    from recommender_system_with_pyspark_spark.domain.golden import synthetic_ratings

    df = synthetic_ratings(spark, 5_000, 200, 80).cache()
    try:
        res = MD.als_prediction(df, ranks=(4, 6), reg_params=(0.1, 0.01), max_iter=4, seed=1)
        als = MD.als_estimator(
            spark, userCol="user_id", itemCol="item_id", ratingCol="rating",
            maxIter=4, seed=1, checkpointInterval=10,
        )
        train, _ = df.randomSplit([0.8, 0.2], seed=1)
        point = {als.rank: res.best_params["rank"], als.regParam: res.best_params["regParam"]}
        assert _factor_hashes(res.model) == _factor_hashes(als.fit(train, point))
    finally:
        df.unpersist()


def test_grid_fits_run_in_the_callers_job_group(spark, assembled):
    """The grid points are fitted and scored on pool threads; every job they
    run carries the caller's job group, so a tracer charges it to the
    caller's span."""
    import threading

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    accuracy = MulticlassClassificationEvaluator(metricName="accuracy")
    scored = []

    class Spy:
        def isLargerBetter(self):
            return True

        def evaluate(self, df):
            on_main = threading.current_thread() is threading.main_thread()
            scored.append((on_main, sc.getLocalProperty("spark.jobGroup.id")))
            return accuracy.evaluate(df)

    lr = LogisticRegression()
    grid = MD._grid((lr.regParam, [0.1, 0.01]), (lr.maxIter, [5, 10]))
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("grid-fit-test", "grid-fit-test")
    try:
        MD.tuned_fit(lr, assembled, grid, {"accuracy": Spy()}, seed=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
    assert tracker.getJobIdsForGroup("grid-fit-test")
    assert sorted(scored) == [(False, "grid-fit-test")] * 4 + [(True, "grid-fit-test")]


def test_seeded_als_factors_are_deterministic(spark):
    """A seeded ALS gives bit-identical factors on refit and whatever the
    input's partitioning (the block layout depends on the cores only)."""
    from recommender_system_with_pyspark_spark.domain.golden import synthetic_ratings

    df = synthetic_ratings(spark, 20_000, 600, 150).cache()
    try:
        def fit(frame):
            model = MD.als_estimator(
                spark, rank=10, maxIter=5, seed=1,
                userCol="user_id", itemCol="item_id", ratingCol="rating",
            ).fit(frame)
            return _factor_hashes(model)

        first = fit(df)
        assert fit(df) == first
        assert fit(df.repartition(3)) == first
        assert fit(df.repartition(7, "item_id")) == first
    finally:
        df.unpersist()


def test_metrics_report_shape(logreg):
    report = MD.metrics_report({"logreg": logreg})
    row = report.first()
    assert row["model"] == "logreg"
    assert 0.0 <= row["accuracy"] <= 1.0


def test_correlation_matrix_props(spark, labeled):
    out = correlation_matrix(labeled, ["x", "y", "label"])
    m = {(r["feature_a"], r["feature_b"]): r["corr"] for r in out.collect()}
    assert m[("x", "x")] == 1.0
    assert m[("x", "y")] == m[("y", "x")]  # symmetric
    assert m[("x", "label")] > 0.5  # label is driven by x


def test_chi_square_detects_dependence(spark):
    rows = [(float(i % 2), float(i % 2), float(i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "label double, dep double, indep double")
    out = chi_square_test(df, ["dep", "indep"], "label")
    got = {r["feature"]: r["p_value"] for r in out.collect()}
    assert got["dep"] < 0.01  # perfectly dependent
    assert got["indep"] > 0.1  # independent


def test_model_save_load(tmp_path, logreg):
    from pyspark.ml.classification import LogisticRegressionModel

    from recommender_system_with_pyspark_spark.io import save_model

    path = str(tmp_path / "lr_model")
    save_model(logreg.model, path)
    loaded = LogisticRegressionModel.load(path)
    assert loaded.numFeatures == logreg.model.numFeatures
