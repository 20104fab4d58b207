"""Reference-scale E3/FMRegressor wall-clock measurement.

Mirrors `PySpark Scripts/logreg.py:19-40` + `bgrfunctions.py:204-236`
(fmreg_prediction): StringIndexer(Username) → OneHotEncoder(UserId, BGGId)
→ assemble → FMRegressor TVS grid stepSize {0.1,0.01} × factorSize {1,2}
on the calibrated synthetic corpus. Published anchor
(`risultati.txt:31-33`): rmse 1.3834 / r2 0.2854, **121.99 min**.

Metric parity is NOT claimed here — FM's gradient-descent metrics are
corpus-shape-dependent in a way ALS's closed-form solves are not (see
REFSCALE.md for the calibrated ALS parity). This measures THROUGHPUT of
the identical pipeline shape (one-hot dims ≈ users+items, same grid, same
trainRatio/seed discipline) at a chosen fraction of the 18.9M-row scale.

``--task classifier`` runs the E3 FMClassifier shape instead
(`fmclas.py:45`, `bgrfunctions.py:238-269`): same one-hot features, label
binarized at rating < 4 → 0 else 1 (`bgrfunctions.py:24`), grid stepSize
{0.1,0.01} × factorSize {1,2}, accuracy selection + the reference's
hard-prediction ROC quirk. Published anchor (`risultati.txt:67-69`):
acc 0.9179 / roc 0.5389, **283.68 min**.

``--task logreg`` runs the E4 LogisticRegression shape (`logreg.py:17-52`,
`bgrfunctions.py:271-303`): one-hot both ids, broadcast-join per-game
numeric content features, MinMaxScale → PCA(15) on the game features only,
then assemble [UserId_onehot, BGGId_onehot, pca_features] and fit the TVS
grid regParam {0.1,0.01} × maxIter {50,100}, accuracy selection + the
hard-prediction ROC quirk. Published anchor (`risultati.txt:100-106`):
acc 0.9154 / roc 0.5186, **35.81 min**. The real BGG content columns are
not in this container; the synthetic stand-in is 40 deterministic
hash-gaussian per-game columns — same width class as the cleaned
`complete` DB, so assembler/scaler/PCA/LogReg do reference-shaped work.

``--task dectree`` / ``--task randforest`` run the E3 tree-model shapes
(`bgrfunctions.py:306-366`): same one-hot features + binarized label,
TVS grid maxDepth {5,10} × minInfoGain {20,30} — the reference's actual
(degenerate) grid: info gain is ≤ 1, so minInfoGain ≥ 20 forbids every
split and the stump predicts the majority class (acc ≈ base rate,
hard-ROC = 0.5 exactly — PDF p.32 Tables 7-8). Published anchors:
DecisionTree acc 0.91 / roc 0.5, **74.91 min**; RandomForest (numTrees
30) acc 0.92 / roc 0.5, **61.52 min**.

Usage: python tools/fm_reference_scale.py [--scale 0.25]
         [--task regressor|classifier|dectree|randforest]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=0.25)
    ap.add_argument("--task",
                    choices=["regressor", "classifier", "dectree", "randforest", "logreg"],
                    default="regressor")
    ap.add_argument("--binary-bins", action="store_true",
                    help="trees only: maxBins=2 (model-identical on one-hot "
                         "features, 16x smaller node stats — the engine-side "
                         "optimization the reference's default-bins run lacks)")
    args = ap.parse_args()

    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
    from pyspark.sql import functions as F

    from recommender_system_with_pyspark_spark.domain import golden
    from recommender_system_with_pyspark_spark.ml.models import (
        decision_tree,
        fm_classifier,
        fm_regressor,
        logistic_regression,
        random_forest,
    )
    from recommender_system_with_pyspark_spark.session import get_spark

    n = int(golden.REF_N_RATINGS * args.scale)
    n_users = max(1000, int(golden.REF_N_USERS * args.scale))
    n_items = max(200, int(golden.REF_N_ITEMS * args.scale))
    head_items = max(100, int(golden.REF_HEAD_ITEMS * args.scale))

    spark = get_spark(app_name="fm-reference-scale",
                      extra_conf={
                          "spark.driver.memory": "48g",
                          # Java 17's GCLocker can fail allocations under the
                          # concurrent per-task DTStatsAggregator pressure of
                          # wide one-hot tree fits ("Retried waiting for
                          # GCLocker too often") — raise the retry budget.
                          "spark.driver.extraJavaOptions":
                              "-XX:+UnlockDiagnosticVMOptions "
                              "-XX:GCLockerRetryAllocationCount=100",
                          # MLlib trees persist a DENSE binned-point cache
                          # (one Int per feature per row — ~0.4 TB at the
                          # full 18.9M x 433k one-hot scale, measured: the
                          # uncompressed attempt died ENOSPC at 12.3 GiB
                          # per partition). The binned values are almost
                          # all zeros, so compressing RDD disk spill makes
                          # the cache fit; zstd gets ~50-100x on this
                          # content for a few % CPU.
                          "spark.rdd.compress": "true",
                          "spark.io.compression.codec": "zstd",
                      })
    t0 = time.time()
    ratings, _games = golden.synthetic_bgg_corpus(
        spark, n_ratings=n, n_users=n_users, n_items=n_items, head_items=head_items
    )
    is_classification = args.task in ("classifier", "dectree", "randforest", "logreg")
    if is_classification:
        # bgrfunctions.py:24 — buckets: rating < 4 → 0.0 else 1.0
        label = F.when(F.col("Rating") < 4, F.lit(0.0)).otherwise(F.lit(1.0))
    else:
        label = F.col("Rating")
    if args.task == "logreg":
        # logreg.py:17-40 — one-hot ids, join per-game content features,
        # MinMaxScale + PCA(15) over the game features ONLY, then assemble
        # [UserId_onehot, BGGId_onehot, pca_features] (bgrfunctions.py:277).
        from pyspark.ml.feature import PCA, MinMaxScaler

        n_feats = 15 if args.scale < 0.02 else 40  # tiny smoke keeps PCA k valid
        game_feats = spark.range(n_items).select(
            F.col("id").cast("int").alias("BGGId"),
            *[golden._gauss(F.col("id"), "gf", j, 1).alias(f"gf{j}")
              for j in range(n_feats)],
        )
        ids = Pipeline(stages=[
            StringIndexer(inputCol="Username", outputCol="UserId"),
            OneHotEncoder(inputCols=["UserId", "BGGId"],
                          outputCols=["UserId_onehot", "BGGId_onehot"]),
        ]).fit(ratings).transform(ratings)
        joined = ids.join(F.broadcast(game_feats), "BGGId", "inner")
        pipe = Pipeline(stages=[
            VectorAssembler(inputCols=[f"gf{j}" for j in range(n_feats)],
                            outputCol="_gfeat"),
            MinMaxScaler(inputCol="_gfeat", outputCol="_gscaled"),
            PCA(k=min(15, n_feats), inputCol="_gscaled", outputCol="pca_features"),
            VectorAssembler(
                inputCols=["UserId_onehot", "BGGId_onehot", "pca_features"],
                outputCol="features"),
        ])
        feats = pipe.fit(joined).transform(joined).select(
            "features", label.alias("label")
        ).cache()
    else:
        # logreg.py:20-25 — index usernames, one-hot both ids
        pipe = Pipeline(stages=[
            StringIndexer(inputCol="Username", outputCol="UserId"),
            OneHotEncoder(inputCols=["UserId", "BGGId"],
                          outputCols=["UserId_onehot", "BGGId_onehot"]),
            VectorAssembler(inputCols=["UserId_onehot", "BGGId_onehot"],
                            outputCol="features"),
        ])
        feats = pipe.fit(ratings).transform(ratings).select(
            "features", label.alias("label")
        ).cache()
    rows = feats.count()
    t_prep = time.time() - t0

    t1 = time.time()
    if args.task == "classifier":
        res = fm_classifier(feats, "features", "label", compat_hard_roc=True)
    elif args.task == "logreg":
        res = logistic_regression(feats, "features", "label", compat_hard_roc=True)
    elif args.task == "dectree":
        # bgrfunctions.py:319-322 — the reference's degenerate grid, verbatim
        res = decision_tree(feats, "features", "label", compat_hard_roc=True,
                            min_info_gains=(20.0, 30.0),
                            max_bins=2 if args.binary_bins else None)
    elif args.task == "randforest":
        # bgrfunctions.py:347 — same grid, numTrees=30
        res = random_forest(feats, "features", "label", compat_hard_roc=True,
                            num_trees=30, min_info_gains=(20.0, 30.0),
                            max_bins=2 if args.binary_bins else None)
    else:
        res = fm_regressor(feats, "features", "label")
    t_fit = time.time() - t1

    metrics = {name: round(value, 4) for name, value in res.metrics.items()}
    anchors = {"regressor": 121.99, "classifier": 283.68,
               "dectree": 74.91, "randforest": 61.52, "logreg": 35.81}
    out = {
        "metric": f"{args.task}_reference_scale"
        if args.task in ("dectree", "randforest", "logreg")
        else f"fm_{args.task}_reference_scale",
        **({"binary_bins": True} if args.binary_bins else {}),
        "scale": args.scale,
        "rows": rows,
        "onehot_dim": n_users + n_items,
        **metrics,
        "best_params": res.best_params,
        "prep_sec": round(t_prep, 1),
        "fit_sec": round(t_fit, 1),
        "total_min": round((time.time() - t0) / 60, 2),
        "reference_min_at_full_scale": anchors[args.task],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
