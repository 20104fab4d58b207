"""End-to-end reference-parity tests: the BGG pipelines (SURVEY §3 E1-E3)
on the FIXTURES.md-shaped synthetic tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.domain import bgg
from tests.fixtures_bgg import build_all


@pytest.fixture(scope="module")
def tables(spark):
    return build_all(spark)


def test_clean_user_ratings(tables):
    cleaned = bgg.clean_user_ratings(tables["user_ratings"])
    # nulls dropped (3 planted rows)
    assert cleaned.count() == tables["user_ratings"].count() - 3
    # ratings rounded to 0.1 steps
    bad = cleaned.filter(F.abs(F.col("Rating") * 10 - F.round(F.col("Rating") * 10, 0)) > 1e-9)
    assert bad.count() == 0


def test_discretize_ratings_label_balance(tables):
    disc = bgg.discretize_ratings(bgg.clean_user_ratings(tables["user_ratings"]))
    frac_pos = disc.agg(F.avg("buckets")).first()[0]
    # gauss(7, 1.8) → P(r >= 4) ≈ 0.95 — mirrors the reference's ~0.92
    # majority-class rate (BASELINE.md label-balance row)
    assert frac_pos > 0.85
    assert set(r["buckets"] for r in disc.select("buckets").distinct().collect()) == {0.0, 1.0}


def test_binary_matrices_to_categorical(tables):
    out = bgg.binary_matrices_to_categorical(
        tables["games"], {"Themes": tables["themes"], "Mechanics": tables["mechanics"]}
    )
    assert "Themes" in out.columns and "Mechanics" in out.columns
    assert out.count() == tables["games"].count()
    # spot-check: a row's Themes string contains only declared theme names
    row = out.filter(F.col("Themes") != "").first()
    assert all(t.startswith("Theme") for t in row["Themes"].split(", "))


def test_clean_complete_database_invariants(tables):
    complete = bgg.binary_matrices_to_categorical(
        tables["games"], {"Themes": tables["themes"], "Mechanics": tables["mechanics"]}
    )
    cleaned = bgg.clean_complete_database(complete)
    # output ⊆ input rows; all positive filters hold
    assert cleaned.count() <= complete.count()
    for c in ["YearPublished", "MinPlayers", "MfgPlaytime"]:
        assert cleaned.filter(F.col(c) <= 0).count() == 0
    assert cleaned.filter(F.col("YearPublished") <= 1970).count() == 0
    # junk/constant columns gone
    for gone in ["Name", "Description", "NumComments", "Rank:strategygames"]:
        assert gone not in cleaned.columns
    # imputed columns have no nulls left
    assert cleaned.filter(F.col("Family").isNull()).count() == 0
    assert cleaned.filter(F.col("ComAgeRec").isNull()).count() == 0


def test_encode_complete(tables):
    complete = bgg.binary_matrices_to_categorical(
        tables["games"], {"Themes": tables["themes"], "Mechanics": tables["mechanics"]}
    )
    cleaned = bgg.clean_complete_database(complete)
    encoded = bgg.encode_complete(cleaned)
    assert "Themes_indexed" in encoded.columns and "Themes" not in encoded.columns
    assert dict(encoded.dtypes).get("Kickstarted") == "boolean"
    # indices are consecutive doubles starting at 0
    vals = [r[0] for r in encoded.select("Themes_indexed").distinct().collect()]
    assert min(vals) == 0.0


def test_als_workflow_end_to_end(tables):
    recs, res = bgg.als_workflow(
        tables["user_ratings"], tables["games"],
        min_game_ratings=20, min_user_ratings=5,  # fixture-scaled thresholds
        k=5, tune=False, ranks=(4,), reg_params=(0.1,), max_iter=5,
    )
    got = recs.collect()
    assert len(got) > 0
    assert res.metrics["rmse"] < 3.0
    per_user = recs.groupBy("UserId").count().select("count").distinct().collect()
    assert [r["count"] for r in per_user] == [5]
    assert all(r["Name"] is not None for r in got)


def test_als_workflow_releases_pruned_cache(tables, monkeypatch):
    """The pruned ratings are cached for the fits only: a long-lived session
    must not pin one more copy per call, and the returned recs (model
    factors + broadcast names) must not need it."""
    from pyspark import StorageLevel

    pruned = []
    prune = bgg.R.prune_sparse_entities

    def capture(*args, **kwargs):
        pruned.append(prune(*args, **kwargs))
        return pruned[-1]

    monkeypatch.setattr(bgg.R, "prune_sparse_entities", capture)
    recs, res = bgg.als_workflow(
        tables["user_ratings"], tables["games"],
        min_game_ratings=20, min_user_ratings=5,
        k=5, tune=False, ranks=(4,), reg_params=(0.1,), max_iter=5,
    )
    assert len(pruned) == 1
    assert pruned[0].storageLevel == StorageLevel.NONE
    assert recs.count() == res.model.userFactors.count() * 5


def test_content_model_end_to_end(tables):
    """E3: features → PCA → logistic regression on the buckets label."""
    from recommender_system_with_pyspark_spark.ml.models import logistic_regression

    complete = bgg.binary_matrices_to_categorical(
        tables["games"], {"Themes": tables["themes"], "Mechanics": tables["mechanics"]}
    )
    encoded = bgg.encode_complete(bgg.clean_complete_database(complete))
    ratings = bgg.discretize_ratings(bgg.clean_user_ratings(tables["user_ratings"]))
    feats, model = bgg.content_features(encoded, ratings, pca_k=5)
    assert "features" in feats.columns
    res = logistic_regression(feats, label_col="buckets", seed=1)
    # imbalanced label → at least majority-class accuracy
    assert res.metrics["accuracy"] > 0.8
