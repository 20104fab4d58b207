"""The reference's three entry points (SURVEY §3) as engine pipelines.

Every stage of `PySpark Scripts/datacleaning.py` / `als.py` / `logreg.py`
is reproduced as a composition of the distributed operator library — no
pandas, no CSV round-trips (`datacleaning.py:20,30,82,88,98` materialize 5
intermediate CSVs; here each boundary is just a DataFrame, with optional
Parquet checkpoints via io.write_parquet).

Column/threshold specifics come from the reference with citations; every
magic value is exposed as a parameter with the reference value as default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import cleaning as C
from ..operators import relational as R

# drop lists — `bgrfunctions.py:81-95` (v2 clean_complete_database)
DROP_COLS = [
    "Name", "Description", "ImagePath", "NumComments",
    "Rank:strategygames", "Rank:abstracts", "Rank:familygames",
    "Rank:thematic", "Rank:cgs", "Rank:wargames", "Rank:partygames",
    "Rank:childrensgames",
]
# positive-value sanity filters — `bgrfunctions.py:98-104`
POSITIVE_COLS = [
    "YearPublished", "MinPlayers", "MaxPlayers",
    "MfgPlaytime", "ComMinPlaytime", "ComMaxPlaytime", "MfgAgeRec",
]
# mode-filled categorical columns — `bgrfunctions.py:114-124`
MODE_FILL_COLS = ["Themes", "Mechanics", "Publishers", "Designers"]
# mean-filled numeric columns — `bgrfunctions.py:110-111`
MEAN_FILL_COLS = ["ComAgeRec", "LanguageEase"]
# IQR exclusion list — `bgrfunctions.py:371-373`
IQR_EXCLUDE = ["BGGId", "IsReimplementation", "Kickstarted", "Rank:boardgame"]
# StringIndexer targets — `bgrfunctions.py:151-160`
INDEX_COLS = ["Themes", "Categories", "Mechanics", "Designers", "Family"]
# flag-matrix → categorical column names — `bgrfunctions.py:56-76`
CATEGORICAL_SOURCES = {
    "Themes": "themes",
    "Categories": "games_categories",  # the 8 Cat:* columns
    "Subcategories": "subcategories",
    "Mechanics": "mechanics",
    "Artists": "artists_reduced",
    "Designers": "designers_reduced",
    "Publishers": "publishers_reduced",
}


def clean_user_ratings(ratings: DataFrame, rating_col: str = "Rating") -> DataFrame:
    """E1 step 1 (`datacleaning.py:15-20`): dropna + round to 0.1 steps —
    pandas on the driver in the reference, one codegen projection here."""
    return C.round_column(C.drop_null_rows(ratings), rating_col, 1)


def discretize_ratings(
    ratings: DataFrame, threshold: float = 4.0, rating_col: str = "Rating"
) -> DataFrame:
    """E1 step 2 (`datacleaning.py:29`, `bgrfunctions.py:22-24`): binary
    ``buckets`` label. Code threshold 4 (PDF says 7 — code wins, SURVEY F2)."""
    return C.discretize_label(ratings, rating_col, "buckets", threshold)


def binary_matrices_to_categorical(
    games: DataFrame,
    matrices: dict[str, DataFrame],
    key: str = "BGGId",
) -> DataFrame:
    """E1 step 3 (`bgrfunctions.py:56-76` + `datacleaning.py:61`): each wide
    0/1 flag matrix collapses to one comma-joined categorical string column,
    then star-joins onto games by BGGId.

    The reference's positional ``pd.concat(axis=1)`` (J5) depends on row
    order; here every join is an explicit equi-join on the key — same result
    (rows are aligned by BGGId), deterministic under any partitioning."""
    out = games
    for cat_name, df in matrices.items():
        flag_cols = [c for c in df.columns if c != key]
        collapsed = R.binary_flags_to_categorical(df, flag_cols, cat_name)
        out = out.join(F.broadcast(collapsed), key, "left")
    return out


def clean_complete_database(
    complete: DataFrame,
    iqr_k: float = 1.0,
    year_floor: int = 1970,
    exact_quantiles: bool = False,
) -> DataFrame:
    """The v2 ``clean_complete_database`` (`bgrfunctions.py:79-140`) as one
    lazy chain:

    1. drop junk/constant columns (`:81-95`)
    2. positive-value filters (`:98-104`)
    3. Family → 'No family' (`:107`)
    4. mean-fill ComAgeRec/LanguageEase (`:110-111`) — each with its OWN
       mean (v1 bug `functions.py:97` not reproduced)
    5. mode-fill categorical columns (`:114-124`); steps 4 and 5 are one
       aggregate action
    6. IQR outlier removal, k=1, sequential per column, YearPublished>1970
       (`:369-393`, PDF p.10)
    7. zero-variance column prune (`:133-138`)
    """
    df = complete.drop(*[c for c in DROP_COLS if c in complete.columns])
    df = C.positive_filter(df, [c for c in POSITIVE_COLS if c in df.columns])
    if "Family" in df.columns:
        df = C.fill_const(df, {"Family": "No family"})
    df = C.fill_mean_mode(
        df,
        [c for c in MEAN_FILL_COLS if c in df.columns],
        [c for c in MODE_FILL_COLS if c in df.columns],
    )
    if "YearPublished" in df.columns:
        df = df.filter(F.col("YearPublished") > year_floor)
    numeric = [
        f.name for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float")
        and f.name not in IQR_EXCLUDE
    ]
    df = C.iqr_outlier_filter(df, numeric, k=iqr_k, exact=exact_quantiles)
    return C.zero_variance_prune(df)


def encode_complete(
    cleaned: DataFrame,
    index_cols: list[str] | None = None,
) -> DataFrame:
    """E1 step 4 (`bgrfunctions.py:143-169`): casts + StringIndexer per
    categorical column (one multi-col indexer = one job), originals dropped."""
    from ..ml.features import encode_categorical_features

    casts = {}
    if "Kickstarted" in cleaned.columns:
        casts["Kickstarted"] = "boolean"
    if "Rank:boardgame" in cleaned.columns:
        casts["Rank:boardgame"] = "int"
    cols = [c for c in (index_cols or INDEX_COLS) if c in cleaned.columns]
    encoded, _ = encode_categorical_features(cleaned, cols, casts=casts)
    return encoded


def als_workflow(
    ratings: DataFrame,
    games: DataFrame,
    min_game_ratings: int = 1000,
    min_user_ratings: int = 10,
    k: int = 10,
    tune: bool = False,
    **als_kwargs,
):
    """E2 (`als.py`): clean → StringIndexer(Username→UserId) → sparse-entity
    pruning (thresholds `als.py:14-15`) → seeded ALS → top-k with names.

    Returns (recommendations DataFrame, FitResult). Recommendations carry
    the input's ``UserId`` and ``BGGId`` even when ids exceed int32; the
    compaction maps then stay cached until the caller passes
    ``res.id_maps`` to ``release_compaction_maps``."""
    from pyspark.ml.feature import StringIndexer

    from ..ml.models import als_prediction, recommend_for_all_users

    cleaned = clean_user_ratings(ratings)
    indexed = (
        StringIndexer(inputCol="Username", outputCol="UserId")
        .fit(cleaned)
        .transform(cleaned)
        .withColumn("UserId", F.col("UserId").cast("int"))
    )
    # cache: als_prediction reads this frame twice, in its int32 id check
    # and in the fit (which caches an uncached input itself) — without it
    # the whole index+prune lineage (two shuffles) runs twice
    pruned = R.prune_sparse_entities(
        indexed, "BGGId", "UserId", min_game_ratings, min_user_ratings
    ).cache()
    try:
        res = als_prediction(
            pruned, user_col="UserId", item_col="BGGId", rating_col="Rating",
            tune=tune, **als_kwargs,
        )
    finally:
        # the metrics are eager and the recs below read only model factors,
        # so nothing needs the cache past here; a long-lived session would
        # otherwise pin one more copy per call (res.predictions recomputes
        # from lineage if read)
        pruned.unpersist()
    recs = recommend_for_all_users(res.model, k, res.id_maps)
    named = recs.join(F.broadcast(games.select("BGGId", "Name")), "BGGId", "left")
    return named.select(
        "UserId", "BGGId", F.round("score", 4).alias("score"), "rank", "Name"
    ), res


def content_features(
    complete_indexed: DataFrame,
    ratings_disc: DataFrame,
    pca_k: int = 15,
    id_col: str = "BGGId",
):
    """E3 shared skeleton (`logreg.py:17-40`): user/game one-hots + numeric
    features ⋈ ratings → assemble → MinMax scale → PCA(k). Returns the
    transformed DataFrame with ``features`` + ``buckets`` label, sparse
    throughout."""
    from ..ml.features import feature_pipeline, fit_features

    joined = ratings_disc.join(complete_indexed, id_col, "inner")
    numeric = [
        f.name for f in complete_indexed.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float")
        and f.name != id_col
    ]
    pipe = feature_pipeline(
        index_cols=["Username"],
        numeric_cols=numeric,
        scale=True,
        pca_k=min(pca_k, len(numeric) + 1),
    )
    model = fit_features(pipe, joined)
    return model.transform(joined), model
