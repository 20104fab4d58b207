"""Flagship end-to-end recommendation query (SURVEY §3 E2, §7 M2).

The reference's ALS path (`PySpark Scripts/als.py`) re-expressed on the
synthetic star schema: implicit user→item ratings derived from order
history, sparse-entity pruning (`bgrfunctions.py:43-53`), seeded ALS
(`bgrfunctions.py:179-201` — reference seeds the model but not the split;
the engine seeds both), per-user top-k (`als.py:44-49`), explode + name
join.

Scale notes: ALS shuffles user/item factor blocks every iteration — rank
and checkpoint interval are the knobs; the final name join broadcasts the
item dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .operators.relational import prune_sparse_entities


def implicit_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a (user, item, rating) fact table: customer×part affinity =
    log-scaled purchased quantity. Mirrors the reference's ratings table
    shape (`als.py:21`, user_ratings.csv)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.round(F.log1p(F.sum("l_quantity")), 4).alias("rating"))
    )


def fit_flagship_als(
    spark: SparkSession,
    sf_dir: str,
    rank: int = 8,
    max_iter: int = 5,
    reg_param: float = 0.1,
    min_item_count: int = 2,
    min_user_count: int = 2,
    seed: int = 1,
):
    """The flagship fit: implicit ratings → prune → int32-safe ids →
    seeded ALS. Every flagship query fits through here.

    Returns ``(model, id_maps)``. ``id_maps`` holds one
    ``dense_id_compaction`` map per id column, ``None`` when the ids
    already fit int32 (SCALING.md round 7); pass it to
    ``ml.models.recommend_for_all_users`` or ``restore_ids`` to get the
    original ids back."""
    from .ml.models import als_estimator
    from .operators.relational import dense_id_compaction

    # cache the derived ratings: prune_sparse_entities consumes its input
    # three times (item counts, user counts, final semi-join) and ALS block
    # construction reads it again — without the cache the join+agg lineage
    # re-executes on every pass
    ratings = implicit_ratings(spark, sf_dir).cache()
    # cache the pruned frame too (round 13): its lineage (three semi-join
    # passes over ratings) is re-evaluated by the int32-ceiling aggregate
    # AND by ALS block construction's multiple input reads — measured at
    # sf0.1, materializing it once cuts the fit wall-clock from ~3.4 s to
    # ~1.9 s and the whole query ~5.9 -> ~4.6 s. Same lifecycle policy as
    # the ratings cache above (session-scoped, one entry per plan).
    pruned = prune_sparse_entities(
        ratings, "item_id", "user_id", min_item_count, min_user_count
    ).cache()
    als_in, id_maps = dense_id_compaction(pruned, ["user_id", "item_id"])
    model = als_estimator(
        spark,
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="rating",
        seed=seed,
    ).fit(als_in)
    return model, id_maps


def recommend_top_items(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    rank: int = 8,
    max_iter: int = 5,
    reg_param: float = 0.1,
    min_item_count: int = 2,
    min_user_count: int = 2,
    seed: int = 1,
) -> DataFrame:
    """ratings → prune → ALS → recommendForAllUsers(k) → explode → names.

    Returns (user_id, item_id, score, rank, p_name)."""
    from .ml.models import recommend_for_all_users

    model, id_maps = fit_flagship_als(
        spark, sf_dir, rank, max_iter, reg_param, min_item_count, min_user_count, seed
    )
    recs = recommend_for_all_users(model, k, id_maps)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id"), "p_name"
    )
    return recs.join(F.broadcast(part), "item_id", "left").select(
        "user_id", "item_id", F.round("score", 4).alias("score"), "rank", "p_name"
    )


def item_factor_neighbors(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    rank: int = 8,
    max_iter: int = 5,
    reg_param: float = 0.1,
    seed: int = 1,
    n_query_items: int = 20,
) -> DataFrame:
    """"Related items" from the ALS latent space: fit the flagship model,
    take ``model.itemFactors`` (items × rank), and return each query
    item's k nearest items by cosine over the factor vectors — the
    item-item companion of recommendForAllUsers (the reference's user
    pipeline never exposes this, but every production recommender pairs
    user-personalized rows with an item-detail "similar games" rail).

    Deterministic for a fixed seed (ALS is seeded; ties break on item id),
    but factor values are solver outputs — no SQL oracle, invariants are
    pytest-enforced. The factor table is items × rank (tiny next to the
    ratings), so the brute-force cosine with a broadcast query side is the
    honest plan; at catalog scale swap in similarity.lsh_topk/ivf_topk
    over the same vectors.

    Returns (item_id, neighbor_id, sim, rank, p_name of neighbor)."""
    from .operators.relational import restore_ids
    from .operators.similarity import cosine_topk

    model, id_maps = fit_flagship_als(
        spark, sf_dir, rank=rank, max_iter=max_iter, reg_param=reg_param, seed=seed
    )
    factors = restore_ids(
        model.itemFactors.withColumnRenamed("id", "item_id"), "item_id", id_maps["item_id"]
    ).select(F.col("item_id").alias("vec_id"), F.col("features").alias("embedding"))
    queries = factors.orderBy("vec_id").limit(n_query_items)
    out = cosine_topk(queries, factors, "vec_id", "embedding", k=k, exclude_self=True)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("neighbor_id"), "p_name"
    )
    return (
        out.withColumnRenamed("query_id", "item_id")
        .join(F.broadcast(part), "neighbor_id", "left")
        .select("item_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank", "p_name")
    )
