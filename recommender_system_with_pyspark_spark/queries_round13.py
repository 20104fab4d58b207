"""Round-13 query surface: ALS serving from the IVF index (VERDICT r12 #1).

The round-12 sf100 probe priced EXACT ``recommendForAllUsers`` at
≈145.6 h, 99.6% of it the users×items factor GEMM — the cost driver is
the 20M-item catalog each user scores in full
(``ml.models.recommend_for_all_users``, reference headline `als.py:44`).
The scale path the engine already owns
is the partitioned IVF index; what was missing is the bridge from ALS's
maximum-inner-product scoring (score = u·i) to the index's cosine
geometry. That bridge is the MIPS→cosine reduction from the public
literature (Bachrach et al., RecSys 2014): append ``sqrt(M² − ‖i‖²)``
to every item factor (all items then share norm M, so cosine order =
dot order for any fixed user) and a literal 0 to every user factor.
After the reduction the UNCHANGED cosine IVF machinery — KMeans cells,
partition-pruned probe, label-free batch scoring — serves ALS top-k.

``als_recommend_ann`` is the recall report for that deployment: fit the
flagship ALS, index the augmented item factors ONCE (freshness-contract
validated), probe a deterministic user sample at increasing n_probe, and
score each against exact ``recommendForUserSubset`` on the same users.
One row per n_probe; the n_probe = n_cells row is the full-probe sanity
bound (candidate set = whole catalog; only 6dp-rounded score ties at the
k-boundary can keep it below 1.0). The sf100 wall-clock half of the
story lives in ``tools/als_ann_sf100_r13.py`` + SCALING.md round 13.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query

_ANN_CELLS = 8
_ANN_K = 10
_ANN_USERS = 64


def _als_index_path(sf_dir: str) -> str:
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return f"/tmp/spark_graft_ivf_als/{key}_c{_ANN_CELLS}"


@query("als_recommend_ann")  # factor recall vs exact MLlib output → rows-only
def als_recommend_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-served ALS recommendations vs exact
    ``recommendForUserSubset`` on the same user sample.

    Each probe is the call ``models.recommend_topk_ann`` serves with
    (``hard_negatives_indexed``, no label mask, no self mask), so the
    recall reported is the recall of the served path: user factors
    broadcast as the anchor matrix, the item-factor index scanned ONLY in
    the probed cells (PartitionFilter), one GEMM per batch against the
    anchors that probed its cell — per-user work bounded by
    n_probe/n_cells of the catalog instead of the full GEMM. Rows:
    (method, k, n_probe, n_cells, n_users, recall)."""
    from .flagship import fit_flagship_als
    from .operators import similarity as S

    # the flagship fit (`als_recommend`'s data path and hyper-parameters);
    # recall compares model ids on both sides, so the id maps go unused
    model, _id_maps = fit_flagship_als(spark, sf_dir)
    items = model.itemFactors  # (id, features array<float>)
    m_norm = S.mips_max_norm(items, "features")
    items_aug = S.mips_augment_items(items, m_norm, "features")

    path = _als_index_path(sf_dir)
    fresh = os.path.exists(os.path.join(path, "_SUCCESS")) and S.validate_ivf_index(
        spark, path, items_aug, "id", "features", n_cells=_ANN_CELLS, seed=1
    )
    if not fresh:
        S.write_ivf_index(
            items_aug, path, "id", "features", n_cells=_ANN_CELLS, seed=1
        )

    users = model.userFactors.orderBy("id").limit(_ANN_USERS)
    q = S.mips_augment_queries(users, "features")
    n_q = users.count()

    subset = users.select(F.col("id").alias("user_id"))
    exact = (
        model.recommendForUserSubset(subset, _ANN_K)
        .select("user_id", F.explode("recommendations.item_id").alias("true_id"))
        .select(F.col("user_id").alias("query_id"), "true_id")
    )

    rows = []
    for n_probe in (2, 4, _ANN_CELLS):
        ann = S.hard_negatives_indexed(
            spark, path, q, id_col="id", vec_col="features", pos_col=None,
            k=_ANN_K, n_probe=n_probe, exclude_self=False,
        )
        hits = exact.join(
            ann.withColumnRenamed("query_id", "_q2"),
            (F.col("query_id") == F.col("_q2"))
            & (F.col("true_id") == F.col("neighbor_id")),
            "inner",
        ).count()
        rows.append(
            ("als_ivf_mips", _ANN_K, n_probe, _ANN_CELLS, n_q,
             round(hits / (_ANN_K * n_q), 4))
        )
    return spark.createDataFrame(
        rows,
        "method string, k int, n_probe int, n_cells int, n_users long, recall double",
    )
