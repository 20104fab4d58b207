"""Round-13 optimization-round invariants.

The optimizations must never change results, and the spread helper must
be exactly what it claims: a repartition that fires ONLY below the
session parallelism (so deployment-scale inputs take no extra shuffle).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators.partitioning import (
    spread_small_input,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc {i % 7} " * 3)
            for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spread_raises_single_partition_input(spark, docs):
    one = docs.coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    out = spread_small_input(one, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_is_noop_on_wide_input(spark, docs):
    tgt = spark.sparkContext.defaultParallelism
    wide = docs.repartition(tgt + 3, "doc_id")
    out = spread_small_input(wide, "doc_id")
    # pass-through: the SAME DataFrame object, so no extra Exchange can
    # appear in any downstream plan at deployment scale
    assert out is wide


def test_spread_explicit_numpartitions_survives_aqe(spark, docs):
    # AQE coalescing must not merge the spread back to one partition:
    # REPARTITION_BY_NUM (explicit count) is exempt from coalescing
    out = spread_small_input(docs.coalesce(1), "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = out.rdd.getNumPartitions()
    assert n == spark.sparkContext.defaultParallelism, plan


def test_spread_preserves_rows_exactly(spark, docs):
    a = sorted(docs.coalesce(1).collect())
    b = sorted(spread_small_input(docs.coalesce(1), "doc_id").collect())
    assert a == b


def test_mp3_audit_identical_with_and_without_spread(spark, docs):
    """The audit values are per-row functions of the text — partitioning
    must not change a single output value."""
    from recommender_system_with_pyspark_spark.operators import multimodal as M

    d = docs.filter(F.length("text") > 0)
    media = M.text_to_mp3_media(d, n_frames=6)
    audited = M.mp3_header_audit(media).toPandas().sort_values("media_id")
    # force a deliberately different layout and recompute
    media2 = M.text_to_mp3_media(d.repartition(3, "doc_id"), n_frames=6)
    audited2 = M.mp3_header_audit(media2).toPandas().sort_values("media_id")
    pd.testing.assert_frame_equal(
        audited.reset_index(drop=True), audited2.reset_index(drop=True)
    )


def test_bpe_train_batched_skips_final_rewrite(spark, docs):
    """The trainer must not pay a corpus rewrite for merges no round will
    re-count — and the merge table must be unchanged by the skip."""
    from recommender_system_with_pyspark_spark.operators import text as X

    merges = X.bpe_train_batched(docs, n_merges=4, batch_size=2)
    assert len(merges) == 4
    # steps are dense and outputs are fresh PUA symbols in order
    assert [m[0] for m in merges] == [0, 1, 2, 3]
    assert all(m[2] >= 2 for m in merges)
    # batch_size=1 reproduces the sequential trainer's table
    bat = X.bpe_train_batched(docs, n_merges=2, batch_size=1)
    assert bat == [(0, "ta", 1800, "\ue100"), (1, "e\ue100", 1200, "\ue101")]


def test_connected_components_sum_convergence(spark):
    """Label-sum convergence must match the join-based check: path graph
    (diameter = rounds) and a star converge to the same components."""
    from recommender_system_with_pyspark_spark.operators.graph import (
        connected_components,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    out = {r["node"]: r["component"] for r in connected_components(path).collect()}
    assert out == {i: 0 for i in range(7)}
    two = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(two).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_still_raises_on_max_iter(spark):
    from recommender_system_with_pyspark_spark.operators.graph import (
        connected_components,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=2)


def test_negative_sample_draw_modulus_scalar(spark):
    """The literal-count modulus must reproduce the md5 draw construction
    exactly (values pinned by the DuckDB oracle at the query level; this
    guards the operator for arbitrary inputs)."""
    from recommender_system_with_pyspark_spark.operators.sampling import (
        negative_sample,
    )

    inter = spark.createDataFrame(
        [(u, i) for u in range(5) for i in range(u + 2)],
        "user_id long, item_id long",
    )
    out = negative_sample(inter, "user_id", "item_id", k=2, oversample=3, seed=7)
    rows = out.collect()
    pos = {(u, i) for u in range(5) for i in range(u + 2)}
    assert rows, "expected some negatives"
    for r in rows:
        assert (r["user_id"], r["item_id"]) not in pos
        assert 1 <= r["neg_rank"] <= 2
    # per-user ranks dense from 1
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r["neg_rank"])
    for u, ranks in by_user.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
