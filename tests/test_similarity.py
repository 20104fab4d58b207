"""Similarity-search operator tests on planted vectors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators import similarity as S
from tests.topk_reference import brute_topk, tie_corpus


def _vecs(spark):
    # 8-dim: ids 0/1 nearly parallel, 2 orthogonal-ish, 3 anti-parallel to 0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.05, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0, -0.1, 0.0, 0.0, 0.0]),
        (4, [0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(spark):
    df = _vecs(spark)
    out = S.cosine_topk(df.filter("vec_id = 0"), df, k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 4]
    assert rows[0]["sim"] > 0.99
    assert all(r["query_id"] == 0 for r in rows)


def test_cosine_matches_math(spark):
    df = _vecs(spark)
    out = S.cosine_topk(df.filter("vec_id = 2"), df.filter("vec_id = 4"), k=1, exclude_self=False)
    got = out.first()["sim"]
    expected = 0.5 / (1.0 * math.sqrt(4 * 0.25))
    assert abs(got - expected) < 1e-6


def test_embedding_near_dup_threshold(spark):
    out = S.embedding_near_dup(_vecs(spark), threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_embedding_near_dup_blocked_matches_pair_join(spark, sf_tiny):
    # the distributed block-matrix path must be EXACT: same pairs + sims
    # (6 dp) as the native pair-join ground truth, for any chunk count
    from recommender_system_with_pyspark_spark.io import load_table

    emb = load_table(spark, sf_tiny, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_near_dup(emb, threshold=0.4).collect()
    }
    for n_chunks in (1, 3):
        blocked = {
            (r["id_a"], r["id_b"]): r["sim"]
            for r in S.embedding_near_dup_blocked(
                emb, threshold=0.4, n_chunks=n_chunks
            ).collect()
        }
        assert blocked.keys() == exact.keys()
        assert all(abs(blocked[k] - exact[k]) < 1e-6 for k in exact)


def test_lsh_topk_recalls_nearest(spark):
    df = _vecs(spark)
    out = S.lsh_topk(df.filter("vec_id = 0"), df, k=1, num_hash_tables=8, bucket_length=2.0)
    top = out.filter("rank = 1").first()
    assert top["neighbor_id"] == 1


def test_ivf_topk_recalls_nearest(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_tiny, "embeddings")
    queries = emb.filter("vec_id < 5")
    exact = cosine_topk(queries, emb, k=3)
    approx = S.ivf_topk(queries, emb, k=3, n_cells=4, n_probe=4)  # probe all → exact
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert e == a  # probing every cell must reproduce brute force


def test_ivf_topk_exact_equals_brute_force_even_with_one_probe(spark, sf_tiny):
    """The radius-bound guarantee: ivf_topk_exact must reproduce brute
    force (ids, sims, AND ranks) no matter how stingy the probe budget is
    — phase 2's triangle-inequality bound has to recover whatever the
    n_probe nearest cells missed. n_probe=1 is the adversarial setting."""
    from recommender_system_with_pyspark_spark.io import load_table

    emb = load_table(spark, sf_tiny, "embeddings")
    queries = emb.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in S.cosine_topk(queries, emb, k=3).collect()
    }
    for n_cells, n_probe in ((4, 1), (8, 2)):
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
            for r in S.ivf_topk_exact(
                queries, emb, k=3, n_cells=n_cells, n_probe=n_probe
            ).collect()
        }
        assert got == exact


def test_ivf_partitioned_index_prunes_partitions(spark, sf_tiny, tmp_path):
    """The IVF scale story made concrete: probing reads ONLY the n_probe
    cell partitions (PartitionFilters in the scan; pruned files never
    listed), and the pruned scan's top-k equals brute force restricted to
    the probed cells."""
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.plans.explain import formatted_plan

    emb = load_table(spark, sf_tiny, "embeddings")
    path = str(tmp_path / "ivf_index")
    centers = S.write_ivf_index(emb, path, "vec_id", "embedding", n_cells=8, seed=1)
    assert len(centers) == 8

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = S.ivf_probe(spark, path, centers, qvec, n_probe=2, k=5)
    plan = formatted_plan(out)
    # the literal cell filter must prune at the partition level, not post-scan
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    rows = out.collect()
    assert len(rows) == 5
    probed_cells = {r["cell"] for r in rows}
    assert len(probed_cells) <= 2
    # pruned-scan result == brute force over the probed partitions
    full = spark.read.parquet(path)
    brute = (
        full.filter(F.col("cell").isin([int(c) for c in probed_cells]))
        .withColumn("sim", F.round(S.cosine(
            F.array(*[F.lit(x) for x in qvec]), F.col("embedding")), 6))
        .orderBy(F.desc("sim"), F.asc("neighbor_id")).limit(5).collect()
    )
    assert [(r["neighbor_id"], r["sim"]) for r in rows] == \
           [(r["neighbor_id"], r["sim"]) for r in brute]


def test_quantize_int8_roundtrip_error_bounded(spark):
    from recommender_system_with_pyspark_spark.operators.similarity import quantize_int8
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.001, 0.002, -0.0005])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_int8(df, "embedding")
    rows = {r.vec_id: r for r in q.collect()}
    for vid, orig in [(1, [0.5, -1.0, 0.25]), (2, [0.001, 0.002, -0.0005])]:
        r = rows[vid]
        assert max(abs(v) for v in r.q) == 127  # max element saturates
        for x, qi in zip(orig, r.q):
            assert abs(x - qi / r.scale) <= 0.5 / r.scale + 1e-12


def test_ivf_exact_isolated_query_still_returns_topk(spark):
    """Regression: a query alone in its KMeans cell has NO phase-1
    candidates, so no kth row exists — an inner join on kth silently
    skipped phase 2 and returned zero rows instead of the true top-k."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_exact,
    )

    rows = [(0, [1.0, 0.0])] + [
        (i, [-1.0 + 0.001 * i, 0.001 * i]) for i in range(1, 6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    exact = {(r["neighbor_id"], r["rank"]) for r in cosine_topk(q, emb, k=3).collect()}
    got = {
        (r["neighbor_id"], r["rank"])
        for r in ivf_topk_exact(q, emb, k=3, n_cells=2, n_probe=1, seed=1).collect()
    }
    assert got == exact and len(got) == 3


def test_indexed_probe_prunes_and_full_probe_equals_brute(spark, sf_tiny, tmp_path):
    """The prebuilt-index probe: (a) the literal cell filter must reach
    the scan as a PartitionFilter — unprobed cells are pruned FILE READS;
    (b) probing ALL cells through the physical index (partitioned layout
    + centroid sidecar + carried label column) must reproduce
    brute-force hard negatives bit-for-bit; (c) the sidecar round-trips
    the fitted centroids."""
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.plans.explain import formatted_plan

    emb = load_table(spark, sf_tiny, "embeddings")
    path = str(tmp_path / "ivf_labeled")
    centers = S.write_ivf_index(
        emb, path, "vec_id", "embedding", n_cells=4, seed=1, extra_cols=("label",)
    )
    assert S.read_ivf_centers(spark, path) == centers

    anchors = emb.filter("vec_id < 6")
    probe = S.hard_negatives_indexed(spark, path, anchors, k=3, n_probe=2)
    plan = formatted_plan(probe)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    got = probe.collect()
    assert got and all(r["rank"] <= 3 for r in got)

    full = S.hard_negatives_indexed(spark, path, anchors, k=3, n_probe=4)
    assert sorted(map(tuple, full.collect())) == brute_topk(emb, anchors, 3, pos_col="label")


@pytest.mark.parametrize("exclude_self", [True, False])
@pytest.mark.parametrize("pos_col", [None, "label"])
def test_cosine_topk_equals_numpy_brute_on_ties(spark, pos_col, exclude_self):
    """The exact top-k against an independent numpy brute force on a
    tie-heavy frame, for every mask combination: ties at the k boundary
    resolve to the smallest neighbor ids inside every batch."""
    df = tie_corpus(spark)
    q = df.filter(F.col("vec_id") == 900)
    got = S.cosine_topk(q, df, k=8, exclude_self=exclude_self, pos_col=pos_col)
    assert sorted(map(tuple, got.collect())) == brute_topk(
        df, q, 8, exclude_self=exclude_self, pos_col=pos_col
    )


def test_cosine_topk_keeps_id_types(spark):
    """Output ids keep the input id type (ALS factor ids are int)."""
    df = _vecs(spark).withColumn("vec_id", F.col("vec_id").cast("int"))
    out = S.cosine_topk(df.filter("vec_id = 0"), df, k=2)
    assert out.schema["query_id"].dataType.simpleString() == "int"
    assert out.schema["neighbor_id"].dataType.simpleString() == "int"
    assert [r["neighbor_id"] for r in out.orderBy("rank").collect()] == [1, 4]


def test_hard_negatives_indexed_null_label_semantics(spark, tmp_path):
    """NULL labels follow IS DISTINCT FROM on the indexed path too: a
    NULL-labeled anchor excludes NULL-labeled candidates (not distinct)
    and keeps every labeled one."""
    rows = [
        (0, [1.0, 0.0], None),
        (1, [0.99, 0.01], None),   # same (null) label -> excluded
        (2, [0.98, 0.02], 7),      # labeled -> kept
        (3, [-1.0, 0.0], 7),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    path = str(tmp_path / "ivf_nulls")
    S.write_ivf_index(emb, path, n_cells=2, seed=1, extra_cols=("label",))
    out = S.hard_negatives_indexed(
        spark, path, emb.filter("vec_id = 0"), k=2, n_probe=2
    ).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 3]
