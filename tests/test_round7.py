"""Round-7 regressions: the last single-partition-window plan shapes
(VERDICT r6 #1/#2) and the plan-hygiene detector behind bench.py's
``plan_warnings`` field (VERDICT r6 #7)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.plans import explain as E
from recommender_system_with_pyspark_spark.plans.explain import (
    unpartitioned_window_specs,
)


def _query(spark, sf_tiny, name):
    from recommender_system_with_pyspark_spark.registry import (
        QUERIES,
        load_all_queries,
    )

    load_all_queries()
    return QUERIES[name](spark, sf_tiny)


# ---------------------------------------------------------------- detector


def test_detector_flags_unpartitioned_window(spark):
    df = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert len(unpartitioned_window_specs(df)) == 1


def test_detector_accepts_partitioned_window(spark):
    df = spark.range(10).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(F.col("id") % 3).orderBy("id")),
    )
    assert unpartitioned_window_specs(df) == []


def test_detector_handles_commas_inside_order_expr(spark):
    # order expression with nested commas (round(x, 1)) must not be
    # mis-split into a fake partition arg
    df = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy(F.round(F.col("id") / 3, 1), "id"))
    )
    assert len(unpartitioned_window_specs(df)) == 1


# ------------------------------------------------------- small_frame_ranks


def test_small_frame_ranks_matches_window_truth(spark):
    from recommender_system_with_pyspark_spark.operators.relational import (
        small_frame_ranks,
    )

    rows = [("a", 10.0), ("b", 30.0), ("c", 30.0), ("d", 5.0), ("e", 20.0),
            ("f", 20.0), ("g", 1.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["rn"], r["dr"], r["q"])
        for r in small_frame_ranks(
            df, [("v", "desc"), ("k", "asc")],
            row_number_col="rn", dense_rank_col="dr", ntile_col="q", ntile_n=3,
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("k"))
    truth = {
        r["k"]: (r["rn"], r["dr"], r["q"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.dense_rank().over(w).alias("dr"),
            F.ntile(3).over(w).alias("q"),
        ).collect()
    }
    assert got == truth


def test_small_frame_ranks_dense_rank_ties_on_partial_key(spark):
    # dense_rank over value only (ties share a rank) while ntile/rn use the
    # tie-broken order — the rank_brands composition
    from recommender_system_with_pyspark_spark.operators.relational import (
        small_frame_ranks,
    )

    df = spark.createDataFrame(
        [("a", 2.0), ("b", 2.0), ("c", 1.0)], "k string, v double"
    )
    got = {
        r["k"]: r["dr"]
        for r in small_frame_ranks(
            df, [("v", "desc")], row_number_col=None, dense_rank_col="dr"
        ).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 2}


def test_small_frame_ranks_plan_has_no_window(spark):
    from recommender_system_with_pyspark_spark.operators.relational import (
        small_frame_ranks,
    )

    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    out = small_frame_ranks(df, [("v", "desc"), ("k", "asc")])
    assert "Window" not in E.formatted_plan(out)


# ------------------------------------------------- migrated query plans


def test_vocab_topk_plan_is_window_free(spark, sf_tiny):
    """VERDICT r6 #1: the vocab rank must come from TakeOrdered + the
    broadcast self-join — no window anywhere, so a billion-token vocab
    never sees a single-partition sort."""
    plan = E.formatted_plan(_query(spark, sf_tiny, "vocab_topk"))
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_session_paths_plan_is_window_free_after_checkpoint(spark, sf_tiny):
    """VERDICT r6 #2: ranking happens after the TakeOrdered limit,
    window-free (the sessionization windows are user_id-partitioned and
    live behind the eager checkpoint)."""
    plan = E.formatted_plan(_query(spark, sf_tiny, "session_paths"))
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_rank_brands_plan_is_window_free(spark, sf_tiny):
    plan = E.formatted_plan(_query(spark, sf_tiny, "rank_brands"))
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_peak_open_orders_no_single_partition_window(spark, sf_tiny):
    """VERDICT r6 #1: the interval sweep's running sum is
    two_stage_cumsum — every window spec is _tsc_grp-partitioned."""
    df = _query(spark, sf_tiny, "peak_open_orders")
    assert unpartitioned_window_specs(df) == []
    plan = E.formatted_plan(df)
    assert "_tsc_grp" in plan  # the cumsum subgroup windows are present
    assert plan.count("SinglePartition") <= 2


def test_user_survival_curve_no_single_partition_window(spark, sf_tiny):
    """VERDICT r6 #1: both KM cumulative passes are two_stage_cumsum; the
    final plan (after the staged checkpoint) may only contain
    _tsc_grp-partitioned windows."""
    df = _query(spark, sf_tiny, "user_survival_curve")
    assert unpartitioned_window_specs(df) == []
    assert E.formatted_plan(df).count("SinglePartition") <= 2


# ------------------------------------------------------- multimodal codecs


def test_bmp_roundtrip_bitexact():
    import numpy as np

    from recommender_system_with_pyspark_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    for h, w in [(8, 16), (5, 7), (1, 1), (3, 10)]:  # incl. padded rows
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = decode_bmp(encode_bmp(px))
        assert back.shape == (h, w, 3)
        assert (back == px).all()


def test_bmp_rejects_non_bmp_and_unsupported():
    import pytest as _pytest

    from recommender_system_with_pyspark_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
    )

    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    # no JPEG codec ships: its magic gets the unsupported-format error
    with _pytest.raises(NotImplementedError, match="JPEG"):
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x00GIF" + b"\x00" * 64)  # unknown container stays stubbed


def test_wav_roundtrip_bitexact():
    import numpy as np

    from recommender_system_with_pyspark_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = ((np.arange(300) * 37) % 40000 - 20000).astype("<i2")
    back, rate = decode_wav(encode_wav(samples, 16000))
    assert rate == 16000
    assert (back == samples).all()


def test_extract_image_features_flags_undecodable(spark):
    import numpy as np

    from recommender_system_with_pyspark_spark.operators.multimodal import (
        encode_bmp,
        extract_image_features,
    )

    px = np.full((2, 2, 3), 10, dtype=np.uint8)
    rows = [(1, bytearray(encode_bmp(px))), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = {r["media_id"]: r.asDict() for r in extract_image_features(df).collect()}
    assert got[1]["decoded"] and (got[1]["width"], got[1]["height"]) == (2, 2)
    assert got[1]["mean_r"] == 10.0 and got[1]["pixel_std"] == 0.0
    assert not got[2]["decoded"] and got[2]["width"] is None


def test_simhash_families_agree_on_equivalence_corpus(spark, sf_tiny):
    """VERDICT r6 #5: over the salted+planted-clone corpus the xxhash64
    pair set EQUALS the md5-portable ★-checked pair set (exact set
    equality, not just clone recall)."""
    from recommender_system_with_pyspark_spark.registry import (
        QUERIES,
        load_all_queries,
    )

    load_all_queries()
    rows = QUERIES["simhash_family_equivalence"](spark, sf_tiny).collect()
    assert rows, "equivalence corpus must plant at least one clone pair"
    assert all(r["in_xxhash64"] and r["in_md5"] for r in rows)
    assert all(r["id_b"] == r["id_a"] + 1_000_000 and r["id_a"] % 50 == 0 for r in rows)


# -------------------------------------------------- ALS int32 id ceiling


def test_dense_id_compaction_als_recommends_original_ids(spark):
    """sf10 finding (SCALING.md r7): key spaces beyond int32 must be
    densely compacted for MLlib ALS and translated back afterward."""
    from recommender_system_with_pyspark_spark.ml.models import (
        als_estimator,
        recommend_for_all_users,
    )
    from recommender_system_with_pyspark_spark.operators.relational import (
        dense_id_compaction,
        release_compaction_maps,
    )

    big = 5_000_000_000  # > 2^31
    rows = [
        (big + u, big * 2 + i, float((u * 3 + i) % 5 + 1))
        for u in range(8) for i in range(6)
    ]
    r = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    out, maps = dense_id_compaction(r, ["user_id", "item_id"])
    assert maps["user_id"] is not None and maps["item_id"] is not None
    stats = out.agg(
        F.min("user_id"), F.max("user_id"), F.min("item_id"), F.max("item_id")
    ).first()
    assert 1 <= stats[0] and stats[1] <= 8 and 1 <= stats[2] and stats[3] <= 6
    assert out.count() == len(rows)  # compaction is a 1:1 re-keying
    # end-to-end: fit + recommend + map back to the original long ids
    model = als_estimator(
        spark, rank=2, maxIter=2, userCol="user_id", itemCol="item_id",
        ratingCol="rating", seed=1,
    ).fit(out)
    back = recommend_for_all_users(model, 2, maps).collect()
    release_compaction_maps(maps)
    assert len(back) == 8 * 2
    assert {row["user_id"] for row in back} == {big + u for u in range(8)}
    assert {row["item_id"] for row in back} <= {big * 2 + i for i in range(6)}


# ---------------------------------------------------------- ADVICE r6 fixes


def test_referential_audit_ignores_null_child_keys(spark):
    """ADVICE r6: NULL FKs are 'no reference' in SQL semantics, not
    orphans — only the genuinely dangling non-null key counts."""
    from recommender_system_with_pyspark_spark.operators import quality as Q

    child = spark.createDataFrame([(1,), (None,), (None,), (9,)], "k long")
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    row = Q.referential_audit(child, "k", parent, "k", "fk").collect()[0]
    assert (row["violations"], row["total"]) == (1, 4)


def test_ks_statistic_drops_null_values(spark):
    """ADVICE r6: NULLs have no place in an ECDF — the statistic over a
    null-polluted column equals the statistic over the clean column."""
    from recommender_system_with_pyspark_spark.operators.drift import ks_statistic

    clean = [(float(i % 7), "a" if i % 2 else "b") for i in range(200)]
    df_clean = spark.createDataFrame(clean, "v double, c string")
    df_dirty = df_clean.unionByName(
        spark.createDataFrame([(None, "a"), (None, "b"), (None, "b")], "v double, c string")
    )
    got_clean = ks_statistic(df_clean, "v", "c", "a", "b").collect()[0]
    got_dirty = ks_statistic(df_dirty, "v", "c", "a", "b").collect()[0]
    assert got_clean["ks_stat"] == got_dirty["ks_stat"]
    assert got_dirty["n_baseline"] == got_clean["n_baseline"]  # nulls excluded


def test_zorder_key_nonnumeric_string_ranks_zero(spark):
    """ADVICE r6: a string that casts to NULL must hit the rank-0 path,
    not null the whole Morton key."""
    from recommender_system_with_pyspark_spark.operators.layout import add_zorder_key

    df = spark.createDataFrame(
        [("1", 1.0), ("oops", 2.0), ("3", 3.0)], "a string, b double"
    )
    out = {r["a"]: r["_zorder"] for r in add_zorder_key(df, ["a", "b"], bits=4).collect()}
    assert out["oops"] is not None  # key survives the bad cast
    assert all(v is not None for v in out.values())


def test_files_overlapping_box_unknown_column_raises(spark, tmp_path):
    from recommender_system_with_pyspark_spark.operators.layout import (
        files_overlapping_box,
    )
    import pytest as _pytest

    p = str(tmp_path / "box")
    spark.range(10).selectExpr("id", "id * 2 AS x").coalesce(1).write.parquet(p)
    with _pytest.raises(ValueError, match="not in parquet schema"):
        files_overlapping_box(p, {"nope": (0, 1)})
    hit, total = files_overlapping_box(p, {"x": (0.0, 5.0)})
    assert (hit, total) == (1, 1)


def test_km_survival_two_stage_matches_sequential_window(spark):
    """The DECIMAL(38,28)-cast log-term sum makes the two-stage regrouped
    cumsum bit-identical to a sequential ordered scan: compare against the
    naive single-window construction on a cohort big enough to span many
    range subgroups."""
    from recommender_system_with_pyspark_spark.operators.temporal import (
        km_survival,
    )

    cohort = spark.range(4000).select(
        (F.xxhash64("id", F.lit(1)) % 400).cast("int").alias("duration"),
        (F.abs(F.xxhash64("id", F.lit(2))) % 2).cast("int").alias("event"),
    ).filter(F.col("duration") >= 0)
    got = {
        r["duration"]: (r["n_at_risk"], r["deaths"], r["survival"])
        for r in km_survival(cohort, "duration", "event").collect()
    }
    per_t = cohort.groupBy(F.col("duration").alias("t")).agg(
        F.sum(F.when(F.col("event") == 1, 1).otherwise(0)).cast("long").alias("deaths"),
        F.count(F.lit(1)).cast("long").alias("n_t"),
    )
    w_risk = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    at_risk = per_t.withColumn("n_at_risk", F.sum("n_t").over(w_risk))
    log_term = F.when(
        F.col("deaths") > 0,
        F.log(F.greatest(1 - F.col("deaths") / F.col("n_at_risk"), F.lit(1e-300))),
    ).otherwise(F.lit(0.0))
    truth = {
        r["t"]: (r["n_at_risk"], r["deaths"], r["survival"])
        for r in at_risk.withColumn(
            "survival", F.round(F.exp(F.sum(log_term).over(w_cum)), 6)
        ).collect()
    }
    assert got == truth
