"""Unit tests for cleaning operators (SURVEY §2.2) against hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators import cleaning as C


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_drop_null_rows(spark):
    df = _df(spark, [(1, "a"), (None, "b"), (2, None)], "id int, s string")
    assert C.drop_null_rows(df).count() == 1
    assert C.drop_null_rows(df, subset=["id"]).count() == 2


def test_null_audit(spark):
    df = _df(spark, [(1, None), (None, None)], "a int, b string")
    row = C.null_audit(df).first()
    assert row["a_nulls"] == 1 and row["b_nulls"] == 2


def test_sentinel_to_null_and_fill_const(spark):
    df = _df(spark, [("[]",), ("x",), (None,)], "g string")
    out = C.sentinel_to_null(df, {"g": "[]"})
    assert out.filter(F.col("g").isNull()).count() == 2
    filled = C.fill_const(out, {"g": "No family"})
    assert filled.filter(F.col("g") == "No family").count() == 2


def test_fill_mean(spark):
    df = _df(spark, [(1.0,), (3.0,), (None,)], "x double")
    out = C.fill_mean(df, ["x"])
    assert out.filter(F.col("x") == 2.0).count() == 1
    assert out.filter(F.col("x").isNull()).count() == 0


def test_fill_mean_independent_columns(spark):
    # The v1 reference bug (`functions.py:97`) filled one column with
    # another's mean; verify each column gets its own.
    df = _df(spark, [(1.0, 10.0), (3.0, None), (None, 30.0)], "a double, b double")
    out = C.fill_mean(df, ["a", "b"])
    assert out.filter(F.col("a") == 2.0).count() == 1
    assert out.filter(F.col("b") == 20.0).count() == 1


def test_fill_mode_tie_break(spark):
    df = _df(spark, [("b",), ("b",), ("a",), ("a",), (None,), ("c",)], "s string")
    out = C.fill_mode(df, ["s"])
    # tie between a and b at count 2 → value asc wins → 'a'
    assert out.filter(F.col("s") == "a").count() == 3


def test_fill_mean_mode_is_one_aggregate_with_per_column_rules(spark):
    """Means and modes come from one aggregate action (as many jobs as one
    plain aggregate), and each column gets the fill its own rule gives
    alone: its mean, or its most frequent value with ties to the lowest,
    nulls excluded."""
    df = _df(
        spark,
        [("b", 1.0, 5), ("b", None, 5), ("a", 3.0, None), ("a", None, 7), (None, 5.0, 7), ("c", None, None)],
        "s string, x double, n int",
    )
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            result = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    _, one_aggregate = jobs("fill-test-avg", lambda: df.agg(F.avg("x")).first())
    out, fill_jobs = jobs("fill-test-fill", lambda: C.fill_mean_mode(df, ["x"], ["s", "n"]))
    assert fill_jobs == one_aggregate
    got = sorted(out.collect(), key=lambda r: (r.s, r.x, r.n))
    assert got == sorted(C.fill_mode(C.fill_mode(C.fill_mean(df, ["x"]), ["s"]), ["n"]).collect(),
                         key=lambda r: (r.s, r.x, r.n))
    assert out.filter(F.col("s") == "a").count() == 3  # a/b tie at 2 → 'a'
    assert out.filter(F.col("n") == 5).count() == 4  # 5/7 tie at 2 → 5
    assert out.filter(F.col("x") == 3.0).count() == 4  # mean of 1, 3, 5


def test_positive_filter(spark):
    df = _df(spark, [(1, 5), (0, 5), (2, 0), (3, 3)], "x int, y int")
    assert C.positive_filter(df, ["x", "y"]).count() == 2


def test_iqr_outlier_filter_exact_subset(spark):
    rows = [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    df = _df(spark, rows, "x double")
    out = C.iqr_outlier_filter(df, ["x"], k=1.0, exact=True)
    vals = {r["x"] for r in out.collect()}
    assert 1000.0 not in vals
    assert vals <= {float(v) for v in range(1, 10)}  # output ⊆ input


def test_iqr_approx_close_to_exact(spark):
    rows = [(float(v),) for v in range(1000)] + [(1e9,)]
    df = _df(spark, rows, "x double")
    exact = C.iqr_outlier_filter(df, ["x"], exact=True).count()
    approx = C.iqr_outlier_filter(df, ["x"], exact=False, relative_error=0.01).count()
    assert abs(exact - approx) <= 30


def test_zero_variance_prune(spark):
    df = _df(spark, [(1, 7, 1.0), (2, 7, 2.0), (3, 7, 3.0)], "a int, dead int, c double")
    out = C.zero_variance_prune(df)
    assert "dead" not in out.columns
    assert {"a", "c"} <= set(out.columns)


def test_discretize_label_threshold(spark):
    df = _df(spark, [(3.9,), (4.0,), (8.5,)], "Rating double")
    out = C.discretize_label(df)  # threshold 4.0 — code semantics (F2)
    got = {(r["Rating"], r["buckets"]) for r in out.collect()}
    assert got == {(3.9, 0.0), (4.0, 1.0), (8.5, 1.0)}


def test_round_column(spark):
    df = _df(spark, [(7.25,), (7.24,)], "Rating double")
    out = C.round_column(df, "Rating", 1)
    assert {r["Rating"] for r in out.collect()} == {7.3, 7.2}


def test_strip_chars_from_names(spark):
    df = _df(spark, [(1, 2)], "`a.b` int, c int")
    out = C.strip_chars_from_names(df)
    assert out.columns == ["ab", "c"]


def test_cast_columns(spark):
    df = _df(spark, [(1.0, 1)], "x double, k int")
    out = C.cast_columns(df, {"x": "int", "k": "boolean"})
    assert dict(out.dtypes) == {"x": "int", "k": "boolean"}


def test_bins_monotone_and_balanced(spark):
    from recommender_system_with_pyspark_spark.operators.cleaning import (
        equal_width_bins, quantile_bins,
    )

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, x double")
    qb = quantile_bins(df, "x", n_bins=4, out_col="qb", tiebreak=["id"])
    counts = {r.qb: r.n for r in qb.groupBy("qb").count().withColumnRenamed("count", "n").collect()}
    assert counts == {1: 25, 2: 25, 3: 25, 4: 25}  # equal frequency
    wb = equal_width_bins(df, "x", 0.0, 100.0, n_bins=10, out_col="wb")
    got = {r.x: r.wb for r in wb.collect()}
    assert got[0.0] == 1 and got[9.0] == 1 and got[10.0] == 2 and got[99.0] == 10
    # out-of-range sentinels
    oob = equal_width_bins(
        spark.createDataFrame([(1, -5.0), (2, 100.0)], "id long, x double"),
        "x", 0.0, 100.0, n_bins=10, out_col="wb")
    assert {r.x: r.wb for r in oob.collect()} == {-5.0: 0, 100.0: 11}


def test_quantile_bins_matches_ntile_exactly(spark):
    """The distributed construction (sketch groups + offset arithmetic) must
    be bit-identical to ntile over the total order — asc, desc, with ties,
    with nulls, and with n not divisible by n_bins."""
    from pyspark.sql import Window
    from recommender_system_with_pyspark_spark.operators.cleaning import quantile_bins

    rows = [(i, float(v)) for i, v in enumerate(
        [5, 3, 3, 8, 1, 9, 3, 7, 2, 2, 6, 4, 4, 4, 0, 11, 5, 5, 3])]
    rows += [(100, None), (101, None), (102, None)]
    df = spark.createDataFrame(rows, "id int, x double")

    for desc, bins in [(False, 4), (True, 4), (False, 7), (True, 3)]:
        key = F.col("x").desc() if desc else F.col("x").asc()
        w = Window.orderBy(key, F.col("id"))
        want = {r["id"]: r["b"] for r in
                df.withColumn("b", F.ntile(bins).over(w)).collect()}
        got = {r["id"]: r["b"] for r in
               quantile_bins(df, "x", n_bins=bins, out_col="b",
                             tiebreak=("id",), descending=desc,
                             n_groups=4).collect()}
        assert got == want, f"desc={desc} bins={bins}"


def test_quantile_bins_more_bins_than_rows(spark):
    from recommender_system_with_pyspark_spark.operators.cleaning import quantile_bins

    df = spark.createDataFrame([(1, 2.0), (2, 1.0)], "id int, x double")
    got = {r["id"]: r["b"] for r in
           quantile_bins(df, "x", n_bins=5, out_col="b", tiebreak=("id",)).collect()}
    assert got == {2: 1, 1: 2}  # each row its own bucket, order by x
