"""Round-13 tests: MIPS→cosine ALS serving, fingerprint build-parameter
contract + session memoization, distributed comparator equivalence,
compaction storage lifecycle, select_n_probe threshold discipline."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# MIPS→cosine reduction
# ---------------------------------------------------------------------------


def test_mips_augment_norm_and_order(spark):
    """Every augmented item has norm exactly M (float dust aside), and the
    cosine ranking of augmented pairs equals the dot ranking of the
    originals — the Bachrach-reduction invariant the ALS serving path
    rests on."""
    import math

    from recommender_system_with_pyspark_spark.operators.similarity import (
        mips_augment_items,
        mips_augment_queries,
        mips_max_norm,
    )

    items = spark.createDataFrame(
        [(i, [float(i % 5) - 2.0, float((i * 7) % 11) / 3.0, 1.0]) for i in range(20)],
        "id int, embedding array<double>",
    )
    m = mips_max_norm(items, "embedding")
    aug = mips_augment_items(items, m, "embedding", out_col="aug").collect()
    for r in aug:
        norm = math.sqrt(sum(x * x for x in r["aug"]))
        assert abs(norm - m) < 1e-9, (r["id"], norm, m)

    # dot ranking vs cosine-of-augmented ranking for a fixed query
    qvec = [0.3, -1.2, 2.0]
    orig = {r["id"]: r["embedding"] for r in items.collect()}
    dots = {i: sum(a * b for a, b in zip(qvec, v)) for i, v in orig.items()}
    q = spark.createDataFrame([(0, qvec)], "id int, embedding array<double>")
    qa = mips_augment_queries(q, "embedding", out_col="aug").first()["aug"]
    assert qa[-1] == 0.0 and len(qa) == 4
    cos = {}
    for r in aug:
        d = sum(a * b for a, b in zip(qa, r["aug"]))
        na = math.sqrt(sum(x * x for x in qa))
        cos[r["id"]] = d / (na * m)
    order_dot = sorted(dots, key=lambda i: (-dots[i], i))
    order_cos = sorted(cos, key=lambda i: (-cos[i], i))
    assert order_dot == order_cos


def test_als_recommend_ann_recall(spark, sf_tiny):
    """Registry entry: recall is monotone in n_probe and ~exact at the
    full probe (only 6dp score ties at the k-boundary may nick it)."""
    from recommender_system_with_pyspark_spark.queries_round13 import (
        als_recommend_ann,
    )

    rows = {r["n_probe"]: r for r in als_recommend_ann(spark, sf_tiny).collect()}
    assert set(rows) == {2, 4, 8}
    recalls = [rows[p]["recall"] for p in (2, 4, 8)]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= 0.9, recalls
    assert all(r["k"] == 10 and r["n_users"] > 0 for r in rows.values())


# ---------------------------------------------------------------------------
# Fingerprint build-parameter contract + memoization
# ---------------------------------------------------------------------------


@pytest.fixture()
def small_corpus(spark):
    return spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0], i % 2) for i in range(64)],
        "vec_id long, embedding array<double>, label int",
    )


def test_validate_rejects_config_drift(spark, small_corpus, tmp_path):
    """ADVICE r12 (medium): a corpus-identical index built at a different
    n_cells/seed/extra_cols must report stale."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        validate_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(small_corpus, path, n_cells=4, seed=1, extra_cols=("label",))
    ok = validate_ivf_index(
        spark, path, small_corpus, extra_cols=("label",), n_cells=4, seed=1
    )
    assert ok
    assert not validate_ivf_index(
        spark, path, small_corpus, extra_cols=("label",), n_cells=8, seed=1
    )
    assert not validate_ivf_index(
        spark, path, small_corpus, extra_cols=("label",), n_cells=4, seed=2
    )
    assert not validate_ivf_index(
        spark, path, small_corpus, extra_cols=(), n_cells=4, seed=1
    )
    # n_cells/seed omitted -> corpus + extra_cols check only
    assert validate_ivf_index(spark, path, small_corpus, extra_cols=("label",))


def test_validate_rejects_pre_r13_sidecar(spark, small_corpus, tmp_path):
    """A sidecar without the parameter columns (pre-r13 build) cannot
    prove its configuration — stale, rebuild."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        validate_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(small_corpus, path, n_cells=4, seed=1, extra_cols=("label",))
    old = spark.read.parquet(f"{path}/_fingerprint").select("n_rows", "fp")
    old.toPandas().to_parquet(str(tmp_path / "old_fp.parquet"))
    import shutil

    shutil.rmtree(f"{path}/_fingerprint")
    os.makedirs(f"{path}/_fingerprint")
    shutil.copy(
        str(tmp_path / "old_fp.parquet"), f"{path}/_fingerprint/part-0.parquet"
    )
    assert not validate_ivf_index(spark, path, small_corpus, extra_cols=("label",))


def test_validate_memoization(spark, small_corpus, tmp_path, monkeypatch):
    """VERDICT r12 #7: with a memo token, the corpus aggregate runs once
    per session; a token change revalidates; a rebuild clears the memo."""
    from recommender_system_with_pyspark_spark.operators import similarity as S

    path = str(tmp_path / "idx")
    S.write_ivf_index(small_corpus, path, n_cells=4, seed=1, extra_cols=("label",))

    calls = {"n": 0}
    real = S._corpus_fingerprint

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(S, "_corpus_fingerprint", counting)
    kw = dict(extra_cols=("label",), n_cells=4, seed=1)
    assert S.validate_ivf_index(spark, path, small_corpus, memo_token="t1", **kw)
    assert S.validate_ivf_index(spark, path, small_corpus, memo_token="t1", **kw)
    assert calls["n"] == 1  # second call served from the memo
    assert S.validate_ivf_index(spark, path, small_corpus, memo_token="t2", **kw)
    assert calls["n"] == 2  # token change -> revalidate
    # rebuild clears every memoized verdict (write_ivf_index itself
    # fingerprints the corpus once for the sidecar -> +1)
    S.write_ivf_index(small_corpus, path, n_cells=4, seed=1, extra_cols=("label",))
    assert calls["n"] == 3
    assert S.validate_ivf_index(spark, path, small_corpus, memo_token="t1", **kw)
    assert calls["n"] == 4  # the t1 memo was cleared by the rebuild


def test_fingerprint_quoted_columns(spark):
    """ADVICE r12 (low): extra columns with dots/spaces in their names
    must hash as literal fields, not parse as paths."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        _corpus_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], "x"), (2, [3.0, 4.0], "y")],
        ["vec_id", "embedding", "weird name"],
    ).withColumnRenamed("weird name", "a.b c")
    n, fp = _corpus_fingerprint(df, "vec_id", "embedding", ("a.b c",))
    assert n == 2
    df2 = spark.createDataFrame(
        [(1, [1.0, 2.0], "x"), (2, [3.0, 4.0], "Z")],
        ["vec_id", "embedding", "w"],
    ).withColumnRenamed("w", "a.b c")
    n2, fp2 = _corpus_fingerprint(df2, "vec_id", "embedding", ("a.b c",))
    assert n2 == 2 and fp2 != fp  # the weird-named column's values DO count


def test_select_n_probe_unrounded_threshold(spark, monkeypatch):
    """ADVICE r12 (low): a point whose true recall is 0.89996 (displayed
    0.9) must NOT satisfy a 0.9 target."""
    from recommender_system_with_pyspark_spark.operators import similarity as S

    fake = [
        {"n_probe": 1, "recall": 0.9, "recall_raw": 0.89996},
        {"n_probe": 2, "recall": 0.95, "recall_raw": 0.95},
        {"n_probe": 3, "recall": 1.0, "recall_raw": 1.0},
        {"n_probe": 4, "recall": 1.0, "recall_raw": 1.0},
    ]
    monkeypatch.setattr(S, "ivf_recall_curve", lambda *a, **kw: list(fake))
    sel = S.select_n_probe(
        spark, "/nonexistent", None, target_recall=0.9,
        centers=[[1.0], [2.0], [3.0], [4.0]],
    )
    assert sel["n_probe"] == 2


# ---------------------------------------------------------------------------
# Distributed comparator
# ---------------------------------------------------------------------------


def test_distributed_comparator_agrees(spark, sf_small):
    """Spark-side and DuckDB-side canonical hashes agree on real oracle
    pairs spanning strings, bigints, doubles, and dates."""
    import __spark_entry__ as e
    from recommender_system_with_pyspark_spark.testing import (
        compare_to_oracle_distributed,
    )

    qs, oracles = e.queries(), e.oracle_sql()
    # cube_agg and event_volume_anomalies pin the two canonicalization
    # splits the r13 agreement sweep found (DECIMAL-vs-DOUBLE rendering,
    # DATE-vs-midnight-TIMESTAMP from date_trunc)
    for name in (
        "pricing_summary", "having_count", "scd2_history",
        "cube_agg", "event_volume_anomalies",
    ):
        compare_to_oracle_distributed(qs[name](spark, sf_small), oracles[name], sf_small)


def test_distributed_comparator_detects_mismatch(spark, sf_small):
    import __spark_entry__ as e
    from recommender_system_with_pyspark_spark.testing import (
        compare_to_oracle_distributed,
    )

    qs, oracles = e.queries(), e.oracle_sql()
    df = qs["having_count"](spark, sf_small).limit(3)
    with pytest.raises(AssertionError):
        compare_to_oracle_distributed(df, oracles["having_count"], sf_small)


def test_distributed_comparator_value_sensitivity(spark, sf_small):
    """Same row count, one value nudged by 1e-6 -> hash mismatch (the
    count check alone would pass)."""
    import __spark_entry__ as e
    from recommender_system_with_pyspark_spark.testing import (
        compare_to_oracle_distributed,
    )

    qs, oracles = e.queries(), e.oracle_sql()
    df = qs["pricing_summary"](spark, sf_small)
    float_col = next(
        f.name for f in df.schema.fields if f.dataType.simpleString() == "double"
    )
    nudged = df.withColumn(float_col, F.col(float_col) + F.lit(1e-4))
    with pytest.raises(AssertionError, match="content hash"):
        compare_to_oracle_distributed(nudged, oracles["pricing_summary"], sf_small)


def test_distributed_comparator_rejects_arrays(spark, sf_small):
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.testing import (
        UnsupportedTypeError,
        spark_result_hash,
    )

    emb = load_table(spark, sf_small, "embeddings")
    with pytest.raises(UnsupportedTypeError):
        spark_result_hash(emb)


def test_distributed_comparator_null_nan(spark):
    """NULL and NaN both canonicalize to the NULL token; engines agree."""
    from recommender_system_with_pyspark_spark.testing import spark_result_hash

    df = spark.createDataFrame(
        [(1, None), (2, float("nan")), (3, 1.5)], "id int, x double"
    )
    n, fp = spark_result_hash(df)
    assert n == 3
    import duckdb

    con = duckdb.connect()
    dn, dfp = con.sql(
        "SELECT count(*), bit_xor(CAST(concat('0x', substring(md5("
        "concat_ws(chr(31), coalesce(CAST(id AS VARCHAR),'NULL'), "
        "CASE WHEN x IS NULL OR isnan(x) THEN 'NULL' "
        "ELSE printf('%.6f', round(x, 6)) END)"
        "), 1, 15)) AS BIGINT)) FROM (VALUES (1, NULL), (2, 'NaN'::DOUBLE), "
        "(3, 1.5)) t(id, x)"
    ).fetchone()
    assert (n, fp) == (int(dn), int(dfp))


# ---------------------------------------------------------------------------
# Compaction storage lifecycle
# ---------------------------------------------------------------------------


def test_dense_id_compaction_releases_checkpoint(spark):
    """ADVICE r12 (medium): after compaction returns, the only persisted
    blocks this call added are the mapping caches — the distinct-id
    checkpoints are released; release_compaction_maps drops the rest."""
    from recommender_system_with_pyspark_spark.operators.relational import (
        dense_id_compaction,
        release_compaction_maps,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    big = spark.createDataFrame(
        [(2**40 + i, i % 5, float(i)) for i in range(200)],
        "user_id long, item_id long, rating double",
    )
    out, maps = dense_id_compaction(big, ["user_id"])
    assert out.count() == 200
    added = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    # exactly the cached mapping remains (its storage may span >=1 RDD
    # infos); no checkpoint RDD may survive the call
    assert maps["user_id"] is not None
    names = [str(i.name()) for i in added]
    assert added, "mapping cache should be materialized"
    assert not any("LocalCheckpoint" in n for n in names), names
    release_compaction_maps(maps)
    import time

    time.sleep(0.5)  # async unpersist
    after = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    assert len(after) < len(added) or not after


def test_recommend_topk_ann_full_probe_matches_exact(spark, sf_tiny, tmp_path):
    """ml.models ANN serving API: at n_probe = n_cells the served top-k
    ids equal MLlib's own recommendForUserSubset, and the recovered dot
    scores match the exact predictions to ~1e-3."""
    from pyspark.sql import functions as F

    from recommender_system_with_pyspark_spark.ml.models import (
        build_als_ann_index,
        recommend_topk_ann,
    )
    from recommender_system_with_pyspark_spark.flagship import fit_flagship_als

    model, _id_maps = fit_flagship_als(spark, sf_tiny)
    path = str(tmp_path / "als_idx")
    centers = build_als_ann_index(model, path, n_cells=4, seed=1)
    users = model.userFactors.orderBy("id").limit(16)
    served = recommend_topk_ann(
        spark, model, path, k=5, n_probe=4, users=users, centers=centers
    )
    exact = (
        model.recommendForUserSubset(users.select(F.col("id").alias("user_id")), 5)
        .select(
            F.col("user_id").alias("id"),
            F.posexplode("recommendations").alias("pos", "rec"),
        )
        .select("id", F.col("rec.item_id").alias("neighbor_id"),
                F.col("rec.rating").alias("exact_score"))
    )
    j = served.join(exact, ["id", "neighbor_id"], "inner").collect()
    assert len(j) == served.count() == exact.count()  # same (user, item) sets
    for r in j:
        assert abs(r["score"] - r["exact_score"]) < 1e-3, r
