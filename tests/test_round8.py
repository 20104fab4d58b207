"""Round-8 tests (VERDICT r7 items #1/#2/#5/#6/#8).

- dense_id_compaction promoted to operators/relational.py: passthrough and
  compaction branches, restore_ids map-back, and the M10 surface
  (ml.models.als_prediction) surviving long ids end-to-end.
- Pure-stdlib PNG codec: round-trip through every scanline filter,
  dispatch, corrupt-blob flagging through the Arrow feature path, and
  BMP/PNG feature equality on identical pixel content.
- funnel durable=True: identical output, no lingering persisted stages.
- The two new registry entries against the tiny fixture.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators.relational import (
    dense_id_compaction,
    restore_ids,
)


# -------------------------------------------------- dense_id_compaction


def test_dense_id_compaction_passthrough_is_same_object(spark):
    df = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0)], "user_id long, item_id long, rating double"
    )
    out, maps = dense_id_compaction(df, ["user_id", "item_id"])
    assert out is df
    assert maps == {"user_id": None, "item_id": None}
    # restore_ids is a no-op on the passthrough maps
    assert restore_ids(out, "user_id", maps["user_id"]) is out


def test_dense_id_compaction_compacts_and_restores(spark):
    big = 5_000_000_000
    rows = [(big + u, big * 2 + i, float(u + i)) for u in range(7) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    out, maps = dense_id_compaction(df, ["user_id", "item_id"])
    assert maps["user_id"] is not None and maps["item_id"] is not None
    assert out.columns == df.columns  # original column order preserved
    stats = out.agg(
        F.min("user_id"), F.max("user_id"), F.min("item_id"), F.max("item_id"),
        F.count(F.lit(1)), F.countDistinct("user_id"), F.countDistinct("item_id"),
    ).first()
    assert stats[0] == 1 and stats[1] == 7 and stats[2] == 1 and stats[3] == 5
    assert stats[4] == len(rows) and stats[5] == 7 and stats[6] == 5
    # map-back restores the exact original (user, item, rating) triples
    restored = restore_ids(
        restore_ids(out, "user_id", maps["user_id"]), "item_id", maps["item_id"]
    )
    assert restored.columns == df.columns
    assert sorted(
        (r["user_id"], r["item_id"], r["rating"]) for r in restored.collect()
    ) == sorted(rows)


def test_dense_id_compaction_single_column_and_nulls(spark):
    """NULL is a distinct id value: it ranks first (ASC nulls-first) and
    the null-safe re-key join must keep the row — a plain equi-join would
    silently drop it."""
    df = spark.createDataFrame(
        [(5_000_000_000, "a"), (None, "b"), (7, "c")], "k long, v string"
    )
    out, maps = dense_id_compaction(df, ["k"])
    assert maps["k"] is not None
    got = {r["v"]: r["k"] for r in out.collect()}
    assert set(got) == {"a", "b", "c"}  # no row lost
    assert got["b"] == 1  # null ranks first
    assert got["c"] == 2 and got["a"] == 3
    assert maps["k"].filter(F.col("k").isNull()).count() == 1


def test_als_prediction_m10_surface_survives_long_ids(spark):
    """The M10 surface (ml.models.als_prediction) must not CAST_OVERFLOW on
    long ids and must report predictions keyed by the ORIGINAL ids."""
    from recommender_system_with_pyspark_spark.ml.models import als_prediction

    big = 5_000_000_000
    rows = [
        (big + u, big * 2 + i, float((u * 3 + i) % 5 + 1))
        for u in range(30) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "user_id long, item_id long, rating double")
    res = als_prediction(
        df, ranks=(2,), reg_params=(0.1,), max_iter=2, seed=1, tune=False
    )
    assert res.metrics["rmse"] >= 0.0
    pred = res.predictions.select("user_id", "item_id").collect()
    assert pred, "seeded 80/20 split of 360 rows must leave a test slice"
    assert all(r["user_id"] >= big and r["item_id"] >= big * 2 for r in pred)


def test_als_prediction_passthrough_unchanged_for_int_ids(spark):
    """Within-int32 ids take the exact passthrough: same metrics as before
    the round-8 guard (golden band pinned by test_ml elsewhere; here just
    assert the prediction ids are the originals and nothing was re-keyed)."""
    from recommender_system_with_pyspark_spark.ml.models import als_prediction

    rows = [(u, i, float((u + i) % 5 + 1)) for u in range(25) for i in range(10)]
    df = spark.createDataFrame(rows, "user_id int, item_id int, rating double")
    res = als_prediction(df, ranks=(2,), reg_params=(0.1,), max_iter=2, seed=1, tune=False)
    got = {(r["user_id"], r["item_id"]) for r in res.predictions.select("user_id", "item_id").collect()}
    assert got <= {(u, i) for u, i, _ in rows}


# -------------------------------------------------- PNG codec


def test_png_round_trip_all_filters(spark):
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    # >=5 rows so every filter type (row % 5) is exercised; odd widths too
    for h, w in [(8, 16), (5, 3), (6, 1), (17, 9)]:
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        blob = encode_png(px)
        rt = decode_png(blob)
        assert rt.dtype == np.uint8 and rt.shape == (h, w, 3)
        assert (rt == px).all()
        assert (decode_image(blob) == px).all()  # dispatch


def test_png_rejects_unsupported_variants():
    from recommender_system_with_pyspark_spark.operators.multimodal import decode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # corrupt a valid blob's IHDR colortype -> unsupported-variant error
    from recommender_system_with_pyspark_spark.operators.multimodal import encode_png

    blob = bytearray(encode_png(np.zeros((2, 2, 3), np.uint8)))
    blob[8 + 8 + 9] = 6  # colortype byte inside IHDR -> RGBA
    with pytest.raises(ValueError):
        decode_png(bytes(blob))


def test_image_features_png_equal_bmp_and_flag_corrupt(spark):
    """Same pixel content through both containers must yield identical
    feature rows; an unsupported container (JPEG magic) or a truncated
    blob flags decoded=false with null stats, never a task error or a
    lost row."""
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        encode_bmp,
        extract_image_features,
        text_to_bmp_media,
        text_to_png_media,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "pack my box with five dozen jugs")],
        "doc_id long, text string",
    )
    bmp = extract_image_features(text_to_bmp_media(docs)).collect()
    png = extract_image_features(text_to_png_media(docs)).collect()
    assert sorted(map(tuple, bmp), key=lambda t: t[0]) == sorted(
        map(tuple, png), key=lambda t: t[0]
    )
    mixed = spark.createDataFrame(
        [
            (7, bytearray(encode_bmp(np.full((2, 4, 3), 9, np.uint8)))),
            (8, bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 64)),
            (9, bytearray(b"\x89PNG\r\n\x1a\nbroken")),
        ],
        "media_id long, media binary",
    )
    rows = {r["media_id"]: r for r in extract_image_features(mixed).collect()}
    assert sorted(rows) == [7, 8, 9]
    assert rows[7]["decoded"] is True and rows[7]["width"] == 4
    stats = ("width", "height", "mean_r", "mean_g", "mean_b", "pixel_std")
    for mid in (8, 9):
        assert rows[mid]["decoded"] is False
        assert all(rows[mid][c] is None for c in stats)


# -------------------------------------------------- funnel durable mode


def test_funnel_durable_matches_default(spark):
    from recommender_system_with_pyspark_spark.operators.temporal import funnel

    rows = []
    for u in range(40):
        rows.append((u, 100 + u, "view"))
        if u % 2 == 0:
            rows.append((u, 200 + u, "cart"))
        if u % 4 == 0:
            rows.append((u, 300 + u, "buy"))
        if u % 8 == 0:
            rows.append((u, 50 + u, "buy"))  # before the view -> must not count
    ev = spark.createDataFrame(rows, "user_id long, ts long, etype string")
    args = (ev, "user_id", "ts", "etype", ["view", "cart", "buy"])
    base = funnel(*args)
    n_persistent_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    durable = funnel(*args, durable=True)
    # durable mode releases every stage before returning: no net growth in
    # the persistent-RDD registry (other session-scoped caches may exist)
    n_persistent_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_persistent_after <= n_persistent_before
    assert base.collect() == durable.collect()
    expected = [(1, "view", 40), (2, "cart", 20), (3, "buy", 10)]
    got = [(r["step"], r["event_type"], r["users"]) for r in base.collect()]
    assert got == expected


# -------------------------------------------------- new registry entries


def test_als_id_ceiling_guard_tiny_passthrough(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    row = QUERIES["als_id_ceiling_guard"](spark, sf_tiny).collect()[0]
    assert row["engaged"] is False  # tiny keys fit int32 -> passthrough
    assert row["ids_fit_int32"] is True
    assert row["n_ratings"] >= row["n_users"] >= 1


def test_multimodal_png_decode_query_runs(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    out = QUERIES["multimodal_png_decode"](spark, sf_tiny)
    rows = out.collect()
    assert rows and all(r["decoded"] for r in rows)
    assert all(r["width"] == 16 and r["height"] == 8 for r in rows)
    assert all(0.0 <= r["mean_r"] <= 255.0 for r in rows)


def test_chunk_documents_boundaries_and_overlap(spark):
    from recommender_system_with_pyspark_spark.operators.text import chunk_documents

    text = "abcdefghij" * 10  # 100 chars
    df = spark.createDataFrame([(1, text), (2, "short"), (3, "x" * 40)],
                               "doc_id long, text string")
    out = chunk_documents(df, chunk_chars=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: len 100, stride 30 -> ceil(90/30) = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_ix"])
    assert [r["chunk_ix"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"] == text[0:40]
    assert c1[1]["chunk_text"] == text[30:70]  # 10-char overlap with chunk 0
    assert c1[2]["chunk_text"] == text[60:100]
    assert all(r["chunk_chars_len"] == 40 for r in c1)
    # doc 2: shorter than one chunk -> exactly one (whole-text) chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short"
    # doc 3: len == chunk -> one chunk
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_chars_len"] == 40
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=10, overlap=10)


def test_chunk_documents_no_shuffle_plan(spark):
    from recommender_system_with_pyspark_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-parallel: no shuffle anywhere


# ---------------------------------------------------------------------------
# round-8b: unicode normalization + BPE apply


def test_normalize_unicode_nfc_composes_and_null_safe(spark):
    from recommender_system_with_pyspark_spark.operators.text import normalize_unicode

    df = spark.createDataFrame(
        [(1, "café"), (2, "à la carte"), (3, None)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["text_norm"]
        for r in normalize_unicode(df).collect()
    }
    assert rows[1] == "café"
    assert rows[2] == "à la carte"
    assert rows[3] is None
    with pytest.raises(ValueError):
        normalize_unicode(df, form="NFX")


def test_normalize_unicode_nfd_inverts_nfc(spark):
    from recommender_system_with_pyspark_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(1, "café à")], "doc_id long, text string")
    nfd = normalize_unicode(df, form="NFD", out_col="d")
    back = normalize_unicode(nfd, text_col="d", form="NFC", out_col="c").collect()[0]
    assert back["d"] == "café à"
    assert back["c"] == "café à"


def test_bpe_fast_path_equals_general_greedy(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        _validate_bpe_fast_path,
        bpe_apply,
    )

    texts = [
        (1, "the cat sat on the mat and the rest"),
        (2, "thththe"),          # overlapping same-pair occurrences
        (3, "interesting sound"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    assert _validate_bpe_fast_path(DEFAULT_BPE_MERGES)
    fast = {r["doc_id"]: (r["bpe_text"], r["bpe_tokens"]) for r in bpe_apply(df, DEFAULT_BPE_MERGES).collect()}

    # force the SAME table down the general greedy Arrow path by stubbing
    # the validator — both paths must produce identical encodings
    import recommender_system_with_pyspark_spark.operators.text as T

    orig = T._validate_bpe_fast_path
    T._validate_bpe_fast_path = lambda m: False
    try:
        slow = {r["doc_id"]: (r["bpe_text"], r["bpe_tokens"]) for r in bpe_apply(df, DEFAULT_BPE_MERGES).collect()}
    finally:
        T._validate_bpe_fast_path = orig
    assert fast == slow


def test_bpe_greedy_handles_pair_recreation(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        _validate_bpe_fast_path,
        bpe_apply,
    )

    # merge output 'a' can recreate the source pair 'ab': greedy must
    # re-scan ("aabb" -> "ab b" -> ...), the replace chain must NOT be used
    merges = [("a", "b", "a")]
    assert not _validate_bpe_fast_path(merges)
    df = spark.createDataFrame([(1, "aabb")], "doc_id long, text string")
    row = bpe_apply(df, merges).collect()[0]
    # aabb -> a(ab->a)b = aab -> a(ab->a) = aa
    assert row["bpe_text"] == "aa" and row["bpe_tokens"] == 2
    with pytest.raises(ValueError):
        bpe_apply(df, [])


def test_bpe_fast_path_plan_is_pure_codegen(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_apply,
    )

    df = spark.createDataFrame([(1, "the")], "doc_id long, text string")
    plan = bpe_apply(df, DEFAULT_BPE_MERGES)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # pure projection: no shuffle
    assert "EvalPython" not in plan        # fast path: zero Python in plan


# ---------------------------------------------------------------------------
# round-8b: RRF fusion, mutual information, negative sampling


def test_rrf_fuse_exact_scores_and_coverage(spark):
    from recommender_system_with_pyspark_spark.operators.relational import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    rows = {r["doc_id"]: (r["rrf_score"], r["n_lists"]) for r in rrf_fuse([a, b], k0=60).collect()}
    assert rows[1] == (round(1 / 61, 6), 1)
    assert rows[2] == (round(1 / 62 + 1 / 61, 6), 2)
    assert rows[3] == (round(1 / 62, 6), 1)
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_mutual_information_independent_and_dependent(spark):
    from recommender_system_with_pyspark_spark.ml.stats import mutual_information

    # balanced independent columns: p(x,y) == p(x)p(y) exactly -> MI 0
    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(5)], "x string, y string"
    )
    r = mutual_information(indep, "x", "y").collect()[0]
    assert r["mi_bits"] == 0.0 and r["nmi"] == 0.0
    assert r["n_rows"] == 20 and r["n_cells"] == 4

    # y == f(x) bijective: MI == H(X) == 1 bit for a fair binary, nmi == 1
    dep = spark.createDataFrame(
        [("a", "c")] * 5 + [("b", "d")] * 5, "x string, y string"
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert r["mi_bits"] == 1.0 and r["nmi"] == 1.0

    # degenerate constant column: zero entropy -> mi 0, nmi null
    const = spark.createDataFrame([("a", "c"), ("b", "c")], "x string, y string")
    r = mutual_information(const, "x", "y").collect()[0]
    assert r["mi_bits"] == 0.0 and r["nmi"] is None


def test_negative_sample_contract(spark):
    from recommender_system_with_pyspark_spark.operators.sampling import negative_sample

    inter = spark.createDataFrame(
        [(u, i) for u in range(20) for i in range(50) if (u * 7 + i) % 5 == 0],
        "user_id long, item_id long",
    )
    neg = negative_sample(inter, "user_id", "item_id", k=3, oversample=4, seed=9)
    rows = neg.collect()
    pos = {(r["user_id"], r["item_id"]) for r in inter.collect()}
    # negatives never collide with positives
    assert all((r["user_id"], r["item_id"]) not in pos for r in rows)
    # at most k per user, ranks are 1..k without gaps
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r["neg_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3 for v in per_user.values())
    # deterministic and partitioning-invariant
    again = negative_sample(
        inter.repartition(17), "user_id", "item_id", k=3, oversample=4, seed=9
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        negative_sample(inter, "user_id", "item_id", k=0)


def test_cms_mergeable_and_never_undercounts(spark):
    from recommender_system_with_pyspark_spark.operators.sketches import (
        cms_estimate,
        count_min_table,
    )

    rows = [(i % 37,) for i in range(500)] + [(999,)] * 50
    df = spark.createDataFrame(rows, "k long")
    sketch = count_min_table(df, "k", depth=4, width=32, seed=1)
    # mergeability: two half-sketches unioned + re-grouped == full sketch
    a = count_min_table(df.limit(300), "k", depth=4, width=32, seed=1)
    b = count_min_table(
        spark.createDataFrame(rows[300:], "k long"), "k", depth=4, width=32, seed=1
    )
    merged = (
        a.unionByName(b)
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, sketch.collect())) == sorted(map(tuple, merged.collect()))

    probes = spark.createDataFrame([(999,), (0,), (12345,)], "k long")
    est = {r["k"]: r["est_cnt"] for r in cms_estimate(sketch, probes, "k", depth=4, width=32, seed=1).collect()}
    true = {999: 50, 0: 14, 12345: 0}
    assert all(est[k] >= v for k, v in true.items())  # never undercounts
    # wide sketch (no collisions expected with 37 keys / 4x4096 cells) is exact
    wide = count_min_table(df, "k", depth=4, width=4096, seed=1)
    est_w = {r["k"]: r["est_cnt"] for r in cms_estimate(wide, probes, "k", depth=4, width=4096, seed=1).collect()}
    assert est_w[999] == 50 and est_w[0] == 14 and est_w[12345] == 0
    with pytest.raises(ValueError):
        count_min_table(df, "k", depth=0)


def test_bpe_train_learns_expected_merges_and_feeds_apply(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        _validate_bpe_fast_path,
        bpe_apply,
        bpe_train_batched,
    )

    df = spark.createDataFrame(
        [("the cat and the hat",), ("that thing and the other thing",)],
        "text string",
    )
    merges = bpe_train_batched(df, n_merges=3, batch_size=1)
    # corpus 'th' count: the,the (doc1) + that,thing,the,other,thing = 7
    steps = [(s, p, c) for s, p, c, _o in merges]
    assert steps[0] == (0, "th", 7)
    assert merges[0][3] == ""
    assert steps[1][1] in ("e", "at", "an")  # count ties broken by pair asc
    # learned table is always fast-path valid (fresh PUA outputs)
    table = [(p[0], p[1:], o) if len(p) == 2 else (p[0], p[1], o) for _s, p, _c, o in merges]
    assert _validate_bpe_fast_path(table)
    enc = bpe_apply(df, table, id_col="text").collect()
    assert all("th" not in r["bpe_text"] for r in enc)
    # whitespace never participates in a merge
    assert all(" " not in p for _s, p, _c, _o in merges)


def test_bpe_train_stops_when_no_repeats(spark):
    from recommender_system_with_pyspark_spark.operators.text import bpe_train_batched

    df = spark.createDataFrame([("abcdefg",)], "text string")
    merges = bpe_train_batched(df, n_merges=5, batch_size=1)
    assert merges == []  # every pair occurs once -> below the c>=2 floor


def test_decayed_agg_hand_case(spark):
    import math

    from recommender_system_with_pyspark_spark.operators.temporal import decayed_agg

    day_us = 86_400_000_000
    ref = 100 * day_us
    rows = [
        (1, ref - 7 * day_us, 10.0),   # exactly one half-life -> w = 0.5
        (1, ref - 14 * day_us, 4.0),   # two half-lives -> w = 0.25
        (2, ref, 99.0),                # AT the reference -> excluded
        (2, ref - 0, 1.0),             # duplicate at ref -> excluded
    ]
    df = spark.createDataFrame(
        [(k, t, v) for k, t, v in rows], "user_id long, us long, value double"
    ).select("user_id", F.timestamp_micros(F.col("us")).alias("ts"), "value")
    out = {r["user_id"]: r for r in decayed_agg(df, "user_id", "ts", ref_ts_us=ref, value_col="value").collect()}
    assert out[1]["decayed_count"] == round(0.5 + 0.25, 6)
    assert out[1]["decayed_value"] == round(0.5 * 10 + 0.25 * 4, 6)
    assert out[1]["n_events"] == 2
    assert 2 not in out  # everything at/after ref excluded
    with pytest.raises(ValueError):
        decayed_agg(df, "user_id", "ts", ref_ts_us=ref, half_life_days=0)
    del math


def test_strip_boilerplate_hand_case(spark):
    from recommender_system_with_pyspark_spark.operators.text import strip_boilerplate

    docs = spark.createDataFrame(
        [
            (1, "real content one\nFOOTER\nmore real text"),
            (2, "different stuff\nFOOTER"),
            (3, "unique line\nFOOTER\n\nafter empty"),
            (4, "FOOTER"),  # all-boilerplate doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(docs, min_doc_frac=0.8).collect()}
    assert out[1]["clean_text"] == "real content one\nmore real text"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_removed"] == 1
    assert out[2]["clean_text"] == "different stuff"
    # empty line dropped silently (not counted as removed boilerplate)
    assert out[3]["clean_text"] == "unique line\nafter empty"
    assert out[3]["n_lines_kept"] == 2 and out[3]["n_lines_removed"] == 1
    assert out[4]["clean_text"] == "" and out[4]["n_lines_kept"] == 0
    # threshold above FOOTER's df (4/4=1.0 > 0.8 stripped; at 1.01 nothing is)
    with pytest.raises(ValueError):
        strip_boilerplate(docs, min_doc_frac=1.5)
    all_kept = strip_boilerplate(docs, min_doc_frac=1.0)
    assert all_kept.filter(F.col("n_lines_removed") > 0).count() == 4  # df==N still strips at 1.0


def test_k_anonymity_audit_contract(spark):
    from recommender_system_with_pyspark_spark.operators.quality import (
        k_anonymity_audit,
    )

    rows = [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")] * 1
    df = spark.createDataFrame(rows, "country string, seg string")
    risky = {(r["country"], r["seg"]): r["group_size"] for r in k_anonymity_audit(df, ["country", "seg"], k=3).collect()}
    assert risky == {("us", "b"): 2, ("de", "a"): 1}
    assert k_anonymity_audit(df, ["country", "seg"], k=2).count() == 1
    with pytest.raises(ValueError):
        k_anonymity_audit(df, ["country"], k=1)


def test_stream_cms_equals_batch_sketch(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    batch = sorted(map(tuple, QUERIES["cms_user_counts"](spark, sf_tiny).collect()))
    streamed = sorted(map(tuple, QUERIES["stream_cms_user_counts"](spark, sf_tiny).collect()))
    assert batch == streamed


def test_bpe_decode_inverts_apply_including_chains(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_apply,
        bpe_decode,
    )

    df = spark.createDataFrame(
        [(1, "the theatre is interesting and outstanding"), (2, ""), (3, "zzz")],
        "doc_id long, text string",
    )
    enc = bpe_apply(df, DEFAULT_BPE_MERGES)
    dec = bpe_decode(enc, DEFAULT_BPE_MERGES)
    rows = dec.select("text", "decoded_text").collect()
    assert all(r["decoded_text"] == r["text"] for r in rows)
    with pytest.raises(ValueError):
        bpe_decode(enc, [])


def test_truncate_embeddings_renorm_and_cosine_invariance(spark):
    import math

    from recommender_system_with_pyspark_spark.operators.similarity import (
        cosine_topk,
        truncate_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0, 100.0]), (2, [6.0, 8.0, -50.0, 1.0]), (3, [4.0, -3.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    t = truncate_embeddings(df, dim=2)  # renormalize=True default
    got = {r["vec_id"]: r["embedding"] for r in t.collect()}
    assert all(abs(math.hypot(*v) - 1.0) < 1e-12 for v in got.values())
    assert got[1] == pytest.approx([0.6, 0.8])
    # cosine is identical with and without renormalization (scale invariance)
    a = cosine_topk(t.filter("vec_id=1"), t, k=2).collect()
    raw = truncate_embeddings(df, dim=2, renormalize=False)
    b = cosine_topk(raw.filter("vec_id=1"), raw, k=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError):
        truncate_embeddings(df, dim=0)


def test_calibration_report_hand_case(spark):
    from recommender_system_with_pyspark_spark.ml.stats import calibration_report

    # perfectly calibrated per bin: bin 0.0-0.1 has score .05 / 5% positives
    rows = [(0.05, 1.0)] + [(0.05, 0.0)] * 19 + [(0.95, 1.0)] * 9 + [(0.95, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    out = {r["bin"]: r for r in calibration_report(df, "score", "label", n_bins=10).collect()}
    assert set(out) == {0, 9}
    assert out[0]["mean_score"] == 0.05 and out[0]["positive_rate"] == 0.05
    assert out[9]["mean_score"] == 0.95 and out[9]["positive_rate"] == 0.9
    assert out[0]["abs_gap"] == 0.0 and out[9]["abs_gap"] == pytest.approx(0.05)
    # ece = (20*0 + 10*0.05)/30
    assert out[0]["ece"] == out[9]["ece"] == pytest.approx(round(0.5 / 30, 6))
    # score 1.0 lands in the top bin (clamp), not an 11th
    edge = calibration_report(
        spark.createDataFrame([(1.0, 1.0)], "score double, label double"),
        "score", "label",
    ).collect()
    assert edge[0]["bin"] == 9
    with pytest.raises(ValueError):
        calibration_report(df, "score", "label", n_bins=1)


def test_stream_decayed_equals_batch(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.io import load_table
    from recommender_system_with_pyspark_spark.operators.temporal import decayed_agg
    from recommender_system_with_pyspark_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    ref = 1706745600000000
    streamed = {
        r["user_id"]: (r["decayed_count"], r["decayed_value"], r["n_events"])
        for r in QUERIES["stream_decayed_features"](spark, sf_tiny).collect()
    }
    ev = load_table(spark, sf_tiny, "events")
    batch = {
        r["user_id"]: (r["decayed_count"], r["decayed_value"], r["n_events"])
        for r in decayed_agg(ev, "user_id", "ts", ref_ts_us=ref, value_col="value").collect()
    }
    assert set(streamed) == set(batch)
    for u, (dc, dv, n) in batch.items():
        sdc, sdv, sn = streamed[u]
        assert sn == n
        assert sdc == pytest.approx(dc, abs=2e-6)
        assert sdv == pytest.approx(dv, abs=2e-6)


def test_point_in_time_join_embargo_excludes_recent_features(spark):
    from recommender_system_with_pyspark_spark.operators.temporal import (
        point_in_time_join,
    )

    us = 1_000_000
    labels = spark.createDataFrame(
        [(1, 10_000 * us)], "user long, lus long"
    ).select("user", F.timestamp_micros("lus").alias("lts"))
    feats = spark.createDataFrame(
        [
            (1, 9_999 * us, 111.0),   # 1s before label: inside embargo -> excluded
            (1, 6_000 * us, 222.0),   # 4000s before: servable -> the match
            (1, 2_000 * us, 333.0),   # older
        ],
        "user long, fus long, v double",
    ).select("user", F.timestamp_micros("fus").alias("fts"), "v")
    out = point_in_time_join(
        labels, feats, "user", "user", "lts", "fts", ["v"], embargo_seconds=3600
    ).collect()
    assert len(out) == 1 and out[0]["v"] == 222.0
    # zero embargo picks the freshest strictly-preceding (as-of <=) feature
    out0 = point_in_time_join(
        labels, feats, "user", "user", "lts", "fts", ["v"], embargo_seconds=0
    ).collect()
    assert out0[0]["v"] == 111.0
    with pytest.raises(ValueError):
        point_in_time_join(labels, feats, "user", "user", "lts", "fts", ["v"], embargo_seconds=-1)


def test_rolling_origin_folds_causality_and_coverage(spark):
    from recommender_system_with_pyspark_spark.operators.sampling import (
        rolling_origin_folds,
    )

    us = 1_000_000
    rows = [(i, i * 100 * us) for i in range(101)]  # t in [0, 10000s]
    df = spark.createDataFrame(rows, "id long, tus long").select(
        "id", F.timestamp_micros("tus").alias("ts")
    )
    out = rolling_origin_folds(df, "ts", n_folds=2, min_train_frac=0.5).collect()
    by = {}
    for r in out:
        by.setdefault((r["fold"], r["role"]), []).append(r["id"])
    # fold 0: train < 50% of span, test [50%, 75%); fold 1: train < 75%, test [75%, 100%]
    assert max(by[(0, "train")]) < min(by[(0, "test")])
    assert max(by[(1, "train")]) < min(by[(1, "test")])
    assert set(by[(0, "train")]) < set(by[(1, "train")])  # expanding window
    assert 100 in by[(1, "test")]  # newest row never orphaned (closed top)
    assert not (set(by[(0, "test")]) & set(by[(1, "test")]))  # disjoint test spans
    # every row at/after the first cut tests exactly once
    tested = sorted(by[(0, "test")] + by[(1, "test")])
    assert tested == list(range(min(tested), 101))
    with pytest.raises(ValueError):
        rolling_origin_folds(df, "ts", n_folds=0)
    with pytest.raises(ValueError):
        rolling_origin_folds(df, "ts", min_train_frac=1.0)
    with pytest.raises(ValueError):
        rolling_origin_folds(df, "ts", ts_min_us=0)


# ---------------------------------------------------------------------------
# round-8b review fixes (regression pins)


def test_bpe_train_no_phantom_pairs_on_collapsed_docs(spark):
    from recommender_system_with_pyspark_spark.operators.text import bpe_train_batched

    # after round 0 rewrites 'ab'->E100 those docs are single-symbol; the
    # descending-sequence phantom pair bug would learn a 1-char "pair" next
    df = spark.createDataFrame([("ab",), ("ab",), ("cd",)], "text string")
    merges = bpe_train_batched(df, n_merges=2, batch_size=1)
    assert merges == [(0, "ab", 2, "\uE100")]
    assert all(len(p) == 2 for _s, p, _c, _o in merges)


def test_mutual_information_null_categories_counted(spark):
    from recommender_system_with_pyspark_spark.ml.stats import mutual_information

    df = spark.createDataFrame(
        [("a", "c"), ("a", "c"), ("b", "d"), ("b", "d"), (None, "c"), (None, "d")],
        "x string, y string",
    )
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["n_rows"] == 6 and r["n_cells"] == 4  # null cells are categories
    import math

    cells = [(2 / 6, 2 / 6, 3 / 6), (2 / 6, 2 / 6, 3 / 6), (1 / 6, 2 / 6, 3 / 6), (1 / 6, 2 / 6, 3 / 6)]
    mi = sum(pxy * math.log2(pxy / (px * py)) for pxy, px, py in cells)
    assert r["mi_bits"] == pytest.approx(round(mi, 6), abs=2e-6)


def test_strip_boilerplate_empty_docs_do_not_dilute_threshold(spark):
    from recommender_system_with_pyspark_spark.operators.text import strip_boilerplate

    df = spark.createDataFrame(
        [(1, "x\nFOOTER"), (2, "y\nFOOTER"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: (r["clean_text"], r["n_lines_kept"], r["n_lines_removed"]) for r in strip_boilerplate(df, min_doc_frac=0.6).collect()}
    # FOOTER df = 2/2 line-bearing docs (not 2/4 of all rows) -> stripped
    assert rows[1] == ("x", 1, 1) and rows[2] == ("y", 1, 1)
    assert rows[3] == ("", 0, 0) and rows[4] == ("", 0, 0)  # never null counts


def test_k_anonymity_histogram_mode_bounded(spark):
    from recommender_system_with_pyspark_spark.operators.quality import (
        k_anonymity_audit,
    )

    df = spark.createDataFrame([(i, i) for i in range(50)], "a long, b long")
    # near-key quasi set: every group is a singleton; histogram stays tiny
    h = k_anonymity_audit(df, ["a", "b"], k=5, histogram=True).collect()
    assert len(h) == 1 and h[0]["group_size"] == 1 and h[0]["n_groups"] == 50


def test_schema_drift_statuses_and_rates(spark):
    from recommender_system_with_pyspark_spark.operators.quality import schema_drift

    before = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "id long, x string"
    )
    after = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None)], "id long, x string, y double"
    )
    rows = {r["column"]: r for r in schema_drift(before, after).collect()}
    assert rows["id"]["status"] == "common" and rows["id"]["null_rate_delta"] == 0.0
    assert rows["x"]["null_rate_before"] == 0.5 and rows["x"]["null_rate_after"] == 0.0
    assert rows["x"]["null_rate_delta"] == -0.5
    assert rows["y"]["status"] == "added" and rows["y"]["null_rate_after"] == 0.5
    assert rows["y"]["null_rate_before"] is None


def test_winsorize_clips_tails_keeps_rows_and_nulls(spark):
    from recommender_system_with_pyspark_spark.operators.cleaning import winsorize

    vals = [float(i) for i in range(1, 101)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(999, None)], "id long, v double"
    )
    out = {r["id"]: r["v"] for r in winsorize(df, ["v"], 0.10, 0.90).collect()}
    assert len(out) == 101  # every row survives
    assert out[999] is None  # nulls pass through
    # exact percentile_cont on 1..100: p10 = 10.9, p90 = 90.1 (float ulps)
    assert out[0] == pytest.approx(10.9) and out[99] == pytest.approx(90.1)
    assert out[49] == 50.0  # interior untouched
    with pytest.raises(ValueError):
        winsorize(df, ["v"], 0.9, 0.1)


def test_gap_report_hand_case(spark):
    from recommender_system_with_pyspark_spark.operators.temporal import gap_report

    us = 1_000_000
    rows = [(1, 0), (1, 10 * us), (1, 5000 * us), (2, 0)]
    df = spark.createDataFrame(rows, "k long, tus long").select(
        "k", F.timestamp_micros("tus").alias("ts")
    )
    out = {r["k"]: r for r in gap_report(df, "k", "ts", max_gap_seconds=60).collect()}
    assert out[1]["n_events"] == 3 and out[1]["n_gaps"] == 2
    assert out[1]["max_gap_s"] == 4990.0 and out[1]["mean_gap_s"] == 2500.0
    assert out[1]["n_gaps_over"] == 1
    # single-event key: zero gaps, null stats
    assert out[2]["n_gaps"] == 0 and out[2]["max_gap_s"] is None


def test_nn_distance_profile_monotone_and_bounds(spark):
    from recommender_system_with_pyspark_spark.operators.similarity import (
        nn_distance_profile,
    )

    import math

    vecs = [
        (i, [math.cos(i * 0.37), math.sin(i * 0.37), float(i % 3)]) for i in range(30)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    r = nn_distance_profile(df, sample_ids=10).collect()[0]
    assert r["n_sampled"] == 10
    vals = [r["nn_sim_min"], r["nn_sim_p25"], r["nn_sim_p50"], r["nn_sim_p75"],
            r["nn_sim_p90"], r["nn_sim_p99"], r["nn_sim_max"]]
    assert all(a <= b for a, b in zip(vals, vals[1:]))  # monotone profile
    assert -1.0 <= r["nn_sim_min"] and r["nn_sim_max"] <= 1.0
    with pytest.raises(ValueError):
        nn_distance_profile(df, sample_ids=0)


def test_residual_anomalies_flags_the_spike_only(spark):
    from recommender_system_with_pyspark_spark.operators.temporal import (
        residual_anomalies,
    )

    day_us = 86_400_000_000
    rows = []
    # steady 10/day for 9 days, then a 100-event spike on day 9
    for d in range(10):
        n = 100 if d == 9 else 10
        rows += [(1, d * day_us + i) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, tus long").select(
        "k", F.timestamp_micros("tus").alias("ts")
    )
    out = residual_anomalies(df, "k", "ts", bucket="day", z=2.0).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 100 and out[0]["prev_events"] == 10
    assert out[0]["resid_z"] > 2.0
    # constant series: zero-variance residuals flag nothing
    const = spark.createDataFrame(
        [(1, d * day_us + i) for d in range(5) for i in range(10)], "k long, tus long"
    ).select("k", F.timestamp_micros("tus").alias("ts"))
    assert residual_anomalies(const, "k", "ts").count() == 0
    with pytest.raises(ValueError):
        residual_anomalies(df, "k", "ts", z=0)
