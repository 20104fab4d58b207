"""Round-12 tests: GEMM boundary tie-break, IVF probe guards + freshness
contract, recall-targeting helper, size-tiered checkpoint attribution,
Layer I/II MPEG-audio walker."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.topk_reference import brute_topk, tie_corpus


def test_gemm_tiebreak_equals_brute_on_ties(spark):
    """ADVICE r11 (medium): per-batch argpartition kept k survivors by sim
    alone — a batch could drop the lowest-neighbor_id tied candidate the
    global (desc sim, asc neighbor_id) window contractually ranks into
    the top-k. The perturbed truncation key resolves boundary ties to the
    smallest id inside every batch, making per-batch top-k a superset of
    the global top-k on tie-heavy corpora."""
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    df = tie_corpus(spark)
    q = df.filter(F.col("vec_id") == 900)
    brute = brute_topk(df, q, 8, pos_col="label")
    blas = sorted(map(tuple, cosine_topk(q, df, k=8, pos_col="label").collect()))
    assert brute == blas
    # the tied block must contribute ids 1..5 (smallest), not arbitrary ones
    tied_ids = [t[1] for t in brute if t[2] < 0.9]
    assert tied_ids == [1, 2, 3, 4, 5]


def test_indexed_tiebreak_equals_brute_on_ties(spark, tmp_path):
    """Same contract through the prebuilt-index probe at n_probe=n_cells
    (the hard_negative_mining_indexed_full exactness claim, tie-heavy)."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        hard_negatives_indexed,
        write_ivf_index,
    )

    df = tie_corpus(spark)
    path = str(tmp_path / "tie_idx")
    write_ivf_index(df, path, n_cells=4, extra_cols=("label",))
    q = df.filter(F.col("vec_id") == 900)
    brute = brute_topk(df, q, 8, pos_col="label")
    idx = sorted(
        map(tuple, hard_negatives_indexed(spark, path, q, k=8, n_probe=4).collect())
    )
    assert brute == idx


def _rand_emb(spark, n=160, dim=6, seed=3):
    import random

    random.seed(seed)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(dim)], random.choice(["a", "b", None]))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )


def test_indexed_probe_guards(spark, tmp_path):
    """The anchor matrix broadcasts — hard ceiling, same pattern as
    cosine_topk; plus the pos_col-not-in-index guard (a label-less index
    must not fail with a raw AnalysisException deep in the plan)."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        hard_negatives_indexed,
        write_ivf_index,
    )

    emb = _rand_emb(spark)
    path = str(tmp_path / "guard_idx")
    write_ivf_index(emb, path, n_cells=4)  # no extra_cols: label NOT carried
    q = emb.filter(F.col("vec_id") < 10)
    with pytest.raises(ValueError, match="ceiling"):
        hard_negatives_indexed(spark, path, q, k=3, pos_col=None, max_broadcast_rows=4)
    with pytest.raises(ValueError, match="rebuild with"):
        hard_negatives_indexed(spark, path, q, k=3, pos_col="label")
    # un-labelled probe still works against the same index
    assert hard_negatives_indexed(spark, path, q, k=3, n_probe=2, pos_col=None).count() == 30


def test_ivf_index_freshness_contract(spark, tmp_path):
    """VERDICT r11 #4: _SUCCESS markers prove completeness, not match —
    validate_ivf_index recomputes the corpus fingerprint against the
    _fingerprint sidecar; a pre-contract index (sidecar missing) reads
    as stale."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        validate_ivf_index,
        write_ivf_index,
    )

    emb = _rand_emb(spark)
    path = str(tmp_path / "fresh_idx")
    write_ivf_index(emb, path, n_cells=4, extra_cols=("label",))
    assert validate_ivf_index(spark, path, emb, extra_cols=("label",))
    mutated = emb.withColumn(
        "label", F.when(F.col("vec_id") == 0, F.lit("zzz")).otherwise(F.col("label"))
    )
    assert not validate_ivf_index(spark, path, mutated, extra_cols=("label",))
    assert not validate_ivf_index(spark, path, emb.limit(100), extra_cols=("label",))
    shutil.rmtree(f"{path}/_fingerprint")
    assert not validate_ivf_index(spark, path, emb, extra_cols=("label",))


def test_ensure_index_rebuilds_on_corpus_change(spark, tmp_path):
    """Regenerating the corpus IN PLACE under the same path must rebuild
    the cached index (ADVICE r11: the recall entry has no oracle, so a
    stale index would silently misreport recall)."""
    import os

    from recommender_system_with_pyspark_spark.queries_round11 import (
        _ensure_index,
        _ivf_index_path,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    _rand_emb(spark, n=120, seed=11).write.parquet(f"{sf_dir}/embeddings.parquet")
    idx = _ensure_index(spark, sf_dir)
    assert idx == _ivf_index_path(sf_dir)
    fp1 = spark.read.parquet(f"{idx}/_fingerprint").first()
    # same corpus -> reuse (fingerprint row object identity is irrelevant;
    # the written sidecar must be byte-stable, so compare values)
    _ensure_index(spark, sf_dir)
    assert spark.read.parquet(f"{idx}/_fingerprint").first() == fp1
    # regenerate the tier in place with different vectors
    shutil.rmtree(f"{sf_dir}/embeddings.parquet")
    _rand_emb(spark, n=120, seed=12).write.parquet(f"{sf_dir}/embeddings.parquet")
    _ensure_index(spark, sf_dir)
    fp2 = spark.read.parquet(f"{idx}/_fingerprint").first()
    assert fp2 != fp1
    shutil.rmtree(idx, ignore_errors=True)


def test_recall_curve_theory_matches_measurement(spark, tmp_path):
    """The one-scan curve (recall@p = probed-cell hit rate of the true
    top-k) must equal recall measured by actually probing at each
    n_probe — the prediction the select_n_probe dial stands on."""
    from recommender_system_with_pyspark_spark.operators.similarity import (
        hard_negatives_indexed,
        ivf_recall_curve,
        select_n_probe,
        write_ivf_index,
    )

    emb = _rand_emb(spark, n=200, seed=5)
    path = str(tmp_path / "curve_idx")
    write_ivf_index(emb, path, n_cells=4, extra_cols=("label",))
    anchors = emb.filter(F.col("vec_id") < 12)
    curve = ivf_recall_curve(spark, path, anchors, k=4)
    recalls = [pt["recall"] for pt in curve]
    assert len(curve) == 4 and recalls[-1] == 1.0
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))
    truth = {(t[0], t[1]) for t in brute_topk(emb, anchors, 4, pos_col="label")}
    for pt in curve[:2]:
        mined = {
            (r.query_id, r.neighbor_id)
            for r in hard_negatives_indexed(
                spark, path, anchors, k=4, n_probe=pt["n_probe"]
            ).collect()
        }
        assert round(len(truth & mined) / len(truth), 4) == pt["recall"]
    # target the UNROUNDED sample recall: since the r13 ADVICE fix the
    # selection thresholds on recall_raw, and a 4dp-rounded display value
    # can sit above the true recall (0.63749999 -> 0.6375), which would
    # legitimately push the dial one probe higher
    sel = select_n_probe(
        spark, path, anchors, target_recall=curve[1]["recall_raw"], k=4
    )
    assert sel["n_probe"] <= 2 and sel["recall"] >= recalls[1]
    # target 1.0 always selectable; coarse flag fires when the needed
    # probe fraction exceeds half the cells
    full = select_n_probe(spark, path, anchors, target_recall=1.0, k=4)
    assert full["recall"] == 1.0
    assert full["coarse"] == (full["n_probe"] > 2)


def test_local_ckpt_auto_sizes_own_rdd_only(spark):
    """ADVICE r11: the before/after storage diff attributed ANY
    concurrently cached RDD to the frame being sized. The policy now
    reads the checkpointed Dataset's own RDD id off its LogicalRDD —
    promotion of a small frame must not be blocked by an unrelated large
    cached RDD that appears in the same window."""
    from pyspark import StorageLevel

    from recommender_system_with_pyspark_spark.operators.checkpointing import (
        local_ckpt_auto,
        local_ckpt_ser,
    )

    # the reflective id walk: the ckpt's analyzed plan is the LogicalRDD
    # over exactly the persisted RDD
    small = local_ckpt_ser(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    rid = small._jdf.queryExecution().analyzed().rdd().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert rid in [i.id() for i in infos]

    # an unrelated big-ish cached RDD in the same context must not block
    # promotion of a tiny frame (pre-fix, any concurrent cache inside the
    # sizing window inflated `new`; own-id filtering is immune even to
    # caches landing mid-call, which a test cannot schedule — this pins
    # the mechanism on the closest deterministic shape)
    other = spark.range(2_000_000).selectExpr("id", "id * 3 AS w")
    other.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    try:
        out = local_ckpt_auto(spark.range(500).selectExpr("id", "id + 1 AS u"))
        assert out.count() == 500
        # promoted to the deserialized default level (read off the block
        # manager via the frame's own RDD id — df.rdd is a fresh
        # conversion RDD whose level is always NONE)
        out_rid = out._jdf.queryExecution().analyzed().rdd().id()
        lvl = next(
            i.storageLevel()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.id() == out_rid
        )
        assert lvl.deserialized()
    finally:
        other.unpersist()


def test_mp3_layer12_roundtrip_all_versions(spark):
    """Layer-aware walk: every version × layer combination encodes and
    walks back with the right bitrate table, samples/frame, and frame
    count; Layer I uses the slots-of-4 frame length (padding grows the
    frame by 4 bytes, not 1)."""
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        MP3_LAYER_NAMES,
        MP3_VERSIONS,
        _mp3_bitrate_table,
        _mp3_frame_len,
        _mp3_spf,
        encode_mp3_vbr_stream,
        parse_mp3_stream,
    )

    specs = [(3, 0, 0), (9, 1, 3), (14, 0, 1)]
    for vb, (name, srs, _) in MP3_VERSIONS.items():
        for lb, lname in MP3_LAYER_NAMES.items():
            data = encode_mp3_vbr_stream(
                specs, version_bits=vb, layer_bits=lb, trailer=b"TAGgarbage"
            )
            info = parse_mp3_stream(data)
            assert len(info["frames"]) == 3, (name, lname)
            table = _mp3_bitrate_table(vb, lb)
            assert [f[0] for f in info["frames"]] == [table[3], table[9], table[14]]
            assert all(f[3] == _mp3_spf(vb, lb) for f in info["frames"])
            assert all(f[4] == lname for f in info["frames"])
            assert info["xing_tag"] is None
    # Layer I padding = one 4-byte slot
    sr = 44100
    l1 = _mp3_frame_len(0b11, 0b11, 128, sr, 1) - _mp3_frame_len(0b11, 0b11, 128, sr, 0)
    l3 = _mp3_frame_len(0b11, 0b01, 128, sr, 1) - _mp3_frame_len(0b11, 0b01, 128, sr, 0)
    assert (l1, l3) == (4, 1)


def test_mp3_layer_guards_and_garbage(spark):
    """Xing on non-III raises; reserved layer bits stop the walk cleanly;
    garbage robustness is intact for Layer I/II streams."""
    import pytest as _pytest

    from recommender_system_with_pyspark_spark.operators.multimodal import (
        encode_mp3_vbr_stream,
        parse_mp3_stream,
    )

    with _pytest.raises(ValueError, match="Layer III only"):
        encode_mp3_vbr_stream([(3, 0, 0)], layer_bits=0b10, xing_tag="Info")
    good = encode_mp3_vbr_stream([(3, 0, 0), (4, 0, 0)], layer_bits=0b11)
    # reserved layer (00) header right after: walk stops at 2 frames
    bad = good + bytes((0xFF, 0xF9, 0x30, 0x04)) + b"\x00" * 40
    assert len(parse_mp3_stream(bad)["frames"]) == 2
    assert parse_mp3_stream(b"junk" * 10)["frames"] == []
    # truncated final Layer I frame dropped
    assert len(parse_mp3_stream(good[:-5])["frames"]) == 1


def test_mp3_vbr_audit_layer_column_and_mixing(spark):
    """mix_layers fixtures: audit reports the layer, Layer I/II files
    carry no Xing frame, and all three layers appear."""
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        mp3_vbr_audit,
        text_to_mp3_vbr_media,
    )

    docs = spark.createDataFrame(
        [(i, chr(65 + i) + chr(65 + (i * 7) % 26) + "xyz") for i in range(12)],
        "doc_id long, text string",
    )
    rows = mp3_vbr_audit(text_to_mp3_vbr_media(docs, mix_layers=True)).collect()
    assert {r["mpeg_layer"] for r in rows} == {"I", "II", "III"}
    for r in rows:
        assert r["n_frames"] == 24
        if r["mpeg_layer"] == "III":
            assert r["xing_tag"] in ("Xing", "Info") and r["xing_match"]
        else:
            assert r["xing_tag"] is None and r["xing_match"] is None


def test_vbr_audit_ascii_invariant(spark, tmp_path):
    """ADVICE r11: the oracle counts codepoints, the fixture cycles UTF-8
    bytes — non-ASCII documents are now EXCLUDED on both sides instead of
    silently diverging."""
    import os

    from recommender_system_with_pyspark_spark.queries_round11 import (
        multimodal_mp3_vbr_audit,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [
            (1, "plain ascii text", "en", "web", 16),
            (2, "naïve café — not ascii", "fr", "web", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    rows = multimodal_mp3_vbr_audit(spark, sf_dir).collect()
    assert [r["media_id"] for r in rows] == [1]
