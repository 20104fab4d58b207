"""Round-10 tests: hard-negative mining scale paths (VERDICT r9 #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.topk_reference import brute_topk


def _emb(spark, sf_small):
    from recommender_system_with_pyspark_spark.io import load_table

    return load_table(spark, sf_small, "embeddings")


def test_hard_negatives_guard_raises(spark, sf_small):
    """An oversized query frame must raise (pointing at the ANN path),
    never broadcast — the repo's no-unbounded-broadcast policy."""
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_small)
    with pytest.raises(ValueError, match="hard_negatives_ann"):
        cosine_topk(emb.limit(8), emb, k=3, pos_col="label", max_broadcast_rows=4)


def test_hard_negatives_ivf_equals_brute_force(spark, sf_small):
    """The IVF-pruned exact path is bit-identical to brute force — cell
    pruning + the label-aware radius bound change nothing."""
    from recommender_system_with_pyspark_spark.operators.similarity import ivf_topk_exact

    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 12)
    ivf = ivf_topk_exact(q, emb, k=4, n_cells=8, n_probe=2, pos_col="label").collect()
    assert sorted(map(tuple, ivf)) == brute_topk(emb, q, 4, pos_col="label")


def test_hard_negatives_ann_contract(spark, sf_small):
    """Over-fetch path honors the output contract: dense ranks 1..k per
    query, never a self pair, never a same-label pair (null-safe)."""
    from recommender_system_with_pyspark_spark.operators.similarity import hard_negatives_ann

    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 8)
    out = hard_negatives_ann(q, emb, k=3, overfetch=4, method="lsh")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows, "over-fetch path returned nothing"
    by_q: dict[int, list[int]] = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_hard_negatives_ann_rejects_bad_method(spark, sf_small):
    from recommender_system_with_pyspark_spark.operators.similarity import hard_negatives_ann

    emb = _emb(spark, sf_small)
    with pytest.raises(ValueError, match="method"):
        hard_negatives_ann(emb.limit(2), emb, method="faiss")


# ---- BPE fixes (VERDICT r9 #2, ADVICE r9) ----------------------------------


def test_fresh_symbol_pua_allocation():
    """Symbol allocation never leaves Private Use Areas: BMP PUA up to
    U+F8FF, then plane-15 (U+F0000..), then plane-16, then ValueError."""
    from recommender_system_with_pyspark_spark.operators.text import _fresh_symbol

    base = 0xE100
    bmp_room = 0xF8FF - base + 1  # 6144
    assert _fresh_symbol(0, base) == ""
    assert _fresh_symbol(bmp_room - 1, base) == ""
    assert ord(_fresh_symbol(bmp_room, base)) == 0xF0000
    p15_room = 0xFFFFD - 0xF0000 + 1
    assert ord(_fresh_symbol(bmp_room + p15_room - 1, base)) == 0xFFFFD
    assert ord(_fresh_symbol(bmp_room + p15_room, base)) == 0x100000
    total = bmp_room + p15_room + (0x10FFFD - 0x100000 + 1)
    assert ord(_fresh_symbol(total - 1, base)) == 0x10FFFD
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Private Use"):
        _fresh_symbol(total, base)
    with _pytest.raises(ValueError, match="pua_base"):
        _fresh_symbol(0, 0x4E00)  # CJK block is not a PUA
    # every allocated codepoint below the overflow regions is a real PUA cp
    for step in (0, 100, bmp_room - 1, bmp_room, bmp_room + 5):
        cp = ord(_fresh_symbol(step, base))
        assert (0xE000 <= cp <= 0xF8FF) or (0xF0000 <= cp <= 0xFFFFD) or (
            0x100000 <= cp <= 0x10FFFD
        )


def test_bpe_train_batched_requeries_truncated_candidates(spark):
    """ADVICE r9: when the truncated candidate list clusters on shared
    symbols, the trainer must re-collect a wider window, not end the
    round short — the selection equals full-distribution disjoint-argmax
    for ANY candidate_factor."""
    from recommender_system_with_pyspark_spark.operators.text import bpe_train_batched

    text = "ab " * 10 + "ac " * 9 + "de " * 8
    docs = spark.createDataFrame([(text,)], "text string")
    # batch_size=2, factor=1 -> first window is [ab, ac]; ac overlaps ab.
    merges = bpe_train_batched(docs, n_merges=2, batch_size=2, candidate_factor=1)
    assert [(m[1], m[2]) for m in merges] == [("ab", 10), ("de", 8)]


def test_bpe_encode_cached_cross_batch_cache(spark):
    """The memo is closure-level (per UDF instance), so repeated words
    across rows/batches encode identically and correctly."""
    from recommender_system_with_pyspark_spark.operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_encode_cached,
    )

    rows = [(i, "the rain in spain stays mainly in the plain") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bpe_encode_cached(docs, DEFAULT_BPE_MERGES).select("bpe_text").distinct().collect()
    assert len(out) == 1


# ---- MP3 header audit (VERDICT r9 #4) ---------------------------------------


def test_mp3_encode_parse_roundtrip():
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        MP3_BITRATES_KBPS,
        encode_mp3_frames,
        parse_mp3_headers,
    )

    specs = [(1, 0, 0), (14, 1, 3), (9, 1, 1), (5, 0, 2)]
    data = encode_mp3_frames(specs)
    frames = parse_mp3_headers(data)
    assert [(MP3_BITRATES_KBPS.index(k), m) for k, _, m in frames] == [
        (b, m) for b, _, m in specs
    ]
    assert all(sr == 44100 for _, sr, _ in frames)


def test_mp3_parser_stops_cleanly_on_garbage():
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        encode_mp3_frames,
        parse_mp3_headers,
    )

    good = encode_mp3_frames([(8, 0, 0), (8, 0, 0)])
    # leading ID3-ish tag -> no sync at offset 0 -> zero frames, no crash
    assert parse_mp3_headers(b"ID3\x04\x00" + good) == []
    # truncated final frame is dropped, prior frames kept
    assert len(parse_mp3_headers(good[:-10])) == 1
    # trailing garbage after valid frames stops the walk
    assert len(parse_mp3_headers(good + b"\x00\x01\x02")) == 2
    assert parse_mp3_headers(b"") == []


def test_mp3_audit_handles_unparseable_blob(spark):
    from recommender_system_with_pyspark_spark.operators.multimodal import mp3_header_audit

    df = spark.createDataFrame([(1, bytearray(b"not an mp3"))], "media_id long, media binary")
    row = mp3_header_audit(df).collect()[0]
    assert row["n_frames"] == 0 and row["duration_ms"] is None


# ---- GEMM hard-negative miner (cosine_topk with pos_col) ---------------------


def test_hard_negatives_blas_equals_brute_force(spark, sf_small):
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_small)
    q = emb.filter(F.col("vec_id") < 12)
    got = sorted(map(tuple, cosine_topk(q, emb, k=4, pos_col="label").collect()))
    assert got == brute_topk(emb, q, 4, pos_col="label")


def test_hard_negatives_blas_guard_and_empty(spark, sf_small):
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_small)
    with pytest.raises(ValueError, match="ceiling"):
        cosine_topk(emb.limit(8), emb, k=3, pos_col="label", max_broadcast_rows=4)
    with pytest.raises(ValueError, match="empty"):
        cosine_topk(emb.limit(0), emb, k=3, pos_col="label")


def test_hard_negatives_blas_null_label_semantics(spark):
    """eqNullSafe semantics: two NULL labels are NOT distinct (pair
    excluded); NULL vs non-NULL IS distinct (pair kept)."""
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0], None),
        (2, [0.9, 0.1], None),
        (3, [0.8, 0.2], "a"),
        (4, [0.7, 0.3], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    blas = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, df, k=4, pos_col="label").collect()
    }
    brute = {(t[0], t[1]) for t in brute_topk(df, df, 4, pos_col="label")}
    assert blas == brute
    assert (1, 2) not in blas and (2, 1) not in blas  # null-null excluded
    assert (1, 3) in blas  # null vs 'a' kept
