"""Round-14 optimization-round invariants.

Every optimization this round is an action-count / driver-time change
that must be value-invisible: external cut points for the two-stage
rank/cumsum, the parsed kmeans centers literal, the fused semantic-dedup
radii pass, the replay state-partition derivation, and the mp3 filler
boundary guard.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- cut_points: rank/cumsum are exact for ANY cut set -----------------------

@pytest.fixture(scope="module")
def vals(spark):
    rows = [(i, float((i * 37) % 101), i % 3) for i in range(500)]
    return spark.createDataFrame(rows, "id long, v double, g int")


def test_two_stage_rank_external_cuts_identical(spark, vals):
    from recommender_system_with_pyspark_spark.operators.relational import (
        two_stage_rank,
    )

    base = sorted(
        (r["id"], r["rank"])
        for r in two_stage_rank(vals, "v", tiebreak=("id",)).collect()
    )
    for cuts in ([], [50.0], [10.0, 10.0, 90.0], [-1e9, 0.25, 33.3, 1e9]):
        got = sorted(
            (r["id"], r["rank"])
            for r in two_stage_rank(
                vals, "v", tiebreak=("id",), cut_points=cuts
            ).collect()
        )
        assert got == base, f"rank changed under cut_points={cuts}"


def test_two_stage_cumsum_external_cuts_identical(spark, vals):
    from recommender_system_with_pyspark_spark.operators.relational import (
        two_stage_cumsum,
    )

    # pre-aggregate per distinct value (the documented caller contract)
    per_v = vals.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    base = sorted(
        (r["v"], r["cum_n"]) for r in two_stage_cumsum(per_v, "v", ["n"]).collect()
    )
    for cuts in ([], [50.0], [1.0, 99.0], [-5.0, 20.0, 20.0, 80.0]):
        got = sorted(
            (r["v"], r["cum_n"])
            for r in two_stage_cumsum(per_v, "v", ["n"], cut_points=cuts).collect()
        )
        assert got == base, f"cumsum changed under cut_points={cuts}"


# --- kmeans parsed centers literal: bit-identical to F.lit -------------------

def test_kmeans_expr_literal_matches_lit(spark):
    # awkward doubles: subnormal, negative zero, huge, tiny, short decimals
    vals = [
        [1e-300, -0.0, 0.123456, 5e-324],
        [1.7976931348623157e308, -1.5, 2.0, 1e-9],
    ]
    expr_sql = "array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in vals
    ) + ")"
    df = spark.range(1)
    a = df.select(F.lit(vals).alias("v")).collect()[0]["v"]
    b = df.select(F.expr(expr_sql).alias("v")).collect()[0]["v"]
    assert [list(x) for x in a] == [list(x) for x in b]


def test_kmeans_assign_unchanged_by_literal_form(spark):
    from recommender_system_with_pyspark_spark.operators.similarity import (
        kmeans_lloyd,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 17), float((i * 7) % 11)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    out = {r["_id" if "_id" in r.__fields__ else "vec_id"]: r["cluster"]
           for r in kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=2, seed=1).collect()}
    # determinism across partitioning (the literal is partition-independent)
    out2 = {r["_id" if "_id" in r.__fields__ else "vec_id"]: r["cluster"]
            for r in kmeans_lloyd(emb.repartition(7), "vec_id", "embedding",
                                  k=4, iters=2, seed=1).collect()}
    assert out == out2 and len(out) == 60


# --- semantic_dedup fused radii: identity with the brute-force pair set ------

def test_semantic_dedup_fused_equals_bruteforce(spark):
    from recommender_system_with_pyspark_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0]
        rows.append((i, [base[0] + 0.001 * i, base[1], base[2] + 0.0005 * i]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in semantic_dedup_pairs(emb, threshold=0.99, n_cells=5, seed=2).collect()
    )

    data = {i: v for i, v in rows}
    brute = []
    for a in data:
        for b in data:
            if a < b:
                va, vb = data[a], data[b]
                dot = sum(x * y for x, y in zip(va, vb))
                na = math.sqrt(sum(x * x for x in va))
                nb = math.sqrt(sum(x * x for x in vb))
                sim = round(dot / (na * nb), 6)
                if sim >= 0.99:
                    brute.append((a, b, sim))
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in sorted(brute)]
    for (_, _, s1), (_, _, s2) in zip(got, sorted(brute)):
        assert abs(s1 - s2) < 2e-6


# --- replay state-partition derivation ----------------------------------------

def test_replay_state_partitions_floor_growth_cap(spark):
    from recommender_system_with_pyspark_spark.streaming.windows import (
        _STATE_PARTITION_TARGET_BYTES,
        _replay_state_partitions,
    )

    par = spark.sparkContext.defaultParallelism
    floor = min(8, par)
    assert _replay_state_partitions(spark, 0) == floor
    assert _replay_state_partitions(spark, 1) == floor
    # grows with input once past floor x target bytes, capped at parallelism
    assert (
        _replay_state_partitions(spark, _STATE_PARTITION_TARGET_BYTES * par * 3)
        == par
    )


def test_run_to_memory_sink_restores_session_conf(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events,
        tumbling_counts,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = stream_events(spark, sf_tiny)
    out = run_to_memory_sink(tumbling_counts(ev, "1 hour", watermark=None), "complete")
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# --- mp3 filler boundary guard -------------------------------------------------

def test_mp3_filler_boundaries():
    from recommender_system_with_pyspark_spark.operators.multimodal import (
        _MP3_FILLER,
        _mp3_filler,
    )

    assert _mp3_filler(0) == b""
    assert _mp3_filler(-1) == b""
    assert _mp3_filler(5) == bytes((i * 31) & 0xFF for i in range(5))
    assert _mp3_filler(len(_MP3_FILLER) + 3) == bytes(
        (i * 31) & 0xFF for i in range(len(_MP3_FILLER) + 3)
    )


# --- BPE lazy round checkpoints: trainer outputs unchanged --------------------

def test_bpe_trainers_lazy_rounds_output(spark):
    from recommender_system_with_pyspark_spark.operators.text import (
        bpe_train,
        bpe_train_batched,
    )

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 4) for i in range(30)]
        + [(100 + i, "a stitch in time saves nine " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    seq = bpe_train(docs, n_merges=3)
    assert len(seq) == 3 and all(c >= 2 for _, _, c, _ in seq)
    # batch_size=1 degenerates to the sequential trainer exactly
    assert bpe_train_batched(docs, n_merges=3, batch_size=1) == seq
