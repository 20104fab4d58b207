"""Checkpoint-policy tests (ADVICE r10: the module shipped untested).

What must hold, and why a silent PySpark behavior change would matter:

- ``local_ckpt_ser`` must actually store SERIALIZED (deserialized=False)
  mem+disk blocks — the whole point is that spilled blocks re-read as
  bounded byte buffers instead of re-promoting into the heap as object
  graphs (the sf100 negative-sample OOM class, SCALING.md round 10). If a
  future PySpark release changed the ``storageLevel=`` plumbing, the OOM
  class would return with zero test signal.
- eager/lazy semantics must pass through: a lazy request materializes
  nothing until an action.
- data-scale call sites hold ONE serialized copy: ``bigram_logprob``'s
  per-doc counts are not promoted to a second, deserialized copy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators.checkpointing import local_ckpt_ser


def _new_infos(spark, before_ids):
    return [
        i
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.id() not in before_ids
    ]


def _cached_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_local_ckpt_ser_stores_serialized_mem_and_disk(spark):
    df = spark.range(2000).select("id", (F.col("id") * 3).alias("v"))
    before = _cached_ids(spark)
    ck = local_ckpt_ser(df)
    new = _new_infos(spark, before)
    assert new, "eager checkpoint must register cached blocks immediately"
    for info in new:
        lvl = info.storageLevel()
        assert lvl.useMemory() and lvl.useDisk()
        assert not lvl.deserialized(), "must be the SERIALIZED level"
    assert ck.count() == 2000
    assert ck.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_local_ckpt_ser_lazy_materializes_only_on_action(spark):
    df = spark.range(1500).select("id")
    before = _cached_ids(spark)
    ck = local_ckpt_ser(df, eager=False)
    assert not _new_infos(spark, before), "lazy checkpoint ran a job eagerly"
    assert ck.count() == 1500  # action materializes
    new = _new_infos(spark, before)
    assert new and all(not i.storageLevel().deserialized() for i in new)


def test_bigram_logprob_holds_one_serialized_copy(spark):
    """The per-doc bigram counts are checkpointed once, serialized."""
    from recommender_system_with_pyspark_spark.operators.text import bigram_logprob

    docs = spark.createDataFrame(
        [(i, f"the cat sat on mat {i % 5} the cat") for i in range(200)],
        "doc_id long, text string",
    )
    before = _cached_ids(spark)
    out = bigram_logprob(docs)
    new = _new_infos(spark, before)
    assert len(new) == 1, [i.name() for i in new]
    assert new[0].storageLevel().deserialized() is False
    assert out.count() == 200
