"""Lineage-cut helpers sized for caller-scale frames.

``DataFrame.localCheckpoint()`` defaults to ``MEMORY_AND_DISK`` —
DESERIALIZED Java objects in memory. That level has a failure mode that
only shows up past the memory cliff: blocks that spilled to disk are
re-PROMOTED into the heap as deserialized objects on every read
(``BlockManager.maybeCacheDiskValuesInMemory``), so N concurrent tasks
re-reading a spilled fact-scale checkpoint each drag a multi-million-row
block of boxed rows into the shared heap at once. Found at sf100
(600M-row lineitem ⋈ orders → 599M distinct positives in
``sampling.negative_sample``): the sf10 run fit in memory and never hit
the path; the sf100 run OOMed the 64 GB heap INSIDE the block-manager
promotion, not in any operator logic.

``local_ckpt_ser`` keeps the semantics (eager local checkpoint, lineage
cut, blocks live until session end) but stores ``MEMORY_AND_DISK_SER``:
serialized bytes in memory, exact-size accounting by the memory manager,
and disk re-reads stream/cached as BOUNDED byte buffers instead of
unrolled object graphs. Deserialization happens per-task-iterator, never
as a resident heap copy. The CPU cost of deserializing on reuse is noise
next to the shuffles these frames feed; the memory bound is the point —
a 100 TB-shaped input must never depend on a deserialized fact table
fitting in the executor heap.

Use it for any checkpoint whose row count scales with the DATA (fact
joins, corpus rewrites, n-gram explosions). Dimension-scale frames
(per-round label maps, centroid tables) can keep plain
``localCheckpoint`` — promotion of a few million narrow rows is exactly
what the default level is for.

A data-scale frame stays serialized even when it is small: promoting
small frames to the deserialized level measured no faster and held two
cached copies (bigram_logprob, sf0.1, 4 cores).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def local_ckpt_ser(df: DataFrame, eager: bool = True) -> DataFrame:
    """Eager-by-default local checkpoint at the serialized mem+disk level.

    Naming note: PySpark's ``StorageLevel.MEMORY_AND_DISK`` carries
    ``deserialized=False`` — it IS the serialized level (the JVM-side
    constant of the same name is the deserialized one, which is what
    ``localCheckpoint()`` defaults to when no level is passed; PySpark
    exposes that variant as ``MEMORY_AND_DISK_DESER``)."""
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def release_local_ckpt(df: DataFrame) -> None:
    """Drop the persisted blocks behind a ``localCheckpoint``-ed frame.

    Local-checkpoint blocks normally live until session end (the
    ContextCleaner only reclaims them when the RDD is garbage-collected,
    and a Python-side reference chain can pin them for the whole run) —
    a loop that checkpoints per iteration therefore ACCUMULATES
    block-manager storage (ADVICE r12 on ``dense_id_compaction``).
    Call this once every downstream consumer of the checkpoint has been
    materialized into its own storage (e.g. a cached frame counted to
    completion): after release, the frame — and anything whose
    recomputation would need its truncated lineage — can no longer be
    recomputed, so a later cache-block loss (executor failure) fails the
    job instead of silently rescanning. That is the SAME failure
    contract ``localCheckpoint`` already carries (its blocks are
    unreplicated and die with their executor); release only moves the
    reclaim earlier for the healthy path.

    Best-effort: the reflective walk to the persisted internal RDD is
    version-sensitive, and a failure to release merely reverts to the
    session-lifetime retention this helper exists to shorten."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
