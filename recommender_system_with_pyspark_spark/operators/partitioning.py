"""Scale-adaptive input spreading for compute-heavy narrow stages.

The engine's single-file parquet fixtures scan as ONE split (a small file
is one row group; Spark cannot subdivide a row group), so every pipeline
of narrow operators downstream of such a scan — Arrow ``mapInPandas``
codecs, posexplode projections, self-join map sides — runs on ONE core no
matter how many the session has (measured round 13: the MP3 header audit
spent 3.6 s of its 4.1 s in a single-task encode+parse chain on a 32-core
host; spread across cores the same chain is ~1.1 s).

``spread_small_input`` raises the partition count to the session's
``defaultParallelism`` with ONE hash repartition — and only when the
input has fewer partitions than that, so it is a NO-OP at deployment
scale (a 100 TB corpus scans as tens of thousands of splits and never
takes the shuffle). The explicit-numPartitions shuffle carries the
``REPARTITION_BY_NUM`` origin, which AQE's partition coalescing respects
— the spread cannot be silently merged back to one partition by the
advisory size (the whole point is distributing CPU work whose per-row
cost dwarfs its byte size).

Spread ONCE, at the scan or in the synthesizer/trainer that reads it,
never inside a downstream operator: ``mapInPandas`` and narrow stages
keep the spread count, so an operator-internal probe only pays to
compile the upstream chain (118–170 ms for the MP3 codec chains, sf0.1,
4 cores).

Determinism: hash partitioning by a key column is a pure function of the
data (same rows → same placement, under retries too), and every caller
feeds order-insensitive per-row or associative work, so results are
bit-identical with or without the spread. Keyless calls fall back to
round-robin ``repartition(n)``, which Spark makes retry-deterministic by
local-sorting first (SPARK-23207) — prefer a key column when one exists
(no sort, and the placement is stable across unrelated upstream
reorderings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Partition-count probe memo. ``df.rdd.getNumPartitions()`` compiles the
# frame's physical plan a SECOND time (the real query recompiles after the
# repartition is appended). Every caller probes a scan plan: 44–79 ms of
# driver time uncached, ~1 ms from the memo (sf0.1, 4 cores).
# The partition count of a semantically identical plan inside one
# application is stable (it is a function of the file layout and session
# parallelism), so key the memo on (applicationId, semanticHash).
# A (vanishingly unlikely) 32-bit hash collision can only mis-skip or
# mis-add a spread — a performance decision, never a correctness one.
# Staleness (ADVICE r13): the memo never invalidates WITHIN an
# application, so a path whose file layout changes mid-app (fixtures
# rewritten, table appended) keeps its old count until the app restarts —
# again only a spread-or-not decision, never correctness. When full, one
# arbitrary entry is evicted instead of clearing the whole memo (a clear
# re-paid every probe in flight).
_PROBE_CACHE: "dict[tuple[str, int], int]" = {}
_PROBE_CACHE_MAX = 4096


def _num_partitions(df: DataFrame) -> int | None:
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # plan cannot be converted (e.g. streaming) — never break the caller
        return None
    if key is not None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))  # evict one, not all
        _PROBE_CACHE[key] = n
    return n


def spread_small_input(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Repartition ``df`` to defaultParallelism partitions when it has
    fewer; pass through unchanged otherwise. Hash-partitions by
    ``key_col`` when given (deterministic, sort-free), round-robin
    otherwise."""
    tgt = df.sparkSession.sparkContext.defaultParallelism
    if tgt <= 1:
        return df
    cur = _num_partitions(df)
    if cur is None or cur >= tgt:
        return df
    if key_col is not None:
        return df.repartition(tgt, F.col(key_col))
    return df.repartition(tgt)
