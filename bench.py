"""BENCH harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (count() would let
Catalyst prune the computed columns; noop materializes every output column
without driver transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",        # grouped aggregate (TPC-H Q1 shape)
    "prune_sparse",           # semi-join pruning composition
    "broadcast_join_revenue", # fact ⋈ dim broadcast join
    "right_outer_join",       # outer join
    "topk_per_group",         # window top-k
    "iqr_outlier",            # sequential quantile filter
    "window_hourly",          # time-window aggregate
    "sessionize",             # lag/cumsum sessionization
    "rollup_agg",             # hierarchical rollup
    "token_stats",            # text analysis projection
    "doc_fingerprint",        # hashing projection
    "dedup_exact",            # exact dedup
    "minhash_near_dup",       # MinHash LSH near-dup (scale dedup path)
    "embedding_topk",         # brute-force ANN baseline
    "embedding_near_dup",     # cosine near-dup pairs
    "stream_tumbling_counts", # structured streaming window agg
    "als_recommend",          # ALS train + top-k recommend
    # round-2+ surface (added r5 so regressions on the newer operators are
    # tracked round-over-round; the original 17 stay first and comparable)
    "dedup_clusters",         # near-dup pairs -> connected components
    "bigram_logprob",         # bigram-LM fluency scoring
    "session_paths",          # sessionized event-path mining
    "cohort_retention",       # cohort x age retention triangle
    "scd2_history",           # slowly-changing-dimension intervals
    # round-5 surface
    "dq_audit",               # one-pass-per-table constraint gate
    "bm25_search",            # ranked retrieval
    "part_triangles",         # degree-ordered triangle census
    "semantic_dedup",         # cluster-pruned exact embedding dedup
    # round-6 surface
    "kmeans_embeddings",      # oracle-checked iterative Lloyd's k-means
    "ks_drift_events",        # distributed-ECDF Kolmogorov-Smirnov drift
    "funnel_conversion",      # ordered multi-step funnel
    # round-7 surface
    "multimodal_image_decode",  # real BMP encode+decode through Arrow batches
    "vocab_topk",               # TakeOrdered + window-free rank (was single-partition)
    # round-8 surface
    "bpe_encode_documents",         # tokenizer apply: pure codegen replace chain
    "hybrid_search_rrf",            # BM25 + embedding cosine fused by RRF
    "cms_user_counts",              # mergeable Count-Min sketch build + estimate
    "negative_sample_interactions", # md5-draw negatives over dense item index
    # round-9 surface
    "stream_decayed_features",      # NATIVE update-mode streaming decay agg (was Python state)
    "training_pipeline_e2e",        # quality->dedup->decontaminate->split->BPE->accounting
    "bpe_train_batched_merges",     # real-vocab batched BPE training (2 corpus passes)
    # round-10 surface (hard_negative_mining_ivf stays OUT of the headline:
    # its ~10 s is MLlib KMeans index-build overhead that amortizes across
    # queries at real scale but would dominate a toy-scale suite total; its
    # scale evidence lives in SCALING.md round 10 + the hash-checked oracle
    # entry)
    "multimodal_mp3_header_audit",  # MPEG-1 Layer III frame-header census
    # round-11 surface (hard_negative_mining_indexed_full stays OUT of the
    # headline for the same reason as _ivf: its one-time index build is
    # amortized cost by design — the probe-bound evidence lives in
    # SCALING.md round 11 + the hash-checked oracle entry)
    "multimodal_mp3_vbr_audit",     # MPEG-1/2/2.5 + Xing/ID3 VBR census
    # round-12 surface
    "multimodal_mp3_layer_census",  # Layer I/II/III × version census (slots-of-4 walk)
    # round-13 surface: als_recommend_ann stays OUT of the headline for
    # the same reason as the other index entries (_ivf, _indexed_full):
    # its cost is one amortized ALS fit + KMeans index build per corpus,
    # which would read as per-query time at toy scale; its scale evidence
    # is SCALING.md round 13 (sf100 serve vs the 145.6 h exact GEMM) and
    # the pytest recall invariants (exact recovery at full probe).
]


# Entries whose constants the sf1 stability study (SCALING.md round 7)
# showed carrying up to ~2x JVM session-state excursions in full-suite
# sessions (accumulated cached plans + old-gen pressure from the queries
# that ran before them). Before each of these, bench drops the SQL cache
# and forces a driver+JVM GC barrier (VERDICT r7 #5) so their measured
# constants reflect the query, not the session's history. The barrier runs
# ONCE before the query's warmup run — within-query caching still works and
# the timed repeats still measure the steady state.
HEAP_HEAVY = {"part_triangles", "embedding_near_dup", "semantic_dedup"}


def _isolation_barrier(spark) -> None:
    import gc
    import time as _t

    spark.catalog.clearCache()  # drop cross-query cached plans
    gc.collect()  # release driver-side RDD/broadcast refs -> ContextCleaner
    spark.sparkContext._jvm.System.gc()  # compact the old gen
    _t.sleep(0.3)  # let async cleaner callbacks drain


def _bench_in_subprocess(name: str) -> float | None:
    """Fresh-session mode for heap-heavy entries (VERDICT r7 #5): measure
    ``name`` in its OWN interpreter + JVM + Python-worker pool via a
    recursive bench.py invocation restricted to that query. The in-JVM
    barrier above was not enough — round-8 back-to-back sf1 suites still
    swung the cogroup entries up to ~2.6× (accumulated pyspark worker
    state / page-cache history), while dedicated sessions reproduce their
    constants. Costs ~20 s JVM startup per entry, so it is opt-in
    (``SPARK_GRAFT_BENCH_SUBPROC_HEAVY=1``) for stability studies and
    SCALING.md constants; the driver's headline run keeps the shared
    session. Returns the child's median, or None on child failure."""
    import json as _json
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = name
    env["SPARK_GRAFT_BENCH_SUBPROC_HEAVY"] = "0"  # no recursion
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            out = _json.loads(line)
            return out["queries"].get(name)
    print(f"BENCH SUBPROC ERROR {name}: {proc.stderr[-300:]}", file=sys.stderr)
    return None


def _host_telemetry() -> dict:
    """Host-load snapshot recorded in the bench JSON (VERDICT r9 #6): two
    'clean dedicated' runs of the same HEAD differed +23% purely from host
    baseline; loadavg + available memory at run time make such drift
    attributable without forensics (tools/bench_diff.py annotates deltas)."""
    tele: dict = {}
    try:
        tele["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            mem = dict(
                line.split(":", 1) for line in fh.read().splitlines() if ":" in line
            )
        tele["mem_available_gb"] = round(
            int(mem["MemAvailable"].strip().split()[0]) / 1024 / 1024, 2
        )
    except (OSError, KeyError, ValueError):
        pass
    return tele


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    host_start = _host_telemetry()

    from recommender_system_with_pyspark_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    import __spark_entry__ as e

    from recommender_system_with_pyspark_spark.io import load_table

    # JVM/codegen warmup so per-query numbers reflect steady state
    for t in ("lineitem", "documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    # MLlib/BLAS JIT warmup: als_recommend's first fit otherwise pays
    # ~5-15s of one-time class-load + JIT that is not plan cost
    from pyspark.ml.recommendation import ALS as _ALS

    _warm = spark.createDataFrame(
        [(i % 5, i % 7, float(i % 3)) for i in range(50)], "user int, item int, rating float"
    )
    _ALS(maxIter=1, rank=2, userCol="user", itemCol="item", ratingCol="rating", seed=1).fit(_warm)

    qs = e.queries()
    only = set(filter(None, os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")))
    if only:  # stability probes on a subset (tools/bench_diff.py)
        global HEADLINE
        HEADLINE = [q for q in HEADLINE if q in only]
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Default ON since round 9 (VERDICT r8 #2): the heap-heavy trio measures
    # in fresh child sessions so the committed artifact is session-state-
    # proof; the ~20 s JVM startup per entry is wall-clock only — the child
    # reports its steady-state median, never the startup.
    subproc_heavy = os.environ.get("SPARK_GRAFT_BENCH_SUBPROC_HEAVY", "1") == "1"
    for name in HEADLINE:
        fn = qs[name]
        if subproc_heavy and name in HEAP_HEAVY:
            t = _bench_in_subprocess(name)
            if t is None:
                errors[name] = "subprocess bench failed"
            else:
                timings[name] = t
            continue
        if isolate and name in HEAP_HEAVY:
            _isolation_barrier(spark)
        # median-of-N after one DISCARDED warmup (VERDICT r5 #7): best-of-2
        # still swung +-48% on sub-second entries round-over-round; the
        # warmup absorbs per-query class-load/codegen cost, the median is
        # robust to one slow outlier without rewarding a lucky cache hit
        # heap-heavy cogroup entries tier up slowly: measured settle curve
        # at sf1 is ~18.6 -> 7.5 -> 5.9 -> 5.7 -> flat (Arrow+cogroup JIT
        # needs several runs), so one discarded warmup leaves the median
        # contaminated by warmup decay — give them three
        n_warm = 3 if name in HEAP_HEAVY else 1
        try:
            samples: list[float] = []
            for i in range(n_warm + max(1, repeats)):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                if i >= n_warm:  # drop the warmup runs
                    samples.append(time.time() - t0)
            samples.sort()
            mid = len(samples) // 2
            median = samples[mid] if len(samples) % 2 else (samples[mid - 1] + samples[mid]) / 2
            timings[name] = round(median, 3)
        except Exception as exc:  # one broken query must not sink the suite
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)

    # Plan hygiene gate (VERDICT r6 #7): count window specs with NO
    # partition clause — the plan-side twin of the JVM's "WindowExec: No
    # Partition Defined ... Moving all data to a single partition" warning
    # — so a single-partition window can never land in the headline suite
    # silently. Detection is outside the timing loop (plan analysis is not
    # query cost).
    from recommender_system_with_pyspark_spark.plans.explain import (
        unpartitioned_window_specs,
    )

    plan_warnings = 0
    warn_queries: dict[str, int] = {}
    for name in HEADLINE:
        if name in errors:
            continue
        try:
            bad = unpartitioned_window_specs(qs[name](spark, sf_dir))
        except Exception:  # streaming entries may not expose a batch plan
            continue
        if bad:
            warn_queries[name] = len(bad)
            plan_warnings += len(bad)
            print(f"BENCH PLAN WARNING {name}: {len(bad)} unpartitioned "
                  f"window spec(s)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "plan_warnings": plan_warnings,
                "host": {"start": host_start, "end": _host_telemetry()},
                **({"plan_warning_queries": warn_queries} if warn_queries else {}),
                **({"errors": errors} if errors else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
