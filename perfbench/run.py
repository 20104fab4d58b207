"""Benchmark of the BGG recommender engine: the paper's ALS grid, its
content model and a slice of the headline query library.

    python3 perfbench/run.py --workload als_grid --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one client, closed loop: the
workload's timed calls run back to back on ``local[<cores>]`` until
``--seconds`` have passed (at least one pass). Only als_grid warms up
before it (``AlsGrid.warmup``); in content_queries the pass pays class
loading and JIT compilation, as a batch job does. The models' inputs are
generated from ``--seed``; the queries read the fixed tables in
``testdata/`` and take their order from the seed. Everything the run
writes goes to ``.perfbench_work/`` in the current directory and is
removed at exit. All times are wall times.

The last stdout line is the result:
  {"correct", "attempted", "failed", "metrics"}
With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); set-up runs ``SETUP_REPEATS`` times and ``setup_s`` is
the session start plus the median set-up plus the warm-up, if the
workload has one. With ``--trace 1`` set-up runs once, a single pass runs
with a span per layer in place of the timed loop, and the metrics are the
per-layer ones: ``trace.run_s`` is that pass's wall time and
``trace.overhead_s`` the part of it spent inside the tracer. The line
before the result records the pinned settings, host facts, per-pass wall
and CPU times, gate failures, ``failed_share``, model quality, the share
of busy CPU time the hypervisor stole over the run and, when traced, the
spans.

Exits with code 2, printing no result, when it is not run from a checkout
that holds the package.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"
FAILED_CALL_S = 180.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "call_geomean_s": "s",
    "input_rows_per_s": "1/s",
    "peak_rss_mb": "MiB",
}

_SPAN_UNITS = {
    "wall_s": "s", "jobs": "count", "exec_run_s": "s", "exec_cpu_s": "s",
    "shuffle_write_mb": "MiB", "spill_mb": "MiB", "driver_floor_s": "s",
    "core_busy": "ratio",
}
_FULL = tuple(_SPAN_UNITS)
_SHORT = ("wall_s", "jobs", "exec_run_s", "driver_floor_s")
_FLOOR = ("wall_s", "jobs", "driver_floor_s")
# (span, measures) per workload; a workload reports 0 for spans it bypasses
SPANS = {
    "als_grid": [
        ("models.als_fit", _FULL), ("models.recommend", _FULL),
        ("bgg.index", _SHORT), ("relational.prune", _SHORT),
    ],
    "content_queries": [
        ("bgg.clean_complete", _FLOOR), ("bgg.encode", _FLOOR),
        ("features.content", _FLOOR), ("models.logreg_fit", _FLOOR + ("core_busy",)),
        ("queries", tuple(m for m in _FULL if m != "wall_s")),
    ],
}
EXTRA_LAYER_UNITS = {
    "relational.prune.rows_kept_ratio": "ratio",
    "models.als_fit.rmse": "rating",
    "models.als_fit.r2": "ratio",
    "bgg.clean_complete.rows_kept_ratio": "ratio",
    "models.logreg_fit.auc": "ratio",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import QUERIES

    units = {
        f"{span}.{m}": _SPAN_UNITS[m]
        for spans in SPANS.values() for span, measures in spans for m in measures
    }
    units.update({f"queries.{q}.wall_s": "s" for q in QUERIES})
    units.update(EXTRA_LAYER_UNITS)
    return units


def pin_environment(workdir: str) -> dict[str, str]:
    """Settings fixed by the benchmark, whatever the caller's environment."""
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")] + ["PYSPARK_SUBMIT_ARGS"]:
        os.environ.pop(var, None)
    tmp = os.path.join(workdir, "tmp")
    pinned = {"OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
              "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp}
    os.environ.update(pinned)
    os.makedirs(pinned["TMPDIR"], exist_ok=True)
    return pinned


def spark_conf(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def host_facts() -> dict:
    facts = {"loadavg": list(os.getloadavg())}
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                facts["mem_available_mb"] = int(line.split()[1]) // 1024
    return facts


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the high-water RSS of this process and all its descendants
    (the JVM and the Python workers)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the JVM and the Python workers), including descendants
    that have ended."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += sum(int(v) for v in fh.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    others = [p for p in process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while others and time.time() < deadline:
        others = [p for p in others if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for pid in others:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _cpu_ticks() -> tuple[int, int]:
    """(busy ticks, stolen ticks) of all CPUs since boot, from /proc/stat.
    Busy counts the time vCPUs wanted to run, stolen time included."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of busy CPU time the hypervisor stole between two readings. It
    is recorded beside the times, which are not corrected for it."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return steal / busy if busy > 0 else 0.0


def measure(calls, seconds: float):
    """Closed loop over the workload's calls until ``seconds`` of wall time
    have passed. Returns per-pass {call: wall seconds}, per-pass failed call
    names and per-pass CPU seconds of the process tree. A failed call is
    charged ``FAILED_CALL_S``, the most a whole run may take, so a failure
    cannot lower any time."""
    passes, failures, cpu = [], [], []
    start = time.perf_counter()
    while True:
        times, failed = {}, []
        c = cpu_s()
        for name, fn in calls:
            t = time.perf_counter()
            try:
                fn()
                times[name] = time.perf_counter() - t
            except Exception as exc:  # one failing call must not end the run
                print(f"call {name} failed: {type(exc).__name__}: {str(exc)[:300]}",
                      file=sys.stderr)
                failed.append(name)
                times[name] = FAILED_CALL_S
        passes.append(times)
        failures.append(failed)
        cpu.append(cpu_s() - c)
        if time.perf_counter() - start >= seconds:
            break
    return passes, failures, cpu


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "recommender_system_with_pyspark_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2

    parent = os.path.join(os.getcwd(), ".perfbench_work")
    workdir = os.path.join(parent, str(os.getpid()))
    os.makedirs(workdir, exist_ok=True)
    try:
        return _run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass


def _run(args, workdir: str) -> int:
    pinned = pin_environment(workdir)
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from recommender_system_with_pyspark_spark.session import get_spark
    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    host_start = host_facts()
    ticks_start = _cpu_ticks()

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=spark_conf(workdir),
    )
    spark.sparkContext.setCheckpointDir(os.path.join(workdir, "checkpoints"))
    session = time.perf_counter() - t
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.scale)
        setups = []
        for i in range(1 if args.trace else SETUP_REPEATS):
            if i:
                wl.teardown()
            t = time.perf_counter()
            wl.setup(args.seed)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        if hasattr(wl, "warmup"):
            wl.warmup()
        warmup = time.perf_counter() - t

        calls = wl.calls()
        if args.trace:
            tracer = Tracer(spark, cores)
            passes, failures, cpu = measure(wl.traced_calls(tracer), 0)
            spans = tracer.metrics()
            layers = {f"{span}.{m}": v for span, measures in spans.items()
                      for m, v in measures.items() if m in _SPAN_UNITS}
            layers.update(wl.trace_extras())
            layers["trace.run_s"] = sum(passes[0].values())
            layers["trace.overhead_s"] = tracer.overhead_s
        else:
            passes, failures, cpu = measure(calls, args.seconds)
        peak_mb = peak_rss_mb()
        t = time.perf_counter()
        gate = wl.check()
        check_s = time.perf_counter() - t
        quality = wl.quality()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        stop_spark(spark)

    run_times = [sum(p.values()) for p in passes]
    run_s = statistics.median(run_times)
    per_call = {name: statistics.median(p[name] for p in passes) for name, _ in calls}
    # every pass that ran a call whose output fails its gate fails that call
    attempted = len(failures) * len(calls)
    failed = sum(len(set(f) | set(gate)) for f in failures)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace,
        "settings": {
            "master": f"local[{cores}]", "shuffle_partitions": cores,
            "driver_memory": DRIVER_MEMORY, "setup_repeats": len(setups),
            "env": pinned,
        },
        "host": {"cores": cores, "start": host_start, "end": host_facts(),
                 "steal_share": steal_share(ticks_start, _cpu_ticks()), **versions},
        "session_s": session, "setup_times_s": setups, "warmup_s": warmup,
        "pass_s": run_times, "pass_cpu_s": cpu,
        "run_s": run_s, "call_median_s": per_call, "check_s": check_s,
        "quality": quality, "gate_failures": gate, "failed_share": failed / attempted,
        "input_rows": wl.input_rows,
    }
    if args.trace:
        record["spans"] = spans
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit in per_layer_units().items()}
    else:
        values = {
            "setup_s": session + statistics.median(setups) + warmup,
            "run_s": run_s,
            "call_geomean_s": workloads.geomean(list(per_call.values())),
            "input_rows_per_s": wl.input_rows / run_s,
            "peak_rss_mb": peak_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
