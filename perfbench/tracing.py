"""Spans around the calls into the package, and the Spark work they caused.

A span sets the Spark job group to its name, so every job it forces,
including those started from MLlib's tuning threads (they inherit the
group), is charged to it. A span ``a`` also owns every job of the spans
named ``a.*``; if ``a`` was never opened it covers the first to the last of
them. After the traced pass the job and stage records are read
from the driver's in-process status store; no UI or event log is needed.

Per span:
  wall_s            span duration
  jobs              jobs charged to the span
  exec_run_s        executor run time of the stages those jobs ran
  exec_cpu_s        executor CPU time of the same stages
  shuffle_write_mb  shuffle bytes written, MiB
  spill_mb          bytes spilled to disk, MiB
  driver_floor_s    wall_s minus the union of the jobs' intervals: time no
                    job of the span was running (planning, driver-side
                    work, Python, scheduling gaps)
  core_busy         exec_run_s / (wall_s * cores)
  jobs_s            union of the jobs' intervals, unclipped; a job charged
                    to the span ran inside it, so this is at most wall_s

``Tracer.overhead_s`` is the time the traced pass spent inside the tracer
(opening and closing spans, which sets Spark local properties); reading
the status store happens after the pass.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MIB = 1024 * 1024


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: dict[str, tuple[float, float]] = {}  # name -> (start, end) epoch s
        self._open: str | None = None
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        """A span around one block. Spans do not nest; a dotted name makes
        the prefix a parent that owns the span's jobs."""
        self.switch(name)
        try:
            yield
        finally:
            self.close()

    def switch(self, name: str) -> None:
        """End the open span, if any, and start ``name``. Used where the
        layer boundaries lie inside one package call."""
        self.close()
        t = time.perf_counter()
        self._open = name
        self.spans[name] = (time.time(), 0.0)
        self.sc.setJobGroup(name, name)
        self.overhead_s += time.perf_counter() - t

    def close(self) -> None:
        if self._open is not None:
            t = time.perf_counter()
            start, _ = self.spans[self._open]
            self.spans[self._open] = (start, time.time())
            self._open = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t

    def metrics(self) -> dict[str, dict[str, float]]:
        """Per-span measures, read from the status store after the work is done."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        empty_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        no_status = self.sc._jvm.java.util.ArrayList()

        jobs_by_group: dict[str, list[int]] = {
            name: list(tracker.getJobIdsForGroup(name)) for name in self.spans
        }
        job_cache: dict[int, tuple[float, float, list[int]]] = {}
        stage_cache: dict[int, tuple[float, float, float, float]] = {}

        def job(jid: int):
            if jid not in job_cache:
                jd = store.job(jid)
                start = jd.submissionTime().get().getTime() / 1000.0
                end = jd.completionTime().get().getTime() / 1000.0
                sids = jd.stageIds()
                job_cache[jid] = (start, end, [sids.apply(i) for i in range(sids.size())])
            return job_cache[jid]

        def stage(sid: int):
            if sid not in stage_cache:
                run = cpu = shuffle = spill = 0.0
                attempts = store.stageData(sid, False, no_status, False, empty_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    run += sd.executorRunTime() / 1000.0
                    cpu += sd.executorCpuTime() / 1e9
                    shuffle += sd.shuffleWriteBytes() / MIB
                    spill += sd.diskBytesSpilled() / MIB
                stage_cache[sid] = (run, cpu, shuffle, spill)
            return stage_cache[sid]

        spans = dict(self.spans)
        for name in self.spans:  # a dotted name implies its parents
            parts = name.split(".")
            for i in range(1, len(parts)):
                parent = ".".join(parts[:i])
                kids = [v for k, v in self.spans.items() if k.startswith(parent + ".")]
                spans.setdefault(parent, (min(s for s, _ in kids), max(e for _, e in kids)))
        out: dict[str, dict[str, float]] = {}
        for name, (start, end) in spans.items():
            jids = sorted({
                j for group, ids in jobs_by_group.items()
                if group == name or group.startswith(name + ".")
                for j in ids
            })
            intervals = [job(j)[:2] for j in jids]
            sids = sorted({s for j in jids for s in job(j)[2]})
            run, cpu, shuffle, spill = (sum(v) for v in zip(*(stage(s) for s in sids))) \
                if sids else (0.0, 0.0, 0.0, 0.0)
            wall = end - start
            out[name] = {
                "wall_s": wall,
                "jobs": float(len(jids)),
                "exec_run_s": run,
                "exec_cpu_s": cpu,
                "shuffle_write_mb": shuffle,
                "spill_mb": spill,
                "driver_floor_s": max(0.0, wall - _covered(intervals, start, end)),
                "core_busy": run / (wall * self.cores) if wall > 0 else 0.0,
                "jobs_s": _covered(intervals, float("-inf"), float("inf")),
            }
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
