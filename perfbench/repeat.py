"""Run the benchmark once per seed and summarise each end-to-end metric.

    python3 perfbench/repeat.py --workload als_grid --workload content_queries --seeds 10

Run from the repository root. Each run is ``perfbench/run.py`` with
``--seconds`` from BENCHMARK.json and ``--trace 0``, seeds 1..N. Prints one
JSON object: per workload and metric the ten values, their median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread, which is
(q3 - q1) / median; plus attempted and failed operations, the wall time of
each run, the gate failures by seed and the host facts of the first run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3, "spread": (q3 - q1) / median,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    out = {}
    for workload in args.workload:
        metrics: dict[str, list[float]] = {}
        walls, attempted, failed, host, gates = [], 0, 0, None, {}
        for seed in range(1, args.seeds + 1):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.perf_counter() - t)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                return 1
            lines = proc.stdout.strip().splitlines()
            record, result = json.loads(lines[-2]), json.loads(lines[-1])
            host = host or record["host"]
            attempted += result["attempted"]
            failed += result["failed"]
            if record["gate_failures"]:
                gates[seed] = record["gate_failures"]
            for name, m in result["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f} s", file=sys.stderr, flush=True)
        out[workload] = {
            "metrics": {name: summarise(v) for name, v in metrics.items()},
            "attempted": attempted, "failed": failed, "gate_failures": gates,
            "run_wall_s": walls, "host": host,
        }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
