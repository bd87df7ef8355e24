"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --seeds 1 2 3 4 5 6 7 8 9 10 \\
        [--workloads lead_ingest registry_mix] [--trace 0] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), one at a time,
with ``run_seconds`` from BENCHMARK.json, and prints for every metric
its median, quartiles (``statistics.quantiles(n=4)``) and the spread
(q3 - q1) / median next to the metric's bound.  ``--out`` writes the
summary, with each workload's ops, inputs and run settings, as JSON.
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
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)  # med == median(values)
    return {
        "median": med, "q1": q1, "q3": q3, "n": len(values),
        "spread": (q3 - q1) / med if med else 0.0,
    }


def main(argv=None) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = run.make_workloads()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(workloads))
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    summary = {}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        inputs = None
        for seed in args.seeds:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            inputs = next(json.loads(x[8:]) for x in lines if x.startswith("inputs: "))
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} ({time.time() - t0:.0f} s)",
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        metrics = {k: summarise(v) for k, v in values.items()}
        summary[w] = {
            "ops": workloads[w].ops,
            "inputs": {k: v for k, v in inputs.items() if k != "dir"},
            "metrics": metrics,
        }
        for k, s in metrics.items():
            bound = f"  bound {bounds[k]}" if k in bounds else ""
            print(f"  {k:36s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  "
                  f"q3 {s['q3']:10.4f}  spread {s['spread']:.3f}{bound}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({
                "settings": {
                    "loop": "closed", "clients": 1, "cores": run.cores(),
                    "master": f"local[{run.cores()}]",
                    "driver_memory": run.DRIVER_MEMORY,
                    "run_seconds": spec["run_seconds"],
                    "warmup_passes": run.WARMUP_PASSES,
                    "min_passes": run.MIN_PASSES, "trace": args.trace,
                    "seeds": args.seeds,
                },
                "workloads": summary,
            }, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
