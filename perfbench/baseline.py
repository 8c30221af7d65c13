"""Measure the benchmark's baseline on this host and write BASELINE.json.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1000]

For every workload in BENCHMARK.json: ``--runs`` untraced runs, each with
its own seed and workloads interleaved, then one traced run. Records each
end-to-end metric's values, median, quartiles and spread (interquartile
range over median, as ``statistics.quantiles(values, n=4)`` gives them), and
the traced per-layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    report = next(json.loads(x) for x in out if x.startswith('{"workload"'))
    return dict(result=json.loads(out[-1]), report=report,
                wall_s=time.time() - t0)


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return dict(median=med, q1=q1, q3=q3,
                spread=(q3 - q1) / med if med else 0.0, values=values)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:
            runs[w].append(run(w, args.first_seed + i, bench["run_seconds"], 0))
            print(w, args.first_seed + i, runs[w][-1]["result"]["metrics"],
                  file=sys.stderr)
    with open("/proc/cpuinfo") as f:
        cpu = next((x.split(":", 1)[1].strip() for x in f
                    if x.startswith("model name")), "unknown")
    out = dict(
        host=dict(cpus=len(os.sched_getaffinity(0)), cpu=cpu,
                  python=platform.python_version(),
                  measured=time.strftime("%Y-%m-%d", time.gmtime())),
        run_seconds=bench["run_seconds"], runs=args.runs,
        end_to_end={}, per_layer={},
    )
    for w in names:
        rs = runs[w]
        out["end_to_end"][w] = dict(
            seeds=[args.first_seed + i for i in range(args.runs)],
            failed=sum(r["result"]["failed"] for r in rs),
            attempted=sum(r["result"]["attempted"] for r in rs),
            run_walls_s=[round(r["wall_s"], 1) for r in rs],
            steal_pct_median=[r["report"]["steal_pct_median"] for r in rs],
            peak_rss_mb=summary([r["report"]["peak_rss_mb"] for r in rs]),
            metrics={m["name"]: dict(unit=m["unit"], **summary(
                [r["result"]["metrics"][m["name"]]["value"] for r in rs]))
                for m in bench["end_to_end"]},
        )
        traced = run(w, args.first_seed, bench["run_seconds"], 1)
        out["per_layer"][w] = dict(
            seed=args.first_seed, failed=traced["result"]["failed"],
            run_wall_s=round(traced["wall_s"], 1),
            untraced_walls_s=traced["report"]["untraced_walls_s"],
            traced_walls_s=traced["report"]["traced_walls_s"],
            metrics={k: v["value"]
                     for k, v in traced["result"]["metrics"].items()},
        )
    with open(os.path.join(ROOT, "perfbench", "BASELINE.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
