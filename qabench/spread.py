"""Run-to-run spread of the end-to-end metrics.

    python3 qabench/spread.py --seeds 1-10 [--workloads W ...] [--out FILE]

Runs the benchmark once per (workload, seed), one run at a time, and
prints for each end-to-end metric its median and its spread: the
distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median. The
benchmark's bounds must stay above these spreads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from qabench.spec import END_TO_END, WORKLOADS  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    report = {}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True,
            )
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}", flush=True)
                continue
            r = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append(r)
            print(w, s, r["correct"], r["attempted"], r["failed"],
                  {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                  flush=True)
        report[w] = {"runs": len(runs),
                     "all_correct": all(r["correct"] for r in runs)}
        for name, _unit, _better, bound in END_TO_END:
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) >= 2:
                report[w][name] = {"median": statistics.median(vals),
                                   "spread": spread(vals), "bound": bound,
                                   "values": vals}
        print(w, json.dumps(report[w]), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
