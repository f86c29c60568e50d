"""Run-to-run spread of the end-to-end metrics over several seeds.

Runs ``run.py`` once per seed, one run at a time, and prints for every
end-to-end metric the median, the quartiles (``statistics.quantiles``,
n=4) and the interquartile range as a share of the median, next to the
metric's bound from ``BENCHMARK.json``.  From the repository root::

    python3 linkbench/spread.py --workload er_resume --seeds 0-9
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="0-9", help="inclusive range, a-b")
    p.add_argument("--seconds", default=None,
                   help="default: run_seconds from BENCHMARK.json")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or str(bench["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", "0"], cwd=ROOT, capture_output=True, text=True,
            timeout=600)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        if not res["correct"]:
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{k:>14}: median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"spread {(q3 - q1) / med:.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
