"""Fast self-test of the benchmark at its default sizes: ``er_resume`` at
sf0.001 (1,500 records), ``wp_ingest`` at 60,000 pages.

Runs every workload once untraced and once traced, each in its own
process, and checks that:

* every run exits 0 and reports ``correct: true``;
* the untraced run reports every end-to-end metric, the traced run every
  per-layer metric, each with its unit;
* the deterministic hashes of the traced run equal the untraced run's;
* the traced run leaves at most 10% of its wall time and executor CPU
  outside the layer spans;
* seed 0 is pinned, so the pinned-hash check ran.

It prints the tracing overhead: the traced step's wall time minus the
first timed step of the untraced run.  Run from the repository root,
about four minutes::

    python3 linkbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from linkbench.eventlog import per_layer_units  # noqa: E402
from linkbench.run import END_TO_END, ROOT, WORKLOADS  # noqa: E402

MAX_UNATTRIBUTED = 0.10


def run_once(workload: str, trace: int) -> tuple[dict, dict]:
    """(details, result) of one benchmark run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "0", "--seconds", "1",
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit "
                         f"{proc.returncode}")
    return json.loads(lines[-2])["linkbench"], json.loads(lines[-1])


def main() -> int:
    problems: list[str] = []
    for workload in WORKLOADS:
        results = {t: run_once(workload, t) for t in (0, 1)}
        for trace, want in ((0, END_TO_END), (1, per_layer_units())):
            info, res = results[trace]
            tag = f"{workload} trace={trace}"
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: not correct: {info['failures']}")
            if not info["checks"][0]["pinned"]:
                problems.append(f"{tag}: seed 0 has no pinned hashes")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ from the "
                                f"declared set: {sorted(set(got) ^ set(want))}")
        (plain, _), (traced, tres) = results[0], results[1]
        if plain["checks"][0]["hashes"] != traced["checks"][0]["hashes"]:
            problems.append(f"{workload}: traced hashes "
                            f"{traced['checks'][0]['hashes']} != untraced "
                            f"{plain['checks'][0]['hashes']}")
        m = tres["metrics"]
        for share in ("unattributed.wall_share", "unattributed.cpu_share"):
            if m[share]["value"] > MAX_UNATTRIBUTED:
                problems.append(f"{workload}: {share} = "
                                f"{m[share]['value']:.3f}")
        plain_s, traced_s = plain["step_s"][0], traced["step_s"][0]
        print(f"{workload}: first timed step untraced {plain_s:.2f}s, "
              f"traced {traced_s:.2f}s, tracing overhead "
              f"{traced_s - plain_s:+.2f}s; "
              f"unattributed wall "
              f"{m['unattributed.wall_share']['value']:.3f}, cpu "
              f"{m['unattributed.cpu_share']['value']:.3f}", flush=True)
    for p in problems:
        print("FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
