"""Turn a Spark event log plus the benchmark's spans into layer metrics.

Each job counts toward the span whose window holds its submission time.
Windows are taken by time, not by job description, so jobs started from
helper threads (the engine's thread pools lose the description) are still
attributed.  A stage belongs to the first job that lists it; its tasks
carry the CPU, shuffle and spill figures.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
from dataclasses import dataclass, field

from linkbench.spans import WARMUP, Spans

LAYERS = ["session", "sources.webpages", "preprocess", "mustlinks",
          "blocking", "nameprob", "pairs", "model.fit", "model.score",
          "cluster", "checkpoint.write", "checkpoint.read"]

#: per-layer metric -> unit
LAYER_METRICS = {
    "wall_s": "s", "cpu_s": "s", "slot_util": "ratio",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "jobs": "count", "tasks": "count", "task_skew": "ratio",
    "rows_out": "rows",
}

#: whole-run and ratio metrics of the traced run -> unit
EXTRA_METRICS = {
    "trace.wall_s": "s",                    # the traced pass, end to end
    "unattributed.wall_share": "ratio",     # traced wall outside spans
    "unattributed.cpu_share": "ratio",      # executor CPU of such jobs
    "blocking.pairs_per_name": "ratio",     # candidate pairs / nn_string
    "model.fit.train_rows": "rows",         # labeled data rows
    "checkpoint.write.bytes_per_record": "B",
    "step.wall_s": "s",                     # the step the untraced run times
    "jvm.peak_rss_mb": "MB",                # driver JVM high-water RSS
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {f"{layer}.{m}": u for layer in LAYERS
             for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


_MB = 1e6
_OUTSIDE = "outside the traced pass"


@dataclass
class _Stage:
    durations: list[float] = field(default_factory=list)   # ms
    cpu_ns: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


def read_events(path: str) -> tuple[list[tuple[float, list[int]]],
                                    dict[int, _Stage]]:
    """(jobs as (submit_ms, stage ids), stages by id) from one
    uncompressed event-log file."""
    jobs: list[tuple[float, list[int]]] = []
    stages: dict[int, _Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append((float(ev["Submission Time"]),
                             list(ev["Stage IDs"])))
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info"), ev.get("Task Metrics")
                if not info or not m:
                    continue
                st = stages.setdefault(ev["Stage ID"], _Stage())
                st.durations.append(info["Finish Time"] - info["Launch Time"])
                st.cpu_ns += m.get("Executor CPU Time", 0)
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
                st.spill += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def find_log(event_dir: str) -> str:
    """The single finished application log in ``event_dir``."""
    logs = [f for f in os.listdir(event_dir)
            if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, "
                           f"found {sorted(os.listdir(event_dir))}")
    return os.path.join(event_dir, logs[0])


def layer_metrics(path: str, spans: Spans, cores: int) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in :data:`LAYERS`, plus the
    share of traced wall time and executor CPU no span covers."""
    jobs, stages = read_events(path)
    windows = sorted((t0, t1, name) for name, t0, t1 in spans.windows)
    starts = [w[0] for w in windows]
    # the traced pass: from the first layer span to the last one; the
    # session start and the warm-up windows inside it are not part of it
    traced = [(t0, t1) for t0, t1, name in windows
              if name not in ("session", WARMUP)]
    lo, hi = traced[0][0], max(t1 for _, t1 in traced)
    warmup_ms = sum(min(t1, hi) - max(t0, lo) for t0, t1, name in windows
                    if name == WARMUP and t1 > lo and t0 < hi)

    def layer_at(t_ms: float) -> str | None:
        i = bisect.bisect_right(starts, t_ms) - 1
        if i >= 0 and t_ms <= windows[i][1]:
            return windows[i][2]
        return None

    # stage id -> layer; None = in the traced pass but outside every
    # span; the checks after the pass and the warm-up windows count
    # toward no layer and toward neither unattributed share
    owner: dict[int, str | None] = {}
    n_jobs: dict[str | None, int] = {}
    for submit, stage_ids in sorted(jobs):
        layer = layer_at(submit) if lo <= submit <= hi else _OUTSIDE
        n_jobs[layer] = n_jobs.get(layer, 0) + 1
        for sid in stage_ids:
            owner.setdefault(sid, layer)

    per: dict[str | None, list[_Stage]] = {}
    for sid, st in stages.items():
        if sid in owner:
            per.setdefault(owner[sid], []).append(st)

    out: dict[str, float] = {}
    for layer in LAYERS:
        sts = per.get(layer, [])
        wall = spans.wall_s(layer)
        busy_ms = sum(sum(s.durations) for s in sts)
        # skew of the stage with the most task time, the one that
        # decides the layer's wall time
        main = max(sts, key=lambda s: sum(s.durations), default=None)
        skew = 0.0
        if main is not None and main.durations:
            med = statistics.median(main.durations)
            skew = max(main.durations) / med if med > 0 else 0.0
        vals = {
            "wall_s": wall,
            "cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
            "slot_util": busy_ms / 1000.0 / (wall * cores) if wall else 0.0,
            "shuffle_write_mb": sum(s.shuffle_write for s in sts) / _MB,
            "shuffle_read_mb": sum(s.shuffle_read for s in sts) / _MB,
            "spill_mb": sum(s.spill for s in sts) / _MB,
            "jobs": n_jobs.get(layer, 0),
            "tasks": sum(len(s.durations) for s in sts),
            "task_skew": skew,
            "rows_out": spans.rows.get(layer, 0),
        }
        out.update({f"{layer}.{k}": v for k, v in vals.items()})

    total_wall = (hi - lo - warmup_ms) / 1000.0
    covered = sum(t1 - t0 for t0, t1 in traced) / 1000.0
    cpu_all = sum(s.cpu_ns for layer, sts in per.items()
                  if layer not in (WARMUP, _OUTSIDE) for s in sts)
    cpu_none = sum(s.cpu_ns for s in per.get(None, []))
    out["trace.wall_s"] = total_wall
    out["unattributed.wall_share"] = max(0.0, 1.0 - covered / total_wall)
    out["unattributed.cpu_share"] = cpu_none / cpu_all if cpu_all else 0.0
    return out
