"""Record-linkage benchmark: one workload, one seed, one JSON result.

Usage, from the repository root::

    python3 linkbench/run.py --workload er_resume --seed 0 --seconds 12 \
        --trace 0

A run starts its own Spark session on ``local[4]`` and writes the seeded
input.  It sets the workload up, which leaves the JVM warm.  Untraced
(``--trace 0``), it then times as many whole steps as fit in
``--seconds`` (at least one) and reports the median step time with the
end-to-end metrics.  Traced (``--trace 1``), Spark's event log is on and the run
makes one step; the engine's layer calls, instrumented the same way in
both modes, give the per-layer metrics.  Every step's output is checked.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the details (hashes, F1, host canary).  The run
writes only under ``.linkbench_work/`` in the repository root and removes
its files at exit, except ``.linkbench_work/runs.jsonl``, one line per run
with the host canary.  See ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".linkbench_work")
WORKLOADS = ("er_resume", "wp_ingest")
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

#: end-to-end metric -> unit
END_TO_END = {"setup_s": "s", "run_s": "s", "records_per_s": "records/s"}


def log(msg: str) -> None:
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def import_engine() -> float:
    """Import the engine from this checkout; return seconds taken."""
    t0 = time.time()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import namematch_spark
    import namematch_spark.pipeline  # noqa: F401  (pyspark, engine)
    where = os.path.dirname(os.path.abspath(namematch_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"namematch_spark comes from {where}, "
                          f"not from {ROOT}")
    return time.time() - t0


def start_session(work: str, trace: bool):
    from namematch_spark.session import get_spark
    conf = {
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its full size, so runs do not differ in
        # when and how far it grows
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="linkbench", master=f"local[{CORES}]",
                      conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM, from ``/proc``."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()        # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def run(args: argparse.Namespace, work: str, import_s: float) -> int:
    from pyspark.sql import functions as F

    from namematch_spark.operators.blocking import nn_strings

    from linkbench import canary, checks, eventlog, inputs
    from linkbench import workloads as W
    from linkbench.spans import Spans, instrument

    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None   # re-read TMPDIR

    host = canary.probe()
    ticks0 = canary.cpu_ticks()
    orders = W.SIZES[args.workload]
    input_dir = inputs.write_orders(os.path.join(work, "input"), orders,
                                    args.seed)
    spans = Spans()
    instrument(spans)
    t0 = time.time()
    with spans.span("session"):
        spark = start_session(work, bool(args.trace))

    steps: list = []          # Outcome of every timed step
    failed = 0
    failures: list[str] = []
    details: list[dict] = []
    setup_s = peak_rss = n_names = None

    def checked(out) -> None:
        nonlocal failed
        steps.append(out)
        log(f"{args.workload} seed {args.seed} step {len(steps)}: "
            f"{out.run_s:.2f}s, {out.records} records")
        fails, det = checks.check(args.workload, orders, args.seed, out,
                                  first=len(steps) == 1)
        if details and det["hashes"] != details[0]["hashes"]:
            fails.append(f"step {len(steps)} hashes {det['hashes']} differ "
                         f"from step 1's {details[0]['hashes']}")
        failed += bool(fails)
        failures.extend(fails)
        details.append(det)

    try:
        step = getattr(W, args.workload)(spark, input_dir, work, spans)
        setup_s = import_s + time.time() - t0
        if args.trace:
            checked(step())
            spans.leave()
            # row counts of the layers' outputs, after the traced pass
            for layer, df in spans.outputs.items():
                spans.add_rows(layer, df.count())
            data_rows = steps[0].tables.get("data_rows")
            if data_rows is not None:
                spans.add_rows("model.fit", data_rows.filter(
                    F.col("label") != "").count())
            n_names = nn_strings(steps[0].tables["all_names"]).count()
        else:
            # time whole steps while one more, at the median step time
            # so far, still fits in --seconds (at least one step); the
            # checks between them do not count
            while not steps or (sum(o.run_s for o in steps)
                                + statistics.median(o.run_s for o in steps)
                                <= args.seconds):
                checked(step())
        peak_rss = jvm_peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        failed += 1
        failures.append("the workload raised; traceback on stderr")
    finally:
        stop_session(spark)

    metrics: dict[str, float] = {}
    units: dict[str, str] = {}
    measured = peak_rss is not None     # the workload ran to the end
    if measured and not args.trace:
        units = END_TO_END
        metrics = {
            "setup_s": setup_s,
            "run_s": statistics.median(o.run_s for o in steps),
            "records_per_s": statistics.median(o.records / o.run_s
                                               for o in steps)}
    elif measured:
        units = eventlog.per_layer_units()
        out = steps[0]
        metrics = eventlog.layer_metrics(
            eventlog.find_log(os.path.join(work, "eventlog")), spans, CORES)
        metrics.update({
            "blocking.pairs_per_name": spans.rows.get("blocking", 0) / n_names,
            "model.fit.train_rows": spans.rows.get("model.fit", 0),
            "checkpoint.write.bytes_per_record":
                out.ckpt_bytes / out.records,
            "step.wall_s": out.run_s,
            "jvm.peak_rss_mb": peak_rss})
    info = {"workload": args.workload, "seed": args.seed, "orders": orders,
            "trace": args.trace, "setup_s": setup_s,
            "step_s": [o.run_s for o in steps], "peak_rss_mb": peak_rss,
            "failures": failures, "checks": details,
            "host": {**host, "steal_pct": canary.steal_pct(
                ticks0, canary.cpu_ticks())}}
    print(json.dumps({"linkbench": info}), flush=True)
    with open(os.path.join(WORK_ROOT, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"utc": time.time(), **info, "metrics": metrics})
                + "\n")
    for msg in failures:
        log(f"CHECK FAILED: {msg}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, len(steps)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0 if metrics else 1


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import_s = import_engine()
    except ImportError as ex:
        log(f"cannot import the engine: {ex}")
        return 2
    work = os.path.join(WORK_ROOT,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work, import_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
