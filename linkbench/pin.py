"""Pin the deterministic hashes that the output check compares against.

For each seed, writes the workloads' inputs, computes their deterministic
stage outputs through ``run_pipeline`` in memory (no checkpoint
directory, one Spark session for all seeds) and stores their
(rows, hash) in ``pinned.json``.  The workloads read the same tables back
from parquet checkpoints, so a pin also checks the checkpoint path.  Run
from the repository root after a change that is meant to change these
outputs::

    python3 linkbench/pin.py --seeds 0-39
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from linkbench import checks, inputs, run  # noqa: E402
from linkbench import workloads as W  # noqa: E402
from linkbench.spread import seeds  # noqa: E402


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", default="0-39", help="inclusive range, a-b")
    args = p.parse_args(argv)
    run.import_engine()
    from namematch_spark.pipeline import run_pipeline
    from namematch_spark.sources.records import person_records

    work = os.path.join(run.WORK_ROOT, f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(checks.PINNED_FILE) as f:
        pins = json.load(f)
    spark = run.start_session(work, trace=False)
    try:
        for seed in seeds(args.seeds):
            er_in = inputs.write_orders(os.path.join(work, "er"),
                                        W.SIZES["er_resume"], seed)
            res = run_pipeline(person_records(spark, er_in),
                               stop_after="data_rows")
            pins["er_resume"][str(seed)] = {
                name: list(checks.table_hash(df)) for name, df in [
                    ("all_names", res.all_names),
                    ("must_links", res.must_links),
                    ("candidates", res.candidate_nn_pairs),
                    ("data_rows", res.data_rows)]}
            wp_in = inputs.write_orders(os.path.join(work, "wp"),
                                        W.SIZES["wp_ingest"], seed)
            _, records = W.web_records(spark, wp_in)
            an = run_pipeline(records, stop_after="all_names").all_names
            pins["wp_ingest"][str(seed)] = {
                "all_names": list(checks.table_hash(an))}
            print(f"seed {seed}: {pins['er_resume'][str(seed)]} "
                  f"{pins['wp_ingest'][str(seed)]}", flush=True)
            with open(checks.PINNED_FILE, "w") as f:
                json.dump(pins, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
