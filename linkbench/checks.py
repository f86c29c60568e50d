"""Output check that tolerates the random forest.

The random-forest path is not repeatable: ``potential_links`` differs by a
few rows between runs of correct code, so neither it nor anything built on
it (clusters) is hashed.  Only outputs that are deterministic are hashed:
the all-names table, must-links, candidate blockstring pairs and data rows.
Their (rows, hash) values are pinned in ``pinned.json`` for the seeds
``pin.py`` was run on; ``pin.py`` computes them on the in-memory path, so
they also check the checkpointed path the workloads read back.
Clusters are checked through pairwise F1 over the labeled data rows and by
their record count.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namematch_spark.operators.cluster import clusters_to_pairs
from namematch_spark.operators.model import pairwise_eval
from namematch_spark.sources.webpages import extract_text_udf

from linkbench.workloads import Outcome

MIN_F1 = 0.99

#: workload -> seed -> table -> [rows, hash], written by ``pin.py``
PINNED_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "pinned.json")


def pinned(workload: str, seed: int) -> dict[str, list[int]] | None:
    with open(PINNED_FILE) as f:
        return json.load(f)[workload].get(str(seed))


def check(workload: str, orders: int, seed: int, out: Outcome,
          first: bool) -> tuple[list[str], dict]:
    """Return (failures, details).  ``details`` holds the hashes and the
    quality numbers, for the log and for the self-test.  The extraction
    comparison runs on a run's ``first`` step only: it re-extracts every
    page, and the all-names hash of each step covers the extracted
    fields."""
    failures: list[str] = []
    hashes = {name: list(table_hash(df)) for name, df in out.tables.items()}
    details: dict = {"hashes": hashes}
    pins = pinned(workload, seed)
    details["pinned"] = pins is not None
    if pins is not None:
        for name, want in pins.items():
            if hashes.get(name) != want:
                failures.append(f"{name}: (rows, hash) {hashes.get(name)} "
                                f"!= pinned {want}")
    if out.records != orders:
        failures.append(f"all_names has {out.records} rows, "
                        f"input has {orders} records")
    if out.clusters is not None:
        n_assigned = out.clusters.select("record_id").distinct().count()
        if n_assigned != orders:
            failures.append(f"clusters assign {n_assigned} records "
                            f"of {orders}")
        ev = pairwise_eval(clusters_to_pairs(out.clusters),
                           out.tables["data_rows"])
        details["pairwise"] = ev
        if ev["f1"] < MIN_F1:
            failures.append(f"pairwise F1 {ev['f1']:.4f} < {MIN_F1}")
    if out.pages is not None and first:
        # the Arrow extraction must match the native one byte for byte
        got = extract_text_udf(out.pages, out_col="udf_text")
        bad = got.filter(F.col("udf_text") != F.col("text")).count()
        details["extract_mismatches"] = bad
        if bad:
            failures.append(f"{bad} pages extract differently")
    return failures, details


def table_hash(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free hash) of a DataFrame.  A sum of hashes reduced
    mod a prime cannot overflow a bigint below ~9e9 rows, so it is safe
    with ANSI arithmetic on; columns are hashed in name order."""
    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.pmod(F.xxhash64(*cols),
                              F.lit(1_000_000_007))).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)
