"""The benchmark's workloads, driven through the engine's public functions.

A workload function sets the workload up and returns the step that the
run times again and again; the set-up leaves the JVM warm for the step.
Traced and untraced runs call the same functions: the layer spans come
from :func:`linkbench.spans.instrument`, and set-up work that only warms
the JVM runs in a :data:`~linkbench.spans.WARMUP` window.

* ``er_resume``: set-up runs ``run_pipeline`` on person records with a
  checkpoint directory and stops after data rows, as a run killed there,
  then makes one untimed resume: the first resume in a JVM is 20-50%
  slower and varies more.  Each step removes the model, potential-links
  and cluster checkpoints and calls ``run_pipeline`` again on the same
  directory: it resumes from the parquet stages, fits and scores the
  match models, and clusters.
* ``wp_ingest``: each step synthesizes web pages, extracts their text with
  the Arrow UDF, parses person records back and materializes them, then
  runs ``run_pipeline`` in memory up to the all-names table.  Set-up runs
  the step several times: the first run is cold, and the next ones still
  speed up.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from namematch_spark.checkpoint import CheckpointManager
from namematch_spark.pipeline import PipelineConfig, run_pipeline
from namematch_spark.sources.records import person_records
from namematch_spark.sources.webpages import (extract_text_udf,
                                              pages_to_records,
                                              synth_web_pages)

from linkbench.spans import Spans

#: orders (= person records) in each workload's input
SIZES = {"er_resume": 1_500, "wp_ingest": 60_000}

#: checkpoints each ``er_resume`` step removes and writes again
RESUMED = ["match_model_basic", "match_model_no_dob", "potential_links",
           "clusters"]

#: untimed passes of the ``wp_ingest`` step in its set-up; steps keep
#: getting faster for five to seven passes in a JVM, and timed steps on
#: that slope made the run medians spread
WP_WARMUPS = 5


@dataclass
class Outcome:
    records: int                  # rows of the all-names table
    run_s: float                  # wall time of the timed calls
    #: deterministic stage outputs, hashed by the output check
    tables: dict[str, DataFrame] = field(default_factory=dict)
    clusters: DataFrame | None = None
    pages: DataFrame | None = None
    ckpt_bytes: int = 0


def web_records(spark: SparkSession, input_dir: str) -> tuple[DataFrame,
                                                                DataFrame]:
    """Synthesized pages and the person records parsed back from them.
    The page text comes from the Arrow extraction UDF, not from the
    native expression ``synth_web_pages`` fills ``text`` with."""
    pages = synth_web_pages(spark, input_dir)
    extracted = extract_text_udf(pages.drop("text"), out_col="text")
    return pages, pages_to_records(extracted)


def _outcome(tables: dict[str, DataFrame], run_s: float, **kw) -> Outcome:
    return Outcome(records=tables["all_names"].count(), run_s=run_s,
                   tables=tables, **kw)


# ---------------------------------------------------------------- workloads

def er_resume(spark: SparkSession, input_dir: str, work: str, sp: Spans
              ) -> Callable[[], Outcome]:
    ckpt = os.path.join(work, "ckpt")
    cfg = PipelineConfig(checkpoint_dir=ckpt)
    sp.enter("preprocess")            # the parquet scan feeds preprocess
    records = person_records(spark, input_dir)
    run_pipeline(records, cfg, stop_after="data_rows")

    def resume() -> Outcome:
        CheckpointManager(ckpt).invalidate_downstream(RESUMED, RESUMED[0])
        t0 = time.time()
        res = run_pipeline(records, cfg)
        run_s = time.time() - t0
        tables = {"all_names": res.all_names, "must_links": res.must_links,
                  "candidates": res.candidate_nn_pairs,
                  "data_rows": res.data_rows}
        return _outcome(tables, run_s, clusters=res.clusters,
                        ckpt_bytes=dir_bytes(ckpt))
    with sp.paused():
        resume()
    return resume


def wp_ingest(spark: SparkSession, input_dir: str, work: str, sp: Spans
              ) -> Callable[[], Outcome]:
    def ingest() -> Outcome:
        t0 = time.time()
        with sp.span("sources.webpages"):
            pages, records = web_records(spark, input_dir)
            records = records.localCheckpoint(eager=True)
            sp.output("sources.webpages", records)
        an = run_pipeline(records, stop_after="all_names").all_names
        return _outcome({"all_names": an}, time.time() - t0, pages=pages)
    with sp.paused():
        for _ in range(WP_WARMUPS):
            ingest()
    return ingest


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)
