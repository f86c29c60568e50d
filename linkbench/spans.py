"""Layer spans around the engine's own calls.

:func:`instrument` wraps the functions ``run_pipeline`` looks up at call
time (the operator functions, the name-probability and model modules,
``CheckpointManager``'s methods) so that each call moves the run into
the span of its layer.  Traced and untraced runs therefore execute the
same engine code; only the event log is off in an untraced run.

Spans form a timeline: entering a layer closes the open span, and
``blocking.release_caches``, which ``pipeline.stage`` calls once a stage
is materialized, closes the stage's last span.  Times are epoch
milliseconds, the clock Spark's event log uses, so the event-log reader
can give each Spark job to the span whose window holds its submission
time.  A layer may open several windows; its metrics sum over them.

In a checkpointed stage the stage's plan runs inside
``CheckpointManager.write``'s parquet write.  That write stays in the
stage's layer; the rest of ``write`` (the read-back of per-file row
counts and the manifest commit) is ``checkpoint.write``.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

#: the window of untraced warm-up work; its jobs are left out of every
#: layer and of the unattributed shares
WARMUP = "warmup"

#: checkpointed stage -> the layer that computes it
STAGE_LAYER = {"all_names": "preprocess", "must_links": "mustlinks",
               "candidates": "blocking", "data_rows": "pairs",
               "potential_links": "model.score", "clusters": "cluster"}


class Spans:
    def __init__(self) -> None:
        #: (layer, start_ms, end_ms), in time order, never overlapping
        self.windows: list[tuple[str, float, float]] = []
        #: rows each layer produced: counted after the pass from the last
        #: DataFrame its functions returned, or added from the manifest
        self.outputs: dict[str, object] = {}
        self.rows: dict[str, int] = {}
        self._open: tuple[str, float] | None = None
        self._paused = False
        self._lock = threading.Lock()

    def enter(self, layer: str) -> None:
        """Close the open span and open one for ``layer``."""
        with self._lock:
            if self._paused or (self._open and self._open[0] == layer):
                return
            now = time.time() * 1000.0
            self._close(now)
            self._open = (layer, now)

    def leave(self) -> None:
        with self._lock:
            if not self._paused:
                self._close(time.time() * 1000.0)

    def _close(self, now: float) -> None:
        if self._open is not None:
            self.windows.append((self._open[0], self._open[1], now))
            self._open = None

    @contextmanager
    def paused(self):
        """A :data:`WARMUP` window in which calls open no spans."""
        self.enter(WARMUP)
        self._paused = True
        try:
            yield
        finally:
            self._paused = False
            self.leave()

    @contextmanager
    def span(self, layer: str):
        self.enter(layer)
        try:
            yield
        finally:
            self.leave()

    def output(self, layer: str, df) -> None:
        if not self._paused:
            self.outputs[layer] = df

    def add_rows(self, layer: str, n: int) -> None:
        if not self._paused:
            self.rows[layer] = self.rows.get(layer, 0) + int(n)

    def wall_s(self, layer: str) -> float:
        return sum(t1 - t0 for name, t0, t1 in self.windows
                   if name == layer) / 1000.0


def _wrap(owner, attr: str, layer: str, sp: Spans) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        sp.enter(layer)
        out = fn(*args, **kwargs)
        if hasattr(out, "sparkSession"):         # a DataFrame
            sp.output(layer, out)
        return out
    setattr(owner, attr, traced)


def instrument(sp: Spans) -> None:
    """Route the engine's layer calls through ``sp``, for this process."""
    from pyspark.sql.readwriter import DataFrameWriter

    from namematch_spark import pipeline
    from namematch_spark.checkpoint import CheckpointManager
    from namematch_spark.operators import blocking, model, nameprob

    for attr, layer in [
            ("spread_input", "preprocess"), ("preprocess", "preprocess"),
            ("must_links", "mustlinks"),
            ("expand_bs_to_record_pairs", "pairs"),
            ("pair_features", "pairs"),
            ("constrained_clusters", "cluster")]:
        _wrap(pipeline, attr, layer, sp)
    for attr in ("candidate_blockstring_pairs", "add_uncovered_pairs"):
        _wrap(blocking, attr, "blocking", sp)
    for attr in ("percentile_dims", "ngram_counts", "name_log_probs"):
        _wrap(nameprob, attr, "nameprob", sp)
    _wrap(model, "train_model_set", "model.fit", sp)
    for attr in ("score_with_model_set", "potential_links_model_set"):
        _wrap(model, attr, "model.score", sp)

    release = blocking.release_caches

    @functools.wraps(release)
    def release_caches():
        release()
        sp.leave()
    blocking.release_caches = release_caches

    load_or_compute = CheckpointManager.load_or_compute

    @functools.wraps(load_or_compute)
    def traced_load(self, spark, stage, compute, fingerprint=""):
        computed = []

        def traced_compute():
            computed.append(stage)
            sp.enter(STAGE_LAYER.get(stage, stage))
            return compute()
        sp.enter("checkpoint.read")
        out = load_or_compute(self, spark, stage, traced_compute,
                              fingerprint)
        if not computed:
            sp.add_rows("checkpoint.read", self.manifest[stage]["rows"])
        return out
    CheckpointManager.load_or_compute = traced_load

    write = CheckpointManager.write
    parquet = DataFrameWriter.parquet
    writing = threading.local()

    @functools.wraps(write)
    def traced_write(self, stage, df, fingerprint=""):
        writing.active = True
        try:
            out = write(self, stage, df, fingerprint)
        finally:
            writing.active = False
        sp.add_rows("checkpoint.write", self.manifest[stage]["rows"])
        return out
    CheckpointManager.write = traced_write

    @functools.wraps(parquet)
    def traced_parquet(self, *args, **kwargs):
        out = parquet(self, *args, **kwargs)
        if getattr(writing, "active", False):
            sp.enter("checkpoint.write")
        return out
    DataFrameWriter.parquet = traced_parquet

    save_model = CheckpointManager.save_model

    @functools.wraps(save_model)
    def traced_save(self, *args, **kwargs):
        sp.enter("checkpoint.write")
        return save_model(self, *args, **kwargs)
    CheckpointManager.save_model = traced_save

    load_model = CheckpointManager.load_model

    @functools.wraps(load_model)
    def traced_load_model(self, *args, **kwargs):
        sp.enter("checkpoint.read")
        return load_model(self, *args, **kwargs)
    CheckpointManager.load_model = traced_load_model
