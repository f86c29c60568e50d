"""Stage 5/6 — match-model training, scoring, evaluation
(reference: ``fit_model.py``, ``predict.py``,
``model_evaluation_functions.py``).

The reference trains a driver-local sklearn RandomForest on a collected
sample (``fit_model.py:235-306``).  sklearn does not exist in this
environment — and at 10^12-row scale a driver-side fit is the wrong
design anyway — so this engine uses **Spark MLlib**'s
``RandomForestClassifier``: training is distributed over the labeled
data-rows DataFrame (no driver collect), and the fitted model broadcasts
into the scoring stage automatically via ``model.transform`` (the
BASELINE.json "broadcast of the classifier model" requirement is what
MLlib does under the hood).

Hyperparameters mirror the reference where MLlib has an equivalent,
including the reference's ``min_samples_leaf ∈ {25, 150}`` 3-fold CV
grid (``fit_model.py:278-299``) via MLlib ``CrossValidator`` over
``minInstancesPerNode`` (``grid_min_instances=GRID_MIN_INSTANCES``;
single-point [25] by default to keep the bench path at one fit).

Missing feature values (NULL, from either-side-missing pairs) are imputed
to ``-1.0``; the explicit ``var_<v>_missing`` indicators preserve the
signal, mirroring the reference's mean-impute + MissingIndicator design
(``fit_model.py:235-306``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import (RandomForestClassificationModel,
                                       RandomForestClassifier)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namematch_spark.operators.pairs import FEATURE_COLS

SEED = 42
MAX_MATCH_TRAIN_N = 3_000_000  # reference default_parameters.yaml:64
PCT_TRAIN = 0.9                # reference default_parameters.yaml:59


@dataclass
class MatchModel:
    model: RandomForestClassificationModel
    threshold: float
    feature_cols: list[str]
    eval_metrics: dict


@dataclass
class ExprScorer:
    """Deterministic closed-form scorer: ``phat = round(clamp(bias +
    Σ wᵢ·coalesce(fᵢ, fillᵢ), 0, 1), 6)``.

    Two roles: (a) a transparent rule-based fallback model — at
    bootstrap time there may be no labeled pairs to fit an RF on, and a
    linear distance score is the standard cold-start; (b) the
    oracle-checkable stand-in that lets the ENTIRE downstream scoring
    machinery (``score_with_model_set`` routing, per-model thresholds,
    gt override, ``potential_links_model_set``) be value-checked
    against SQL — the RF itself is the only non-SQL-expressible piece,
    so swapping it for a closed form pins everything around it.

    ``terms``: ordered (column, weight, fill-when-null) triples; the
    fixed order fixes the FP summation order so Spark and an SQL mirror
    produce bit-identical doubles.
    """
    terms: list[tuple[str, float, float]]
    bias: float = 1.0

    def phat_expr(self):
        e = F.lit(float(self.bias))
        for col, w, fill in self.terms:
            e = e + F.lit(float(w)) * F.coalesce(
                F.col(col), F.lit(float(fill)))
        return F.round(
            F.greatest(F.lit(0.0), F.least(F.lit(1.0), e)), 6)

    def sql(self) -> str:
        """The DuckDB-equivalent expression over the same columns."""
        parts = [repr(float(self.bias))]
        for col, w, fill in self.terms:
            parts.append(f"({w!r}) * coalesce({col}, {float(fill)!r})")
        return ("round(greatest(0.0, least(1.0, "
                + " + ".join(parts) + ")), 6)")


def _assemble(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    filled = df.fillna(-1.0, subset=feature_cols)
    asm = VectorAssembler(inputCols=feature_cols, outputCol="features",
                          handleInvalid="keep")
    return asm.transform(filled)


#: The reference's hyperparameter grid (``fit_model.py:278-299``:
#: ``GridSearchCV(cv=3, param_grid={'min_samples_leaf': [25, 150]},
#: scoring='f1')``); MLlib's ``minInstancesPerNode`` is the same knob.
GRID_MIN_INSTANCES = [25, 150]
GRID_CV_FOLDS = 3


def train_match_model(data_rows: DataFrame,
                      feature_cols: list[str] | None = None,
                      num_trees: int = 100,
                      beta: float = 0.5,
                      default_threshold: float = 0.5,
                      weight_col: str | None = None,
                      grid_min_instances: list[int] | None = None,
                      n_labeled: int | None = None
                      ) -> MatchModel:
    """M1 + W5 + W6 + M5 — fit the RF on labeled pairs, pick the
    F_beta-optimal threshold on a held-out split.

    The labeled set is capped at ``MAX_MATCH_TRAIN_N`` by seeded
    sampling (``fit_model.py:399-404``); the threshold sweep runs on a
    2-decimal phat histogram — a tiny driver-side table regardless of
    data size (W6, ``model_evaluation_functions.py:150-189``).
    ``weight_col``: a per-pair training sample weight — the selection
    model's ``selection_weight`` goes here (``(P(s)+1)/(p_selected+1)``,
    reference ``predict.py:229-233`` + sklearn ``sample_weight`` in
    ``fit_model.py``).
    ``grid_min_instances``: >1 values run the reference's 3-fold CV
    grid over ``minInstancesPerNode`` (:data:`GRID_MIN_INSTANCES` =
    the reference grid) via MLlib ``CrossValidator``; the winning value
    and per-point CV F1 land in ``eval_metrics["grid"]``.  One value
    (default [25], the reference grid's usual winner) skips the CV —
    the bench/contract configuration, where the 6 extra fits would
    only re-pick 25.
    ``n_labeled``: the labeled-row count of ``data_rows`` when the
    caller already has it (``train_model_set`` counts once for both
    fits); counted here otherwise.
    """
    if feature_cols is None:
        feature_cols = FEATURE_COLS
    labeled = data_rows.filter(F.col("label") != "")
    if n_labeled is None:
        n_labeled = labeled.count()
    if n_labeled > MAX_MATCH_TRAIN_N:
        labeled = labeled.sample(MAX_MATCH_TRAIN_N / n_labeled, seed=SEED)
    # binary nominal label metadata: MLlib reads the class count from it
    # instead of probing the data for the largest label (one job per fit)
    labeled = labeled.select("*", (F.col("label") == "1").cast("double")
                             .alias("y", metadata={"ml_attr": {
                                 "type": "nominal", "num_vals": 2}}))
    # deterministic hash split (stable across re-evaluations, unlike rand)
    bucket = F.pmod(F.xxhash64(F.col("dr_id"), F.lit(SEED)), F.lit(10))
    train = labeled.filter(bucket < int(PCT_TRAIN * 10))
    eval_ = labeled.filter(bucket >= int(PCT_TRAIN * 10))

    if not grid_min_instances:
        grid_min_instances = [25]
    assembled = _assemble(train, feature_cols)
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="y",
        numTrees=num_trees, maxDepth=12,
        minInstancesPerNode=grid_min_instances[0],
        seed=SEED, subsamplingRate=0.8,
        **({"weightCol": weight_col} if weight_col else {}))
    grid_info: dict | None = None
    if len(grid_min_instances) > 1:
        from pyspark.ml.evaluation import MulticlassClassificationEvaluator
        from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
        pgrid = (ParamGridBuilder()
                 .addGrid(rf.minInstancesPerNode, grid_min_instances)
                 .build())
        # binary F1 of the positive class = sklearn scoring='f1'
        ev = MulticlassClassificationEvaluator(
            labelCol="y", predictionCol="prediction",
            metricName="fMeasureByLabel", metricLabel=1.0, beta=1.0)
        cv = CrossValidator(estimator=rf, estimatorParamMaps=pgrid,
                            evaluator=ev, numFolds=GRID_CV_FOLDS,
                            parallelism=4, seed=SEED)
        cvm = cv.fit(assembled)
        model = cvm.bestModel
        grid_info = {
            "param": "minInstancesPerNode",
            "grid": list(grid_min_instances),
            "cv_f1": [round(m, 6) for m in cvm.avgMetrics],
            "chosen": model.getMinInstancesPerNode(),
            "folds": GRID_CV_FOLDS,
        }
    else:
        model = rf.fit(assembled)

    # ---- threshold sweep on the held-out split (driver-side histogram,
    # additionally keyed by the exactmatch flag so the M5 universe
    # splits come from the SAME single aggregation)
    scored_eval = score_pairs(model, eval_, feature_cols)
    em = (F.col("exactmatch") if "exactmatch" in eval_.columns
          else F.lit(0)).alias("em")
    hist = (
        scored_eval
        .groupBy(F.round("phat", 2).alias("pb"), "y", em)
        .agg(F.count("*").alias("n"))
        .collect()
    )
    pos = {}; neg = {}
    for row in hist:
        d = pos if row["y"] == 1.0 else neg
        d[(row["pb"], row["em"])] = d.get((row["pb"], row["em"]), 0) \
            + row["n"]

    def _metrics_at(t: float, univ) -> dict:
        """Confusion metrics at threshold ``t`` restricted to a
        universe (reference ``model_evaluation_functions.py:266-329``:
        'all pairs' / 'exactmatch pairs' / 'non exactmatch pairs')."""
        def tot(d, pred=None):
            return sum(n for (p, e), n in d.items()
                       if (univ is None or e == univ)
                       and (pred is None or (p >= t) == pred))
        tp, fp = tot(pos, True), tot(neg, True)
        fn, tn = tot(pos, False), tot(neg, False)
        n = tp + fp + fn + tn
        if n == 0:
            return {"n_eval": 0}
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        fb = ((1 + beta ** 2) * prec * rec
              / (beta ** 2 * prec + rec)) if prec + rec else 0.0
        return {"precision": prec, "recall": rec, f"f{beta}": fb,
                "baserate": (tp + fn) / n,
                "fp_rate": fp / (fp + tn) if fp + tn else 0.0,
                "fn_rate": fn / (fn + tp) if fn + tp else 0.0,
                "n_eval": n}

    # threshold optimized over ALL pairs (reference optimizes once,
    # then reports every universe at that threshold)
    best_t, best_fb = default_threshold, -1.0
    t = 0.99
    while t >= 0.02:
        fb = _metrics_at(t, None).get(f"f{beta}", 0.0)
        if fb > best_fb:
            best_fb, best_t = fb, t
        t = round(t - 0.01, 2)

    def _univ_metrics(univ) -> dict:
        m = _metrics_at(best_t, univ)
        auc = auc_from_hist(pos, neg, univ)
        if auc is not None:
            m["auc"] = auc
        return m

    metrics = _univ_metrics(None)
    metrics["threshold"] = best_t
    if grid_info is not None:
        metrics["grid"] = grid_info
    metrics["universes"] = {
        "all pairs": _univ_metrics(None),
        "exactmatch pairs": _univ_metrics(1),
        "non exactmatch pairs": _univ_metrics(0),
    }
    return MatchModel(model=model, threshold=best_t,
                      feature_cols=feature_cols, eval_metrics=metrics)


@dataclass
class ModelSet:
    """The reference's model registry (``fit_model.py:566-634``): a
    ``basic`` match model plus, when a designated field can be missing,
    a ``no_<field>`` *missingness* model trained WITHOUT that field's
    features and applied to exactly the pairs where it is missing
    (``utils/utils.py:414-453``), with its default threshold boosted
    by +0.2 (``default_parameters.yaml:70``)."""
    models: dict[str, MatchModel]
    missing_field: str | None

    @property
    def basic(self) -> MatchModel:
        return self.models["basic"]


MISSINGNESS_THRESHOLD_BOOST = 0.2  # reference default_parameters.yaml:70


def auc_from_hist(pos: dict, neg: dict, univ=None) -> float | None:
    """M5 — rank-based ROC AUC from the 2-decimal (phat-bin, universe)
    → count histograms (reference ``model_evaluation_functions.py:133``
    uses sklearn ``roc_auc_score``; the rank/Mann-Whitney formulation
    is identical up to the 0.01 phat binning, and ties within a bin
    count 0.5 exactly as sklearn's trapezoidal ROC does).

    ``pos``/``neg``: {(phat_bin, em_flag): n} as built by
    ``train_match_model``; ``univ`` restricts to an exactmatch
    universe (None = all pairs).  None when either class is empty.
    """
    def by_bin(d: dict) -> dict:
        out: dict = {}
        for (pb, e), n in d.items():
            if univ is None or e == univ:
                out[pb] = out.get(pb, 0) + n
        return out

    posb, negb = by_bin(pos), by_bin(neg)
    P, N = sum(posb.values()), sum(negb.values())
    if P == 0 or N == 0:
        return None
    won, cum_neg = 0.0, 0
    for pb in sorted(set(posb) | set(negb)):
        n_pos, n_neg = posb.get(pb, 0), negb.get(pb, 0)
        # positives in this bin beat every lower-bin negative, tie
        # with the same-bin negatives
        won += n_pos * (cum_neg + 0.5 * n_neg)
        cum_neg += n_neg
    return won / (P * N)


def model_to_use_expr(missing_field: str | None):
    """``model_to_use`` assignment (``utils/utils.py:437-453``): the
    missingness model handles pairs where the field is missing."""
    if missing_field is None:
        return F.lit("basic")
    return F.when(F.col(f"var_{missing_field}_missing") == 1,
                  F.lit(f"no_{missing_field}")).otherwise(F.lit("basic"))


def train_model_set(data_rows: DataFrame,
                    feature_cols: list[str] | None = None,
                    missing_field: str | None = "dob",
                    num_trees: int = 100,
                    beta: float = 0.5,
                    grid_min_instances: list[int] | None = None
                    ) -> ModelSet:
    """M1 + M2 — train the basic model and (when ``missing_field``
    features exist) the missingness model.  Same training universe for
    both (the reference's explicit assumption, ``fit_model.py:583``);
    the missingness model simply excludes ``var_<field>_*`` from its
    feature vector and starts from a boosted default threshold.

    ``data_rows`` is expected to be materialized: a stage output (a
    parquet checkpoint or ``localCheckpoint``) or a cached frame.  The
    two fits read it from concurrent threads, and a lazy frame would
    recompute its full feature lineage in each (X16)."""
    if feature_cols is None:
        feature_cols = FEATURE_COLS
    fits: dict[str, dict] = {"basic": dict(
        feature_cols=feature_cols, default_threshold=0.5)}
    if missing_field is not None \
            and f"var_{missing_field}_missing" in data_rows.columns:
        excl = [c for c in feature_cols
                if c.startswith(f"var_{missing_field}_")]
        cols2 = [c for c in feature_cols if c not in excl]
        fits[f"no_{missing_field}"] = dict(
            feature_cols=cols2,
            default_threshold=0.5 + MISSINGNESS_THRESHOLD_BOOST)
    if len(fits) > 1:
        # The fits are independent (same universe, different feature
        # vectors) — submit them from concurrent threads so their
        # depth-sequential tree-building jobs interleave instead of
        # serializing (RF training is latency-bound: ~maxDepth small
        # jobs per fit).  Results are bit-identical to sequential fits
        # (fixed seeds, unchanged partitioning).  Both threads scan
        # ``data_rows``, so it must be materialized (see the docstring).
        # The labeled count both fits need is counted once.
        n_labeled = data_rows.filter(F.col("label") != "").count()
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=len(fits)) as ex:
            futures = {
                name: ex.submit(
                    train_match_model, data_rows, num_trees=num_trees,
                    beta=beta, grid_min_instances=grid_min_instances,
                    n_labeled=n_labeled, **kw)
                for name, kw in fits.items()}
            models = {name: f.result() for name, f in futures.items()}
    else:
        models = {name: train_match_model(
            data_rows, num_trees=num_trees, beta=beta,
            grid_min_instances=grid_min_instances, **kw)
            for name, kw in fits.items()}
    if missing_field is not None \
            and f"no_{missing_field}" not in models:
        # No missingness model trained: route everything to "basic".
        # Keeping a missing_field here would make score_with_model_set
        # reference var_<field>_missing (AnalysisException if absent,
        # silently-dropped rows if present without a model).
        missing_field = None
    return ModelSet(models=models, missing_field=missing_field)


#: Deterministic linear scorer weights (cold-start fallback + the
#: SQL-mirrorable stand-in for the RF in the correctness contract).
#: Order fixed — it IS the FP summation order.
DET_BASIC_TERMS = [
    ("var_first_name_edit_dist", -0.16, 3.0),
    ("var_last_name_edit_dist", -0.16, 3.0),
    ("var_dob_edit_dist", -0.10, 3.0),
    ("var_age_num_diff", -0.02, 5.0),
    ("var_gender_exact_match", 0.05, 0.0),
]
DET_NODOB_TERMS = [t for t in DET_BASIC_TERMS
                   if not t[0].startswith("var_dob_")]


def deterministic_model_set(missing_field: str | None = "dob",
                            basic_threshold: float = 0.5) -> ModelSet:
    """A :class:`ModelSet` backed by :class:`ExprScorer` closed forms:
    ``basic`` (threshold ``basic_threshold``) and ``no_<field>`` (dob
    features excluded, threshold boosted +0.2 like the trained
    missingness model).  Exercises the exact routing/threshold/union
    machinery of the RF path with SQL-reproducible scores."""
    models = {"basic": MatchModel(
        model=ExprScorer(DET_BASIC_TERMS), threshold=basic_threshold,
        feature_cols=[c for c, _, _ in DET_BASIC_TERMS],
        eval_metrics={})}
    if missing_field is not None:
        models[f"no_{missing_field}"] = MatchModel(
            model=ExprScorer(DET_NODOB_TERMS),
            threshold=basic_threshold + MISSINGNESS_THRESHOLD_BOOST,
            feature_cols=[c for c, _, _ in DET_NODOB_TERMS],
            eval_metrics={})
    return ModelSet(models=models, missing_field=missing_field)


def score_with_model_set(model_set: ModelSet,
                         data_rows: DataFrame) -> DataFrame:
    """M4 over the model registry: each pair is scored by its assigned
    model (``predict.py:109-134``).  One distributed ``transform`` per
    model over its own universe, unioned back with ``model_to_use``."""
    tagged = data_rows.withColumn(
        "model_to_use", model_to_use_expr(model_set.missing_field))
    parts = []
    for name, mm in model_set.models.items():
        part = tagged.filter(F.col("model_to_use") == name)
        parts.append(score_pairs(mm.model, part, mm.feature_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def potential_links_model_set(scored: DataFrame,
                              model_set: ModelSet) -> DataFrame:
    """M4/M6 with per-model thresholds (``predict.py:116-124``)."""
    thr = F.lit(model_set.basic.threshold)
    for name, mm in model_set.models.items():
        if name != "basic":
            thr = F.when(F.col("model_to_use") == name,
                         F.lit(mm.threshold)).otherwise(thr)
    return (
        scored
        .withColumn("gt", (F.col("label") == "1").cast("int"))
        .filter((F.col("phat") >= thr) | (F.col("gt") == 1))
        .withColumn("potential_edge", F.lit(1))
    )


def score_pairs(model: RandomForestClassificationModel,
                data_rows: DataFrame,
                feature_cols: list[str] | None = None) -> DataFrame:
    """M4 — phat for every pair; distributed ``model.transform``
    (``predict.py:88-141``).  Accepts an :class:`ExprScorer` in place
    of an MLlib model (same output contract)."""
    if isinstance(model, ExprScorer):
        return data_rows.withColumn("phat", model.phat_expr())
    if feature_cols is None:
        feature_cols = FEATURE_COLS
    assembled = _assemble(data_rows, feature_cols)
    return (
        model.transform(assembled)
        .withColumn("phat",
                    vector_to_array(F.col("probability")).getItem(1))
        .drop("features", "rawPrediction", "probability", "prediction")
    )


def potential_links(scored: DataFrame, threshold: float) -> DataFrame:
    """M4/M6 — pairs above threshold become potential edges
    (``predict.py:109-134``)."""
    return (
        scored
        .withColumn("gt", (F.col("label") == "1").cast("int"))
        .filter((F.col("phat") >= threshold) | (F.col("gt") == 1))
        .withColumn("potential_edge", F.lit(1))
    )


def flipped0_links(scored: DataFrame, threshold: float) -> DataFrame:
    """M6 — labeled-0 pairs the model scores ABOVE threshold
    (``fit_model.py:724-760``): evidence of uid noise or true matches
    mislabeled by the ground truth.  The reference writes these to
    ``flipped0_potential_links.csv`` and only admits them as edges when
    ``allow_clusters_w_multiple_unique_ids`` — here they are surfaced
    for reporting; the clustering's auto uid constraint excludes them
    from merges regardless."""
    return scored.filter((F.col("label") == "0")
                         & (F.col("phat") >= threshold))


def train_selection_model(data_rows: DataFrame,
                          feature_cols: list[str] | None = None,
                          num_trees: int = 50,
                          max_train_n: int = 1_000_000) -> "MatchModel":
    """M3 — selection model (reference ``fit_model.py:167-194``,
    OFF by default like ``default_parameters.yaml:66``): an RF
    predicting whether a pair is LABELED, whose probability feeds the
    selection-bias weight ``(p_selected + 1) / (phat + 1)``
    (``predict.py:229-233``) — labeled pairs are not a random sample of
    all pairs, and the weight de-biases the match score."""
    if feature_cols is None:
        feature_cols = FEATURE_COLS
    df = data_rows.withColumn(
        "y", (F.col("label") != "").cast("double"))
    n = df.count()
    if n > max_train_n:
        df = df.sample(max_train_n / n, seed=SEED)
    assembled = _assemble(df, feature_cols)
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="y", numTrees=num_trees,
        minInstancesPerNode=25, maxDepth=10, seed=SEED)
    model = rf.fit(assembled)
    return MatchModel(model=model, threshold=0.5,
                      feature_cols=feature_cols, eval_metrics={})


def apply_selection_weight(scored: DataFrame,
                           selection_model: "MatchModel",
                           prob_match_train: float) -> DataFrame:
    """Weight application (``predict.py:229-233``): adds
    ``p_selected`` (the selection model's probability that a pair is
    labeled) and ``selection_weight = (P(s) + 1) / (p_selected + 1)``
    — P(s)/P(s=1|x) with +1 smoothing, where ``prob_match_train`` is
    the scalar share of rows eligible for match training
    (``fit_model.py:424-426``).  The weight DOWN-weights
    over-represented (easily-labeled) pairs and is consumed as a
    *training sample weight* when refitting the match model, exactly
    like the reference — it does not rescale phat."""
    sel = score_pairs(selection_model.model, scored.drop("phat"),
                      selection_model.feature_cols) \
        .withColumnRenamed("phat", "p_selected")
    sel = sel.join(scored.select("dr_id", "phat"), "dr_id")
    return sel.withColumn(
        "selection_weight",
        (F.lit(float(prob_match_train)) + 1)
        / (F.col("p_selected") + 1))


def pairwise_eval(predicted_pairs: DataFrame, data_rows: DataFrame,
                  beta: float = 1.0) -> dict:
    """Pairwise precision/recall/F1 over *labeled* pairs (the graft's
    quality gate: BASELINE.json F1 >= 0.99 on labeled pairs at the same
    blocking key).

    ``predicted_pairs``: (record_id_1, record_id_2) predicted co-referent
    (e.g. same predicted cluster).  ``data_rows``: the feature table
    restricted to labeled pairs (label '1'/'0') — i.e. the evaluation is
    *within blocking*, exactly how the reference evaluates
    (``model_evaluation_functions.py:212-329``).
    """
    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("record_id_1", "record_id_2").alias("record_id_1"),
            F.greatest("record_id_1", "record_id_2").alias("record_id_2"),
            *[c for c in df.columns
              if c not in ("record_id_1", "record_id_2")])

    labeled = canon(
        data_rows.filter(F.col("label") != "")
        .select("record_id_1", "record_id_2", "label"))
    joined = labeled.join(
        canon(predicted_pairs.select("record_id_1", "record_id_2"))
        .distinct()
        .withColumn("pred", F.lit(1)),
        ["record_id_1", "record_id_2"], "left")
    agg = joined.agg(
        F.sum(((F.col("label") == "1") & F.col("pred").isNotNull())
              .cast("int")).alias("tp"),
        F.sum(((F.col("label") == "0") & F.col("pred").isNotNull())
              .cast("int")).alias("fp"),
        F.sum(((F.col("label") == "1") & F.col("pred").isNull())
              .cast("int")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f = ((1 + beta ** 2) * prec * rec / (beta ** 2 * prec + rec)
         if prec + rec else 0.0)
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": prec, "recall": rec, "f1": f}
