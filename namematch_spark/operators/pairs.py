"""Stage 4 — record-pair expansion + pairwise features
(reference: ``generate_data_rows.py`` + ``comparison_functions.py``).

Expansion is the reference's J6 "double join" (``generate_data_rows.py:
363-401``): candidate *name* pairs are joined twice against all-names to
produce a side-by-side record-pair table.  The reference builds a manual
hash index (``an_ix_map``) for this; in Spark it is two shuffle joins on
``nn_string`` — AQE broadcasts the smaller side when possible and splits
skewed names.

Features: everything Spark has natively stays native (levenshtein,
soundex, exact/prefix equality, day diff, numeric diff — whole-stage
codegen); Jaro-Winkler and NYSIIS, which Spark lacks, run in ONE
Arrow-batched pandas UDF (per BASELINE.json: pairwise scoring inside
pandas/Arrow UDFs, no per-row Python).

Missingness convention: feature value is NULL when either side is ``''``
(reference emits NaN, ``comparison_functions.py:176-183``), with an
explicit ``var_<v>_missing`` indicator.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from namematch_spark.functions.strings import jw_dist_series, nysiis_eq_series
from namematch_spark.operators.nameprob import name_prob_str


def dim_join_side(parent: DataFrame, d: DataFrame) -> DataFrame:
    """Join-strategy policy for data-proportional dim tables (the
    distinct-name-pair metric dims, the per-name probability dims).

    With AQE on (production default): NO hint — AQE broadcasts at
    runtime from the dim's real size and falls back to a shuffle join
    once it grows (a forced broadcast of an O(distinct names) table
    OOMs the driver at 100x — VERDICT r2 "what's wrong" #2).

    With AQE off: the static planner has no usable size estimate for a
    derived dim and degrades to sort-merge, shuffling the full pair
    table per dim join (measured 32% slower on the scaling bench) — so
    hint broadcast explicitly.  On a real cluster AQE is always on, so
    the hint path only serves pinned-plan configurations.
    """
    aqe = parent.sparkSession.conf.get(
        "spark.sql.adaptive.enabled", "true").lower() == "true"
    return d if aqe else F.broadcast(d)


def expand_bs_to_record_pairs(cand_bs: DataFrame, all_names: DataFrame,
                              extra_attrs: list[str] | None = None
                              ) -> DataFrame:
    """J6 + J7 at the reference's granularity: *blockstring* pairs ×
    records → side-by-side record pairs (``generate_data_rows.py:
    363-401``).  The blockstring key is ``nn_string::dob`` as built by
    :func:`blocking.candidate_blockstring_pairs`.

    ``extra_attrs``: additional all-names columns to carry side-by-side
    — a config schema's variables, or secondary UniqueID variables for
    the multi-uid consensus label.

    Records-per-blockstring is near 1 in realistic data (name+dob is
    almost a person key), so this expansion is ~linear — the quadratic
    name-level blowup never materializes.
    """
    attrs = ["record_id", "first_name", "last_name", "dob", "gender",
             "age", "uid"]
    for a in extra_attrs or []:
        if a not in attrs:
            attrs.append(a)
    an = (
        all_names
        .filter(F.col("drop_from_nm") == 0)
        .withColumn("__bs", F.concat(
            F.concat_ws(" ", "first_name", "last_name"),
            F.lit("::"), F.col("dob")))
        .select("__bs", *attrs)
    )
    side1 = an.select(
        F.col("__bs").alias("blockstring_1"),
        *[F.col(a).alias(f"{a}_1") for a in attrs])
    side2 = an.select(
        F.col("__bs").alias("blockstring_2"),
        *[F.col(a).alias(f"{a}_2") for a in attrs])
    pairs = (
        cand_bs
        .join(side1, "blockstring_1")
        .join(side2, "blockstring_2")
        .filter(
            (F.col("blockstring_1") != F.col("blockstring_2"))
            | (F.col("record_id_1") < F.col("record_id_2")))
    )
    return pairs.withColumn(
        "dr_id", F.concat_ws("__", "record_id_1", "record_id_2"))


def _missing(c1: Column, c2: Column) -> Column:
    return F.when((c1 == "") | (c2 == ""), F.lit(1.0)).otherwise(F.lit(0.0))


def _present(c1: Column, c2: Column, val: Column) -> Column:
    return F.when((c1 == "") | (c2 == ""), F.lit(None).cast("double")
                  ).otherwise(val.cast("double"))


def string_features(v: str) -> list[Column]:
    """F1-F4 native features for a String variable ``v``
    (``comparison_functions.py:176-198``)."""
    c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
    return [
        _missing(c1, c2).alias(f"var_{v}_missing"),
        _present(c1, c2, F.levenshtein(c1, c2)).alias(f"var_{v}_edit_dist"),
        _present(c1, c2, (c1 == c2).cast("int")).alias(f"var_{v}_exact_match"),
        _present(c1, c2, (F.substring(c1, 1, 1) == F.substring(c2, 1, 1))
                 .cast("int")).alias(f"var_{v}_exact_match_1st"),
        _present(c1, c2, (F.substring(c1, 1, 3) == F.substring(c2, 1, 3))
                 .cast("int")).alias(f"var_{v}_exact_match_1st2nd3rd"),
        _present(c1, c2, (F.soundex(c1) == F.soundex(c2)).cast("int"))
        .alias(f"var_{v}_soundex"),
    ]


def date_features(v: str) -> list[Column]:
    """F9 — edit distance on the date *string* + absolute day diff
    (``comparison_functions.py:276-312``)."""
    c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
    daydiff = F.abs(F.datediff(c1.try_cast("date"), c2.try_cast("date")))
    return [
        _missing(c1, c2).alias(f"var_{v}_missing"),
        _present(c1, c2, F.levenshtein(c1, c2)).alias(f"var_{v}_edit_dist"),
        _present(c1, c2, daydiff).alias(f"var_{v}_day_diff"),
    ]


def numeric_features(v: str) -> list[Column]:
    """F7 (``comparison_functions.py:214-239``)."""
    c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
    return [
        _missing(c1, c2).alias(f"var_{v}_missing"),
        _present(c1, c2, F.abs(c1.try_cast("double") - c2.try_cast("double"))
                 ).alias(f"var_{v}_num_diff"),
    ]


def categorical_features(v: str) -> list[Column]:
    """F8 (``comparison_functions.py:242-273``)."""
    c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
    return [
        _missing(c1, c2).alias(f"var_{v}_missing"),
        _present(c1, c2, (c1 == c2).cast("int"))
        .alias(f"var_{v}_exact_match"),
    ]


def geography_features(v: str) -> list[Column]:
    """F10 — euclidean distance over ``"x,y"`` strings
    (``comparison_functions.py:315-346``)."""
    c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
    x1 = F.split_part(c1, F.lit(","), F.lit(1)).try_cast("double")
    y1 = F.split_part(c1, F.lit(","), F.lit(2)).try_cast("double")
    x2 = F.split_part(c2, F.lit(","), F.lit(1)).try_cast("double")
    y2 = F.split_part(c2, F.lit(","), F.lit(2)).try_cast("double")
    dist = F.sqrt(F.pow(x1 - x2, 2) + F.pow(y1 - y2, 2))
    return [
        _missing(c1, c2).alias(f"var_{v}_missing"),
        _present(c1, c2, dist).alias(f"var_{v}_geog_dist"),
    ]


def features_for_variables(variables: list[tuple[str, str]]
                           ) -> tuple[list[Column], list[str]]:
    """Native feature expressions for a (name, compare_type) list —
    the config-driven dispatch (reference
    ``generate_data_rows.py:267-287``).  Address expands to two String
    feature sets + one Categorical over its parsed sub-columns.

    Returns (feature columns, names of String-typed variables — those
    additionally get the jw/nysiis Python-metric join).
    """
    feats: list[Column] = []
    string_vars: list[str] = []
    for name, ctype in variables:
        if ctype in ("String", "LastName"):
            feats += string_features(name)
            string_vars.append(name)
        elif ctype == "Date":
            feats += date_features(name)
        elif ctype in ("Numeric", "Number"):
            feats += numeric_features(name)
        elif ctype in ("Categorical", "Category"):
            feats += categorical_features(name)
        elif ctype == "Geography":
            feats += geography_features(name)
        elif ctype == "Address":
            feats += string_features("address_street_number")
            feats += string_features("address_street_name")
            feats += categorical_features("address_street_type")
            string_vars += ["address_street_number",
                            "address_street_name"]
        else:
            raise ValueError(f"no feature dispatch for compare_type "
                             f"{ctype!r}")
    return feats, string_vars


def label_expr_for(uid_var: str, leven_thresh: int | None = None) -> Column:
    """F14 — 3-state label from the ``{uid_var}_1/_2`` pair
    (``comparison_functions.py:349-396``): ``'1'`` both present & equal,
    ``'0'`` both present & different, ``''`` otherwise.  With
    ``leven_thresh``, near-identical uids (possible typos) are demoted
    from ``'0'`` to ``''``.
    """
    u1, u2 = F.col(f"{uid_var}_1"), F.col(f"{uid_var}_2")
    base = (
        F.when((u1 == "") | (u2 == ""), F.lit(""))
        .when(u1 == u2, F.lit("1"))
        .otherwise(F.lit("0"))
    )
    if leven_thresh is None:
        return base
    return F.when(
        (base == "0") & (F.levenshtein(u1, u2) <= leven_thresh), F.lit("")
    ).otherwise(base)


def label_expr_multi(uid_vars: list[str],
                     leven_thresh: int | None = None) -> Column:
    """F14 consensus across SEVERAL UniqueID variables (reference
    ``comparison_functions.py:349-396``): per-variable 3-state labels
    are combined so only pairs that ALWAYS agree become ``'1'``
    (num_0s == 0 and num_1s > 0) and only pairs that ALWAYS disagree
    become ``'0'`` (num_0s > 0 and num_1s == 0); any conflict — or no
    usable variable — yields ``''``.

    A single variable degenerates to :func:`label_expr_for` exactly.
    """
    per_var = [label_expr_for(v, leven_thresh) for v in uid_vars]
    num_1s = sum((lbl == "1").cast("int") for lbl in per_var)
    num_0s = sum((lbl == "0").cast("int") for lbl in per_var)
    return (
        F.when((num_0s == 0) & (num_1s > 0), F.lit("1"))
        .when((num_0s > 0) & (num_1s == 0), F.lit("0"))
        .otherwise(F.lit(""))
    )


def exactmatch_expr(exact_vars: list[str],
                    negate_vars: list[str] | None = None) -> Column:
    """F13 — all exact-match variables equal & non-missing; negated
    when any ``negate_exact_match_variables`` entry differs with both
    sides present — e.g. differing middle initials break an otherwise
    exact match (``generate_data_rows.py:296-307``, params
    ``default_parameters.yaml:18-19``)."""
    cond = F.lit(True)
    for v in exact_vars:
        c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
        cond = cond & (c1 != "") & (c1 == c2)
    for v in negate_vars or []:
        c1, c2 = F.col(f"{v}_1"), F.col(f"{v}_2")
        cond = cond & ~((c1 != c2) & (c1 != "") & (c2 != ""))
    return cond.cast("int")


def _py_metrics_dim(record_pairs: DataFrame,
                    variables: list[str],
                    jw_variant: str = "standard") -> DataFrame:
    """Python-metric dimension table: (s1, s2) → (jw_dist, nysiis_eq)
    over the *distinct* value pairs of all ``variables``, in ONE pass.

    Key-level work dedup (the reference's own blocking optimization,
    ``block.py:565-572``, applied to features): record pairs repeat the
    same name combination massively — at sf0.01, 3.2M record pairs
    collapse to ~50k distinct name pairs, a 60x cut in Python work.
    All variables share one distinct-shuffle + one Arrow UDF pass; the
    resulting dim is small → broadcast join back per variable.
    """
    pdf = pandas_udf("jw double, ny double")(
        lambda a, b: pd.DataFrame({
            "jw": jw_dist_series(a, b, variant=jw_variant),
            "ny": nysiis_eq_series(a, b)}))
    pieces = [
        record_pairs.select(F.col(f"{v}_1").alias("__s1"),
                            F.col(f"{v}_2").alias("__s2"))
        for v in variables]
    allpairs = pieces[0]
    for p in pieces[1:]:
        allpairs = allpairs.unionByName(p)
    return (
        allpairs
        .distinct()
        .withColumn("__m", pdf(F.col("__s1"), F.col("__s2")))
        .select("__s1", "__s2",
                F.col("__m.jw").alias("__jw"),
                F.col("__m.ny").alias("__ny"))
    )


#: The six kept name-probability features
#: (``generate_data_rows.py:253-259``).
PCTL_FEATURE_COLS = [
    "diff_count_pctl_name", "max_count_pctl_name",
    "diff_count_pctl_fn", "max_count_pctl_fn",
    "diff_count_pctl_ln", "max_count_pctl_ln",
]


def _attach_name_prob_features(record_pairs: DataFrame,
                               pctl_dims: dict | None,
                               name_probs: DataFrame | None) -> DataFrame:
    """Name-probability stage of the data rows (reference
    ``generate_data_rows.py:226-259``, ``comparison_functions.py:
    77-146``): six percentile features over the ORIGINAL names, then the
    F12 swap repair — when the reversed name is closer in edit distance,
    flip fn/ln of the less probable side (``switched_name`` 0/1/2).

    Every lookup key is a function of a side's ``(first_name,
    last_name)``, so one ``(fn, ln) → (pctl_name, pctl_fn, pctl_ln,
    prob)`` dim — built by joining the tiny dims against the distinct
    name pairs — carries all of them: ONE dim join per pair side instead
    of one per side per lookup (8 passes over the largest table of the
    stage become 2).  ``tests/test_r06_equivalence.py`` checks it
    against the one-join-per-lookup chain.
    """
    from namematch_spark.operators.blocking import _scoped_cache

    names = (
        record_pairs.select(F.col("first_name_1").alias("__fn"),
                            F.col("last_name_1").alias("__ln"))
        .unionByName(
            record_pairs.select(F.col("first_name_2").alias("__fn"),
                                F.col("last_name_2").alias("__ln")))
        .distinct()
    )
    dim = names
    carry: list[str] = []
    if pctl_dims is not None:
        keys = {
            "name": name_prob_str(F.col("__fn"), F.col("__ln")),
            "fn": F.regexp_replace(F.col("__fn"), " ", ""),
            "ln": F.regexp_replace(F.col("__ln"), " ", ""),
        }
        for k, keyexpr in keys.items():
            d = pctl_dims[k].select(F.col("value").alias(f"__k{k}"),
                                    F.col(f"count_pctl_{k}"))
            dim = (dim.join(d, keyexpr == F.col(f"__k{k}"), "left")
                   .drop(f"__k{k}"))
            carry.append(f"count_pctl_{k}")
    if name_probs is not None:
        p = name_probs.select(F.col("name_prob_str").alias("__nps"),
                              F.col("prob"))
        dim = (dim.join(p, name_prob_str(F.col("__fn"), F.col("__ln"))
                        == F.col("__nps"), "left").drop("__nps"))
        carry.append("prob")
    # the dim is read once per pair side — cache it (≤ distinct names)
    dim = _scoped_cache(dim)

    d1 = dim.select(F.col("__fn").alias("__dfn1"),
                    F.col("__ln").alias("__dln1"),
                    *[F.col(c).alias(f"__{c}_1") for c in carry])
    d2 = dim.select(F.col("__fn").alias("__dfn2"),
                    F.col("__ln").alias("__dln2"),
                    *[F.col(c).alias(f"__{c}_2") for c in carry])
    fn1, fn2 = F.col("first_name_1"), F.col("first_name_2")
    ln1, ln2 = F.col("last_name_1"), F.col("last_name_2")
    df = (
        record_pairs
        .join(dim_join_side(record_pairs, d1),
              (fn1 == F.col("__dfn1")) & (ln1 == F.col("__dln1")), "left")
        .join(dim_join_side(record_pairs, d2),
              (fn2 == F.col("__dfn2")) & (ln2 == F.col("__dln2")), "left")
        .drop("__dfn1", "__dln1", "__dfn2", "__dln2")
    )
    if pctl_dims is not None:
        for k in ("name", "fn", "ln"):
            p1 = F.col(f"__count_pctl_{k}_1")
            p2 = F.col(f"__count_pctl_{k}_2")
            df = (df.withColumn(f"diff_count_pctl_{k}", F.abs(p1 - p2))
                  .withColumn(f"max_count_pctl_{k}", F.greatest(p1, p2)))
        df = df.drop(*[f"__count_pctl_{k}_{s}" for k in ("name", "fn", "ln")
                       for s in (1, 2)])
    if name_probs is not None:
        name_ed = F.levenshtein(F.concat(fn1, ln1), F.concat(fn2, ln2))
        rev_ed = F.levenshtein(F.concat(ln1, fn1), F.concat(fn2, ln2))
        least_likely = (F.col("__prob_2") < F.col("__prob_1")) \
            .cast("int") + 1
        df = df.withColumn(
            "switched_name",
            F.when(rev_ed < name_ed, least_likely).otherwise(F.lit(0)))
        sw = F.col("switched_name")
        df = (
            df
            .withColumn("__nfn1", F.when(sw == 1, ln1).otherwise(fn1))
            .withColumn("__nln1", F.when(sw == 1, fn1).otherwise(ln1))
            .withColumn("__nfn2", F.when(sw == 2, ln2).otherwise(fn2))
            .withColumn("__nln2", F.when(sw == 2, fn2).otherwise(ln2))
            .drop("first_name_1", "first_name_2", "last_name_1",
                  "last_name_2", "__prob_1", "__prob_2")
            .withColumnRenamed("__nfn1", "first_name_1")
            .withColumnRenamed("__nln1", "last_name_1")
            .withColumnRenamed("__nfn2", "first_name_2")
            .withColumnRenamed("__nln2", "last_name_2")
        )
    return df


#: The person data rows' variables, (name, compare_type) as in a config
#: schema; their features are :data:`FEATURE_COLS`.
PERSON_VARIABLES = [("first_name", "String"), ("last_name", "String"),
                    ("dob", "Date"), ("age", "Numeric"),
                    ("gender", "Categorical")]


def pair_features(record_pairs: DataFrame,
                  leven_thresh: int | None = 1,
                  exact_vars: list[str] | None = None,
                  negate_exact_vars: list[str] | None = None,
                  pctl_dims: dict | None = None,
                  name_probs: DataFrame | None = None,
                  jw_variant: str = "standard",
                  uid_cols: list[str] | None = None,
                  variables: list[tuple[str, str]] = PERSON_VARIABLES
                  ) -> DataFrame:
    """Full feature table over side-by-side record pairs (the
    "data-rows" table, ``generate_data_rows.py:182-190``).

    ``variables``: ``(name, compare_type)`` pairs, dispatched by
    :func:`features_for_variables` — the person list by default, or a
    config schema's feature variables; ``record_pairs`` must carry each
    ``{name}_1/_2`` (``expand_bs_to_record_pairs(..., extra_attrs=…)``).

    ``uid_cols``: the UniqueID variable(s) the label derives from
    (default ``["uid"]``); ``uid_1``/``uid_2`` come from the first.  The
    label is the reference's consensus — '1'/'0' only when every usable
    variable agrees (:func:`label_expr_multi`,
    ``comparison_functions.py:389-396``), which for one variable is its
    plain 3-state label.

    Optional name-probability stage (reference order,
    ``generate_data_rows.py:226-259``): percentile features are looked
    up on the ORIGINAL names (``pctl_dims`` from
    :func:`nameprob.percentile_dims`), then the swap repair
    (``name_probs`` from :func:`nameprob.name_log_probs`) may flip
    fn/ln before the string features are computed.
    """
    if not uid_cols:
        uid_cols = ["uid"]
    if exact_vars is None:
        exact_vars = ["first_name", "last_name", "dob"]
    extra_cols: list[str] = []
    if "covered_pair" in record_pairs.columns:
        # U3 flag rides into the data rows (reference keeps it through
        # generate_data_rows / fit_model, fit_model.py:734)
        extra_cols.append("covered_pair")
    if pctl_dims is not None or name_probs is not None:
        record_pairs = _attach_name_prob_features(
            record_pairs, pctl_dims, name_probs)
        if pctl_dims is not None:
            extra_cols += PCTL_FEATURE_COLS
        if name_probs is not None:
            extra_cols += ["switched_name"]

    feats, string_vars = features_for_variables(variables)
    carried = [f"{v}_{s}" for v in string_vars for s in (1, 2)]
    uid = uid_cols[0]
    base = record_pairs.select(
        "dr_id", "record_id_1", "record_id_2", "cos_dist",
        F.col(f"{uid}_1").alias("uid_1"), F.col(f"{uid}_2").alias("uid_2"),
        *extra_cols, *carried, *feats,
        exactmatch_expr(exact_vars, negate_exact_vars)
        .alias("exactmatch"),
        label_expr_multi(uid_cols, leven_thresh).alias("label"))

    dim = _py_metrics_dim(record_pairs, string_vars, jw_variant=jw_variant)
    for v in string_vars:
        d = dim.select(
            F.col("__s1"), F.col("__s2"),
            F.col("__jw").alias(f"var_{v}_jw_dist"),
            F.col("__ny").alias(f"var_{v}_nysiis"))
        base = base.join(
            dim_join_side(base, d),
            (F.col(f"{v}_1") == d.__s1) & (F.col(f"{v}_2") == d.__s2),
            "left").drop("__s1", "__s2")

    return (
        base
        .drop(*carried)
        .withColumn("labeled_data", (F.col("label") != "").cast("int"))
    )


FEATURE_COLS = (
    [f"var_{v}_{m}" for v in ("first_name", "last_name")
     for m in ("missing", "edit_dist", "exact_match", "exact_match_1st",
               "exact_match_1st2nd3rd", "soundex", "jw_dist", "nysiis")]
    + ["var_dob_missing", "var_dob_edit_dist", "var_dob_day_diff",
       "var_age_missing", "var_age_num_diff",
       "var_gender_missing", "var_gender_exact_match",
       "cos_dist"]
)
