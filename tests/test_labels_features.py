"""Label truth table (reference
``tests/unit/test_comparison_functions.py:151-170``) and pairwise
feature invariants."""

from __future__ import annotations

import pyspark.sql.functions as F

from namematch_spark.operators.pairs import label_expr_for

# the reference's ids.csv truth table: six uid pairs
UID_PAIRS = [("1", "1"),   # match            -> '1'
             ("1", ""),    # one missing      -> ''
             ("12", "21"), # mismatch (ed 2)  -> '0'
             ("12", "13"), # near (ed 1)      -> '0' / '' with thresh
             ("5", "500"), # mismatch (ed 2)  -> '0'
             ("7", "8")]   # near (ed 1)      -> '0' / '' with thresh


def _labels(spark, leven_thresh):
    df = spark.createDataFrame(UID_PAIRS, "uid_1 string, uid_2 string")
    return [r["label"] for r in
            df.withColumn("label", label_expr_for("uid", leven_thresh))
            .collect()]


def test_labels_no_thresh(spark):
    assert _labels(spark, None) == ["1", "", "0", "0", "0", "0"]


def test_labels_with_thresh(spark):
    assert _labels(spark, 1) == ["1", "", "0", "", "0", ""]


# consensus across two UniqueID variables (reference
# ``generate_label`` num_1s/num_0s logic,
# ``comparison_functions.py:389-396``): per-variable 3-state labels
# combine to '1' only when no variable disagrees and at least one
# agrees, '0' only when no variable agrees and at least one disagrees
CONSENSUS_CASES = [
    # (uid_1, uid_2, uid2_1, uid2_2, expected no-thresh, expected thresh=1)
    ("1", "1", "A1", "A1", "1", "1"),    # both agree
    ("1", "1", "", "A1", "1", "1"),      # agree + missing -> '1'
    ("1", "1", "A12", "A21", "", ""),    # agree + disagree -> conflict
    ("12", "21", "", "", "0", "0"),      # disagree + missing -> '0'
    ("", "", "", "A1", "", ""),          # nothing usable
    ("12", "21", "A12", "A21", "0", "0"),  # both disagree
    # thresh demotes the near-miss var to '', changing the consensus:
    ("7", "8", "A1", "A1", "", "1"),     # near-0 + 1: conflict -> '1'
    ("7", "8", "", "", "0", ""),         # near-0 alone: '0' -> ''
]


def test_labels_multi_consensus(spark):
    from namematch_spark.operators.pairs import label_expr_multi
    df = spark.createDataFrame(
        [c[:4] for c in CONSENSUS_CASES],
        "uid_1 string, uid_2 string, uid2_1 string, uid2_2 string")
    for thresh, idx in ((None, 4), (1, 5)):
        got = [r["label"] for r in df.withColumn(
            "label", label_expr_multi(["uid", "uid2"], thresh)).collect()]
        assert got == [c[idx] for c in CONSENSUS_CASES], f"thresh={thresh}"


def test_labels_multi_single_var_degenerates(spark):
    from namematch_spark.operators.pairs import label_expr_multi
    df = spark.createDataFrame(UID_PAIRS, "uid_1 string, uid_2 string")
    for thresh in (None, 1):
        single = [r["l"] for r in df.withColumn(
            "l", label_expr_for("uid", thresh)).collect()]
        multi = [r["l"] for r in df.withColumn(
            "l", label_expr_multi(["uid"], thresh)).collect()]
        assert single == multi



# sf0.001 data rows of the default pipeline (U3 flag, name-probability
# features, person features, exact match, label), in order
DATA_ROWS_COLS = [
    "dr_id", "record_id_1", "record_id_2", "cos_dist", "uid_1", "uid_2",
    "covered_pair",
    "diff_count_pctl_name", "max_count_pctl_name",
    "diff_count_pctl_fn", "max_count_pctl_fn",
    "diff_count_pctl_ln", "max_count_pctl_ln",
    "switched_name",
    *[f"var_{v}_{m}" for v in ("first_name", "last_name")
      for m in ("missing", "edit_dist", "exact_match", "exact_match_1st",
                "exact_match_1st2nd3rd", "soundex")],
    "var_dob_missing", "var_dob_edit_dist", "var_dob_day_diff",
    "var_age_missing", "var_age_num_diff",
    "var_gender_missing", "var_gender_exact_match",
    "exactmatch", "label",
    "var_first_name_jw_dist", "var_first_name_nysiis",
    "var_last_name_jw_dist", "var_last_name_nysiis",
    "labeled_data",
]


def test_feature_invariants(pipeline_result):
    # invariants hold on ANY data-rows output — run them on the shared
    # session pipeline's sf0.001 data_rows instead of rebuilding a
    # private blocking+feature DAG (was the suite's 2nd-largest cost;
    # the nn-level expansion path this test used to build privately is
    # oracle-checked by the er_candidates contract query)
    dr = pipeline_result.data_rows
    # the checkpoint/model contract: data-rows columns, in order
    assert dr.columns == DATA_ROWS_COLS
    agg = dr.agg(
        F.count("*").alias("n"),
        F.sum((F.col("var_first_name_jw_dist") < 0).cast("int")).alias("neg"),
        F.sum((F.col("var_first_name_jw_dist") > 1).cast("int")).alias("gt1"),
        F.sum(((F.col("var_first_name_missing") == 1.0)
               & F.col("var_first_name_edit_dist").isNotNull())
              .cast("int")).alias("missing_but_valued"),
        F.sum((F.col("var_dob_day_diff") < 0).cast("int")).alias("negday"),
        F.sum((~F.col("label").isin("1", "0", "")).cast("int")).alias("badlab"),
    ).collect()[0]
    assert agg["n"] > 0
    assert agg["neg"] == 0 and agg["gt1"] == 0
    assert agg["missing_but_valued"] == 0
    assert agg["negday"] == 0
    assert agg["badlab"] == 0
    # identical names must have zero distances and exact matches
    same = dr.filter(F.col("var_first_name_exact_match") == 1.0)
    bad = same.filter((F.col("var_first_name_edit_dist") != 0.0)
                      | (F.col("var_first_name_jw_dist") != 0.0)).count()
    assert bad == 0


def test_exactmatch_negate_vars(spark):
    # F13 negation (generate_data_rows.py:296-307): differing
    # middle names with both present break an exact match; a missing
    # side does not
    from namematch_spark.operators.pairs import exactmatch_expr
    df = spark.createDataFrame(
        [("A", "A", "B", "B", "J", "K"),
         ("A", "A", "B", "B", "J", ""),
         ("A", "A", "B", "B", "J", "J"),
         ("A", "X", "B", "B", "J", "J")],
        "first_name_1 string, first_name_2 string, last_name_1 string, "
        "last_name_2 string, middle_name_1 string, middle_name_2 string")
    out = df.select(
        exactmatch_expr(["first_name", "last_name"],
                        ["middle_name"]).alias("em")).collect()
    assert [r["em"] for r in out] == [0, 1, 1, 0]
