"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship full record-linkage pipeline at
sf0.001 and returns the cluster assignment.  ``queries()`` exposes every
implemented operator from SURVEY.md §2 (plus the training-data-pipeline
operators) as (spark, sf_dir) callables; ``oracle_sql()`` gives the
DuckDB-checkable equivalents (rows-only for the ML-dependent stages,
which are not SQL-expressible).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namematch_spark.operators import blocking as B
from namematch_spark.operators import dedup as D
from namematch_spark.operators import similarity as S
from namematch_spark.operators.cluster import connected_components
from namematch_spark.operators.multimodal import (docs_as_media,
                                                  extract_media_features)
from namematch_spark.operators.mustlinks import must_links
from namematch_spark.operators.pairs import (expand_bs_to_record_pairs,
                                             pair_features)
from namematch_spark.operators.preprocess import preprocess, spread_input
from namematch_spark.operators.textstats import text_profile
from namematch_spark.plans import oracles
from namematch_spark.sources.records import person_records


# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def _an(spark: SparkSession, sf: str) -> DataFrame:
    # spread_input: the single-file scan would otherwise run the whole
    # narrow regex-heavy preprocess chain on ONE task (guide §2.5)
    return preprocess(spread_input(person_records(spark, sf)))


def _eager(df: DataFrame) -> DataFrame:
    """X16 staging policy for multi-consumer subtrees: materialize
    EAGERLY — concurrent consumers of a cold cache each recompute the
    full lineage (no cross-job computation lock; see
    blocking._scoped_cache's measured evidence).  NM_LAZY_CACHE opts
    out for tiny fixtures, same as the pipeline.

    ``localCheckpoint`` rather than ``cache()`` (r6): a cached frame
    keeps its full ANALYZED PLAN, and every downstream job re-
    canonicalizes that tree for the cache lookup — with the config-
    schema preprocess plan (a regex forest over ~20 columns) that
    driver-side work measured ~25 s across the blocking DAG's ~20 jobs
    at sf0.01 (35 s → 13.6 s for the same candidates computation).
    The checkpoint truncates the plan to a LogicalRDD leaf, exactly
    like the pipeline's stage boundaries do — the engine's real
    execution model always stages all_names, so the contract queries
    must too.  (It also bounds whole-stage codegen: fusing the raw
    P1-P16 Project into every blocking arm blew janino's 64 KB method
    limit and silently fell back to interpreted eval — r5 finding.)"""
    if B.eager_cache_enabled():
        return df.localCheckpoint(eager=True)
    return df.cache()


AN_COLS = ["record_id", "first_name", "last_name", "dob", "gender",
           "age", "uid", "blockstring", "drop_from_nm"]


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _embs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _read(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/{name}.parquet")


# ---------------------------------------------------------------------------
# ER pipeline queries
# ---------------------------------------------------------------------------

def q_er_preprocess(spark, sf):
    return _an(spark, sf).select(*AN_COLS)


def q_er_mustlinks(spark, sf):
    return must_links(_an(spark, sf))


def q_er_blockstring_nn(spark, sf):
    """P16 — recover the nn_string (name part) from a blockstring
    (reference ``utils/utils.py:267-290``), oracle-checked round-trip
    over every preprocessed record."""
    from namematch_spark.operators.preprocess import parse_blockstring_nn
    return _an(spark, sf).select(
        "record_id", "blockstring",
        parse_blockstring_nn(F.col("blockstring")).alias("nn_string"))


def _an_uid2(spark: SparkSession, sf: str) -> DataFrame:
    from namematch_spark.sources.records import person_records_uid2
    return preprocess(spread_input(person_records_uid2(spark, sf)))


def q_er_mustlinks_multi(spark, sf):
    """J1 over two UniqueID variables (SSN + agency-ID shape): union of
    per-variable must-link self-joins, pair-deduped
    (``generate_must_links.py:160-193``)."""
    return must_links(_an_uid2(spark, sf), uid_col=["uid", "uid2"])


def q_er_labels_multi(spark, sf):
    """F14 consensus labels across two UniqueID variables
    (``comparison_functions.py:389-396``): per-variable labels + the
    all-agree consensus over the full candidate record-pair expansion."""
    from namematch_spark.operators.pairs import (label_expr_for,
                                                 label_expr_multi)
    an = _eager(_an_uid2(spark, sf))
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an, extra_attrs=["uid2"])
    return rp.select(
        "dr_id",
        label_expr_for("uid", 1).alias("label_uid"),
        label_expr_for("uid2", 1).alias("label_uid2"),
        label_expr_multi(["uid", "uid2"], 1).alias("label"))


def q_er_blockstats(spark, sf):
    return B.nn_strings(_an(spark, sf))


def q_er_penalty(spark, sf):
    return B.commonness_penalty(_an(spark, sf)).select(
        "last_name", F.round("commonness_penalty", 6)
        .alias("commonness_penalty"))


def q_er_det_candidates(spark, sf):
    nn = B.nn_strings(_an(spark, sf))
    return B.det_candidates(nn).select("nn_string_1", "nn_string_2")


def q_er_lsh_candidates(spark, sf):
    nn = B.nn_strings(_an(spark, sf))
    return B.lsh_candidates(nn).select("nn_string_1", "nn_string_2")


def q_er_candidates(spark, sf):
    return B.candidate_nn_pairs(_eager(_an(spark, sf))).select(
        "nn_string_1", "nn_string_2", F.round("cos_dist", 6)
        .alias("cos_dist"))


def q_er_candidates_cov(spark, sf):
    """U3 — covered_pair flag + uncovered must-link injection
    (reference ``block.py:741-829, 872-904``): the blockstring
    candidate stream plus every gt pair blocking missed
    (covered_pair=0, true cosine distance)."""
    an = _eager(_an(spark, sf))
    cand = B.candidate_blockstring_pairs(an)
    return B.add_uncovered_pairs(cand, must_links(an), an).select(
        "blockstring_1", "blockstring_2",
        F.round("cos_dist", 6).alias("cos_dist"), "covered_pair")


FEATURE_ORACLE_COLS = [
    "dr_id",
    "var_first_name_missing", "var_first_name_edit_dist",
    "var_first_name_jw_dist",
    "var_last_name_missing", "var_last_name_edit_dist",
    "var_last_name_jw_dist",
    "var_dob_missing", "var_dob_edit_dist", "var_dob_day_diff",
    "var_age_missing", "var_age_num_diff",
    "var_gender_missing", "var_gender_exact_match",
    "label",
]


def q_er_candidates_bs(spark, sf):
    return B.candidate_blockstring_pairs(_eager(_an(spark, sf))).select(
        "blockstring_1", "blockstring_2",
        F.round("cos_dist", 6).alias("cos_dist"))


def q_er_pair_features(spark, sf):
    an = _eager(_an(spark, sf))
    rp = _eager(expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an))
    dr = pair_features(rp, leven_thresh=1)
    return dr.select(
        *[F.round(c, 6).alias(c)
          if c.startswith("var_") and c.endswith("jw_dist")
          else F.col(c) for c in FEATURE_ORACLE_COLS])


def q_er_nameprob_features(spark, sf):
    """Six percentile features + F12 swap repair through the data-rows
    stage's fused per-name dim, plus log P of the original side-1 name."""
    from namematch_spark.operators import nameprob as NP
    from namematch_spark.operators.pairs import (PCTL_FEATURE_COLS,
                                                 _attach_name_prob_features)
    an = _eager(_an(spark, sf))
    anf = an.filter(F.col("drop_from_nm") == 0)
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an)
    probs = _eager(NP.name_log_probs(anf, NP.ngram_counts(anf)))
    lp = probs.select(F.col("name_prob_str").alias("__s1p"),
                      F.round("log_prob", 6).alias("log_prob_name_1"))
    # joined on the names as they are before the swap repair
    rp = rp.join(
        lp,
        NP.name_prob_str(F.col("first_name_1"), F.col("last_name_1"))
        == F.col("__s1p"), "left").drop("__s1p")
    swapped = _attach_name_prob_features(rp, NP.percentile_dims(anf), probs)
    return swapped.select("dr_id", *PCTL_FEATURE_COLS,
                          "switched_name", "log_prob_name_1")


def q_er_cc_mustlinks(spark, sf):
    an = _eager(_an(spark, sf))
    ml = must_links(an)
    nodes = an.filter(F.col("drop_from_nm") == 0).select("record_id")
    return connected_components(ml, nodes)


def q_er_potential_links(spark, sf):
    # RF-dependent: rows-only check (non-SQL-expressible).  Scores with
    # the full model registry: basic + dob-missingness model (M2).
    from namematch_spark.operators.model import (
        potential_links_model_set, score_with_model_set, train_model_set)
    an = _eager(_an(spark, sf))
    rp = _eager(expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an))
    dr = _eager(pair_features(rp, leven_thresh=1))
    ms = train_model_set(dr)
    return potential_links_model_set(
        score_with_model_set(ms, dr), ms).select(
        "dr_id", "record_id_1", "record_id_2", "model_to_use",
        "phat", "gt")


def q_er_clusters(spark, sf):
    from namematch_spark.pipeline import run_pipeline
    res = run_pipeline(person_records(spark, sf))
    return res.clusters


def q_er_potential_links_det(spark, sf):
    """M4/M6 machinery (routing, per-model thresholds, gt override)
    with the deterministic ExprScorer stand-in — full value check; the
    RF path keeps its rows-only twin ``er_potential_links``."""
    from namematch_spark.operators.model import (
        deterministic_model_set, potential_links_model_set,
        score_with_model_set)
    an = _eager(_an(spark, sf))
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an)
    dr = pair_features(rp, leven_thresh=1)
    ms = deterministic_model_set()
    return potential_links_model_set(
        score_with_model_set(ms, dr), ms).select(
        "dr_id", "record_id_1", "record_id_2", "model_to_use",
        "phat", "gt")


def q_er_flipped0_det(spark, sf):
    """M6 flipped0 set (reference ``fit_model.py:724-760`` →
    ``flipped0_potential_links.csv``): labeled-0 pairs scored above
    their model's threshold — the potential-links machinery composed
    with the CLI artifact's label filter, value-checked end-to-end via
    the ExprScorer twin.  Threshold 0.03 — below the det scorer's
    labeled-0 tail so the checked set is non-empty."""
    from namematch_spark.operators.model import (
        deterministic_model_set, potential_links_model_set,
        score_with_model_set)
    an = _eager(_an(spark, sf))
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an)
    dr = pair_features(rp, leven_thresh=1)
    ms = deterministic_model_set(basic_threshold=0.03)
    return potential_links_model_set(
        score_with_model_set(ms, dr), ms) \
        .filter(F.col("label") == "0").select(
            "dr_id", "record_id_1", "record_id_2", "model_to_use",
            "label", "phat")


def q_er_selection_weight_det(spark, sf):
    """M3 selection-bias weight (reference ``predict.py:229-233`` +
    ``fit_model.py:424-426``): ``apply_selection_weight`` with
    ExprScorer stand-ins for both the match scorer (basic terms) and
    the selection scorer (no-dob terms), ``prob_match_train=0.05`` —
    the weight arithmetic and the double-scoring join are fully
    value-checked; the RF-backed path keeps its pytest."""
    from namematch_spark.operators.model import (
        DET_BASIC_TERMS, DET_NODOB_TERMS, ExprScorer, MatchModel,
        apply_selection_weight, score_pairs)
    an = _eager(_an(spark, sf))
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an)
    dr = pair_features(rp, leven_thresh=1)
    scored = score_pairs(ExprScorer(DET_BASIC_TERMS), dr)
    sel = MatchModel(
        model=ExprScorer(DET_NODOB_TERMS), threshold=0.5,
        feature_cols=[c for c, _, _ in DET_NODOB_TERMS],
        eval_metrics={})
    return apply_selection_weight(scored, sel, 0.05).select(
        "dr_id", "record_id_1", "record_id_2", "phat", "p_selected",
        "selection_weight")


def _clusters_det(an):
    """Deterministic-score constrained clustering over an all-names
    table (shared by the person-records and web-pages variants)."""
    from namematch_spark.operators.cluster import constrained_clusters
    an = _eager(an)
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an)
    pot = rp.select(
        "dr_id", "record_id_1", "record_id_2",
        F.lit(0).alias("gt"),
        (F.lit(1.0) - F.col("cos_dist")).alias("phat"))
    ml = must_links(an).filter(
        (F.col("drop_from_nm_1") == 0) & (F.col("drop_from_nm_2") == 0))
    return constrained_clusters(pot, ml, an, leven_thresh=None)


def q_er_clusters_det(spark, sf):
    """G1-G5 end-to-end on deterministic edge scores (phat =
    1 − cos_dist): exercises the auto uid edge veto, CC, component
    triage AND the greedy constrained replay on every conflict
    component, value-checked against the recursive-CTE oracle."""
    return _clusters_det(_an(spark, sf))


def q_wp_clusters_det(spark, sf):
    """The NORTH-STAR flow end-to-end, value-checked: web pages
    (binary html) → Arrow-UDF byte-identical extraction → record parse
    → preprocess → blocking → deterministic constrained clustering.
    The extraction round-trips exactly (wp_records oracle), so the
    clustering oracle is shared with er_clusters_det."""
    from namematch_spark.sources.webpages import (extract_text_udf,
                                                  pages_to_records,
                                                  synth_web_pages)
    pages = synth_web_pages(spark, sf).drop("text")
    pages = extract_text_udf(pages)         .withColumnRenamed("extracted_text", "text")
    return _clusters_det(preprocess(pages_to_records(pages)))


def q_er_incremental(spark, sf):
    # incremental mode (ExistingID seeding + stable ids, G2-eid) over
    # the deterministic must-link graph — fully oracle-checkable
    from namematch_spark.operators.cluster import constrained_clusters
    an = _an(spark, sf).withColumn(
        "eid",
        F.when((F.col("uid") != "")
               & (F.col("uid").cast("bigint") % 5 == 0),
               F.concat(F.lit("prev_"), F.col("uid")))
        .otherwise(F.lit("")))
    ml = must_links(an).filter(
        (F.col("drop_from_nm_1") == 0) & (F.col("drop_from_nm_2") == 0))
    empty = an.sparkSession.createDataFrame(
        [], "dr_id string, record_id_1 string, record_id_2 string, "
            "gt int, phat double")
    return constrained_clusters(empty, ml, an, eid_col="eid")


def q_er_incremental_block(spark, sf):
    """Incremental blocking end-to-end (X10, reference
    ``block.py:467-532``): month-1 index prebuilt from the 'existing'
    records' name variants, month-2 candidates generated via
    :func:`incremental_blockstring_pairs`.  Value contract: equals the
    full rebuild's blockstring pairs restricted to pairs touching a
    new-record name (the oracle applies exactly that restriction to
    the full-path SQL)."""
    import tempfile

    from namematch_spark.operators.incremental import (
        build_blocking_index, incremental_blockstring_pairs)
    is_new = F.expr(
        "try_cast(substring(record_id, 6) as bigint) % 5 = 0")
    an = _an(spark, sf).withColumn(
        "file_type", F.when(is_new, "new").otherwise("existing"))
    exist = an.filter(F.col("file_type") == "existing")
    var_e = (B.name_variants(B.nn_strings(exist))
             .select("nn_string").distinct())
    import shutil
    idx = tempfile.mkdtemp(prefix="nm_inc_idx_")
    try:
        build_blocking_index(var_e, idx)
        bs, _info = incremental_blockstring_pairs(an, idx)
        out = bs.select("blockstring_1", "blockstring_2",
                        F.round("cos_dist", 6).alias("cos_dist"))
        # materialize (truncates lineage off the index parquet) so the
        # scratch index can be removed NOW instead of accumulating
        # across bench/contract runs (ADVICE r4)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def q_er_phat_hist(spark, sf):
    """A10 value check: the report's phat-histogram binning
    (``report.phat_histogram_df``, reference
    ``model_evaluation_functions.py:279-287``) over the deterministic
    potential-links twin — bucket boundaries are bit-reproducible
    because the det oracle already hash-matches the phat doubles."""
    from namematch_spark.operators.report import phat_histogram_df
    return phat_histogram_df(q_er_potential_links_det(spark, sf))


def q_er_cluster_sizes(spark, sf):
    """A9 value check: the report's cluster-size frequency table
    (``report.cluster_size_distribution_df``, reference report
    notebook's cluster-size stats) over the must-link CC clustering."""
    from namematch_spark.operators.report import (
        cluster_size_distribution_df)
    return cluster_size_distribution_df(q_er_cc_mustlinks(spark, sf))


def q_er_output(spark, sf):
    # output stage (S8/G5) over the deterministic must-link clustering,
    # so the raw-value restore + cluster join are fully oracle-checkable
    from namematch_spark.operators.output import all_names_with_clusterid
    an = _eager(_an(spark, sf))
    ml = must_links(an)
    nodes = an.filter(F.col("drop_from_nm") == 0).select("record_id")
    cc = connected_components(ml, nodes)
    return all_names_with_clusterid(an, cc).select(
        "record_id", "first_name", "last_name", "dob", "gender", "age",
        "uid", "blockstring", "drop_from_nm", "cluster_id")


# ---------------------------------------------------------------------------
# config-driven schema queries (two data files, Geography/Address/extra
# Categorical — reference data_structures/variable.py surface)
# ---------------------------------------------------------------------------

def _cfg_an(spark, sf):
    from namematch_spark.configs import demo_raw_tables, demo_schema
    from namematch_spark.schema import preprocess_with_schema
    return preprocess_with_schema(demo_raw_tables(spark, sf),
                                  demo_schema())


def q_er_config_preprocess(spark, sf):
    from namematch_spark.plans.oracles import CFG_AN_COLS
    return _cfg_an(spark, sf).select(*CFG_AN_COLS)


def q_er_blockstats_ft(spark, sf):
    from namematch_spark.schema import nn_string_stats
    return nn_string_stats(_cfg_an(spark, sf),
                           ["first_name", "last_name"])


CFG_FEATURE_ORACLE_COLS = [
    "dr_id",
    "var_first_name_missing", "var_first_name_edit_dist",
    "var_first_name_jw_dist",
    "var_last_name_missing", "var_last_name_edit_dist",
    "var_last_name_jw_dist",
    "var_dob_missing", "var_dob_edit_dist", "var_dob_day_diff",
    "var_age_missing", "var_age_num_diff",
    "var_gender_missing", "var_gender_exact_match",
    "var_city_missing", "var_city_exact_match",
    "var_home_geo_missing", "var_home_geo_geog_dist",
    "var_address_street_number_missing",
    "var_address_street_number_edit_dist",
    "var_address_street_number_jw_dist",
    "var_address_street_name_missing",
    "var_address_street_name_edit_dist",
    "var_address_street_name_jw_dist",
    "var_address_street_type_missing",
    "var_address_street_type_exact_match",
    "label",
]

_CFG_ROUND = {"var_first_name_jw_dist", "var_last_name_jw_dist",
              "var_home_geo_geog_dist",
              "var_address_street_number_jw_dist",
              "var_address_street_name_jw_dist"}


def q_er_config_pair_features(spark, sf):
    from namematch_spark.configs import demo_schema
    sch = demo_schema()
    an = _eager(_cfg_an(spark, sf))
    cand = B.candidate_blockstring_pairs(an)
    variables = [(v.name, v.compare_type) for v in sch.feature_variables()]
    attrs = ([n for n, t in variables if t != "Address"]
             + ["address_street_number", "address_street_name",
                "address_street_type"]
             + sch.uid_vars())
    rp = _eager(expand_bs_to_record_pairs(cand, an, extra_attrs=attrs))
    dr = pair_features(rp, variables=variables, uid_cols=sch.uid_vars(),
                       leven_thresh=1)
    return dr.select(
        *[F.round(c, 6).alias(c) if c in _CFG_ROUND else F.col(c)
          for c in CFG_FEATURE_ORACLE_COLS])


# ---------------------------------------------------------------------------
# web-pages graft queries (BASELINE input shape)
# ---------------------------------------------------------------------------

def q_wp_extract(spark, sf):
    # binary html -> text through the Arrow UDF (the production path);
    # the oracle rebuilds the expected text independently, so the
    # hash-match checks the byte-identical-extraction invariant
    from namematch_spark.sources.webpages import (extract_text_udf,
                                                  synth_web_pages)
    pages = synth_web_pages(spark, sf).select("url", "html")
    return extract_text_udf(pages).select(
        "url", F.col("extracted_text").alias("text"))


def q_wp_records(spark, sf):
    from namematch_spark.sources.webpages import (pages_to_records,
                                                  synth_web_pages)
    return pages_to_records(synth_web_pages(spark, sf))


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------

def q_doc_dedup_exact(spark, sf):
    return D.exact_dedup(_docs(spark, sf))


def q_doc_minhash_lsh(spark, sf):
    return D.minhash_lsh_dedup(_docs(spark, sf), threshold=0.7,
                               num_hashes=16, rows_per_band=1)


def q_doc_minhash_lsh_banded(spark, sf):
    """The SCALE configuration of MinHash-LSH dedup (4 bands × 4 rows:
    sub-linear candidate volume at the cost of recall 1−(1−s⁴)⁴) —
    oracle-checked against a SQL replica of the banding itself, not
    brute force (see oracles.doc_minhash_lsh_banded)."""
    return D.minhash_lsh_dedup(_docs(spark, sf), threshold=0.7,
                               num_hashes=16, rows_per_band=4)


def q_doc_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_dedup(_docs(spark, sf), threshold=0.5)


def q_doc_simhash(spark, sf):
    return D.simhash_dedup(_docs(spark, sf), max_hamming=3)


def q_doc_profile(spark, sf):
    return text_profile(_docs(spark, sf)).select(
        "doc_id", "pred_lang", "n_tokens", "n_subwords", "quality",
        "fingerprint")


EMB_DIM = 64  # synthetic embeddings table dimensionality (TESTDATA.md)


def q_emb_knn(spark, sf):
    # exact brute-force baseline (the verification oracle for the LSH
    # path; O(|Q|·|C|) — small corpora only)
    e = _embs(spark, sf)
    return S.brute_force_knn(e, e, k=5)


def q_emb_knn_lsh(spark, sf):
    # the scale path: multi-table hyperplane buckets + exact cosine
    e = _embs(spark, sf)
    return S.lsh_knn(e, e, dim=EMB_DIM, k=5, num_planes=8, num_tables=4)


def q_emb_near_dup(spark, sf):
    # multi-table LSH near-dup is the default/scale path
    return S.cosine_near_dup(_embs(spark, sf), threshold=0.35,
                             num_planes=8, num_tables=4, dim=EMB_DIM)


def q_emb_near_dup_exact(spark, sf):
    return S.cosine_near_dup(_embs(spark, sf), threshold=0.35, exact=True)


def q_mm_features(spark, sf):
    return extract_media_features(docs_as_media(_docs(spark, sf))).select(
        "media_id", "mime", "n_bytes", "sha256", "decode_ok")


# ---------------------------------------------------------------------------
# relational demos (scan/agg/window/join over TPC-H tables)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark, sf):
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast(
            "timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
             F.count("*").alias("count_order"))
    )


def q_win_top_orders(spark, sf):
    from pyspark.sql.window import Window
    o = _read(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.select("o_custkey", "o_orderkey", "o_totalprice",
                     F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 3))


def q_join_nation_revenue(spark, sf):
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    n = _read(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
    )


def q_events_hourly(spark, sf):
    e = _read(spark, sf, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the BASELINE north-star flow at sf0.001 — Common-Crawl-
    style web pages (binary html) → byte-identical Arrow-UDF text
    extraction → person-record parse → the full record-linkage pipeline
    (blocking → pairwise RF scoring → constrained clustering); returns
    the (record_id, cluster_id) assignment."""
    from namematch_spark.pipeline import run_pipeline
    from namematch_spark.sources.webpages import (extract_text_udf,
                                                  pages_to_records,
                                                  synth_web_pages)
    pages = synth_web_pages(spark, "/root/testdata/sf0.001")         .drop("text")
    pages = extract_text_udf(pages)         .withColumnRenamed("extracted_text", "text")
    res = run_pipeline(pages_to_records(pages))
    return res.clusters


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ER pipeline (SURVEY.md §2)
        "er_preprocess": q_er_preprocess,
        "er_blockstring_nn": q_er_blockstring_nn,
        "er_mustlinks": q_er_mustlinks,
        "er_mustlinks_multi": q_er_mustlinks_multi,
        "er_labels_multi": q_er_labels_multi,
        "er_blockstats": q_er_blockstats,
        "er_penalty": q_er_penalty,
        "er_det_candidates": q_er_det_candidates,
        "er_lsh_candidates": q_er_lsh_candidates,
        "er_candidates": q_er_candidates,
        "er_candidates_bs": q_er_candidates_bs,
        "er_candidates_cov": q_er_candidates_cov,
        "er_pair_features": q_er_pair_features,
        "er_nameprob_features": q_er_nameprob_features,
        "er_cc_mustlinks": q_er_cc_mustlinks,
        "er_potential_links": q_er_potential_links,
        "er_potential_links_det": q_er_potential_links_det,
        "er_flipped0_det": q_er_flipped0_det,
        "er_selection_weight_det": q_er_selection_weight_det,
        "er_clusters": q_er_clusters,
        "er_clusters_det": q_er_clusters_det,
        "wp_clusters_det": q_wp_clusters_det,
        "er_incremental": q_er_incremental,
        "er_incremental_block": q_er_incremental_block,
        "er_output": q_er_output,
        "er_phat_hist": q_er_phat_hist,
        "er_cluster_sizes": q_er_cluster_sizes,
        # config-driven schema layer
        "er_config_preprocess": q_er_config_preprocess,
        "er_blockstats_ft": q_er_blockstats_ft,
        "er_config_pair_features": q_er_config_pair_features,
        # web-pages graft
        "wp_extract": q_wp_extract,
        "wp_records": q_wp_records,
        # training-data pipeline
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_minhash_lsh_banded": q_doc_minhash_lsh_banded,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_simhash": q_doc_simhash,
        "doc_profile": q_doc_profile,
        "emb_knn": q_emb_knn,
        "emb_knn_lsh": q_emb_knn_lsh,
        "emb_near_dup": q_emb_near_dup,
        "emb_near_dup_exact": q_emb_near_dup_exact,
        "mm_features": q_mm_features,
        # relational demos
        "agg_pricing_summary": q_agg_pricing_summary,
        "win_top_orders": q_win_top_orders,
        "join_nation_revenue": q_join_nation_revenue,
        "events_hourly": q_events_hourly,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "er_preprocess": oracles.er_preprocess(),
        "er_blockstring_nn": oracles.er_blockstring_nn(),
        "er_mustlinks": oracles.er_mustlinks(),
        "er_mustlinks_multi": oracles.er_mustlinks_multi(),
        "er_labels_multi": oracles.er_labels_multi(),
        "er_blockstats": oracles.er_blockstats(),
        "er_penalty": oracles.er_penalty(),
        "er_det_candidates": oracles.er_det_candidates(),
        "er_lsh_candidates": oracles.er_lsh_candidates(),
        "er_candidates": oracles.er_candidates(),
        "er_candidates_bs": oracles.er_candidates_bs(),
        "er_candidates_cov": oracles.er_candidates_cov(),
        "er_pair_features": oracles.er_pair_features(),
        "er_nameprob_features": oracles.er_nameprob_features(),
        "er_cc_mustlinks": oracles.er_cc_mustlinks(),
        # er_potential_links / er_clusters: RF-dependent → rows-only;
        # their _det twins value-check the same machinery with
        # deterministic scores
        "er_potential_links_det": oracles.er_potential_links_det(),
        "er_flipped0_det": oracles.er_flipped0_det(),
        "er_selection_weight_det": oracles.er_selection_weight_det(),
        "er_clusters_det": oracles.er_clusters_det(),
        # same oracle: extraction round-trips byte-identically, so the
        # web-page flow must produce the very same clusters
        "wp_clusters_det": oracles.er_clusters_det(),
        "er_incremental": oracles.er_incremental(),
        "er_incremental_block": oracles.er_incremental_block(),
        "er_output": oracles.er_output(),
        "er_phat_hist": oracles.er_phat_hist(),
        "er_cluster_sizes": oracles.er_cluster_sizes(),
        "er_config_preprocess": oracles.er_config_preprocess(),
        "er_blockstats_ft": oracles.er_blockstats_ft(),
        "er_config_pair_features": oracles.er_config_pair_features(),
        "wp_extract": oracles.wp_extract(),
        "wp_records": oracles.wp_records(),
        "doc_dedup_exact": oracles.doc_dedup_exact(),
        "doc_minhash_lsh": oracles.doc_minhash_lsh(),
        "doc_minhash_lsh_banded": oracles.doc_minhash_lsh_banded(),
        "doc_ngram_jaccard": oracles.doc_ngram_jaccard(),
        "doc_simhash": oracles.doc_simhash_pairs(),
        "doc_profile": oracles.doc_profile(),
        "emb_knn": oracles.emb_knn(),
        "emb_knn_lsh": oracles.emb_knn_lsh(k=5, num_planes=8,
                                           num_tables=4, dim=EMB_DIM),
        "emb_near_dup": oracles.emb_near_dup_lsh(threshold=0.35,
                                                 num_planes=8,
                                                 num_tables=4,
                                                 dim=EMB_DIM),
        "emb_near_dup_exact": oracles.emb_near_dup(threshold=0.35),
        "mm_features": oracles.mm_features(),
        "agg_pricing_summary": oracles.agg_pricing_summary(),
        "win_top_orders": oracles.win_top_orders(),
        "join_nation_revenue": oracles.join_nation_revenue(),
        "events_hourly": oracles.events_hourly(),
    }
