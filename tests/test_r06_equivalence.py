"""Round-6 optimization equivalence anchors.

Every r6 change rewrote an operator's INTERNALS for speed while
claiming value-identical output; each claim gets a focused test here
against a straightforward replica of the r5 formulation:

* minhash signatures: one aggregate fold == the unrolled
  ``array_min(transform(base, …))`` columns (blocking + dedup share
  the chain);
* weighted shingle vectors: row-local fold == explode + two groupBys
  (entries exact; norm2 — an unordered FP sum in r5 — to 1e-9);
* cosine dot: try_element_at probe == map_zip_with merge (exact at
  the 6-decimal rounding both ship);
* fused per-name dim in pair_features == pctl_pair_features +
  swap_repair chain (exact);
* window-based large/small-star CC == groupBy+join stars (exact
  assignment).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _sym_diff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_minhash_aggregate_equals_unrolled(spark, all_names):
    from namematch_spark.operators import blocking as B
    nn = B.nn_strings(all_names)
    sh = B.shingles_col("nn_string")
    new = nn.select("nn_string",
                    B.minhash_signature(sh, num_hashes=8).alias("sig"))
    # r5 formulation: base hashes staged, one array_min(transform)
    # column per hash function
    base = F.transform(sh, lambda s: F.pmod(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        F.lit(B.MERSENNE_P)))
    cols = [F.array_min(F.transform(
        base, lambda h: F.pmod(F.lit(a) * h + F.lit(b),
                               F.lit(B.MERSENNE_P))))
        for a, b in B._lcg_pairs(8)]
    old = nn.select("nn_string", F.array(*cols).alias("sig"))
    assert _sym_diff(new, old) == 0


def test_weighted_vectors_equal_grouped_formulation(spark, all_names):
    from namematch_spark.operators import blocking as B
    nn = B.nn_strings(all_names)
    new = B.weighted_shingle_vectors(nn)

    # r5 replica: explode (name, gram, w) rows, sum per (name, gram),
    # rebuild the map — keys here stay strings, so compare via the
    # int encoding the r6 version ships
    fn = F.substring_index(F.col("nn_string"), " ", 1)
    ln = F.when(F.instr(F.col("nn_string"), " ") > 0,
                F.substr(F.col("nn_string"),
                         F.instr(F.col("nn_string"), " ") + 1)
                ).otherwise(F.lit(""))

    def part_grams(col, w_num, p):
        padded = F.concat(F.lit("*"), col, F.lit("*"))
        grams = F.transform(
            F.sequence(F.lit(1), F.length(padded) - 1),
            lambda i: padded.substr(i, F.lit(2)))
        w = F.lit(w_num) / F.pow(F.size(grams).cast("double"), F.lit(p))
        return F.transform(grams, lambda g: F.struct(
            g.alias("sh"), w.alias("w")))

    exploded = (
        nn.select("nn_string")
        .withColumn("__fn", fn).withColumn("__ln", ln)
        .withColumn("__g", F.concat(
            part_grams(F.col("__fn"), 1.0, B.DEFAULT_POWER),
            F.when(F.col("__ln") != "",
                   part_grams(F.col("__ln"), B.DEFAULT_ALPHA,
                              B.DEFAULT_POWER)).otherwise(F.array())))
        .select("nn_string", F.explode("__g").alias("g"))
        .groupBy("nn_string",
                 (F.ascii(F.col("g.sh")) * 256
                  + F.ascii(F.substr(F.col("g.sh"), F.lit(2), F.lit(1))))
                 .cast("int").alias("k"))
        .agg(F.sum("g.w").alias("w"))
    )
    old = exploded.groupBy("nn_string").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm2"),
        F.sort_array(F.collect_list(F.struct("k", "w"))).alias("ent"))
    got = new.select(
        "nn_string",
        F.sort_array(F.transform(
            F.map_entries("vec"),
            lambda e: F.struct(e["key"].alias("k"),
                               e["value"].alias("w")))).alias("ent"),
        "norm2")
    j = got.alias("a").join(old.alias("b"), "nn_string")
    assert j.count() == new.count()
    # entries bit-exact; norm2 was an unordered FP sum in r5, so ulps
    assert j.filter(F.col("a.ent") != F.col("b.ent")).count() == 0
    assert j.filter(F.abs(F.col("a.norm2") - F.col("b.norm2"))
                    > 1e-9).count() == 0


def test_cosine_probe_equals_map_zip_with(spark, all_names):
    from namematch_spark.operators import blocking as B
    nn = B.nn_strings(all_names)
    vec = B.weighted_shingle_vectors(nn).localCheckpoint(eager=True)
    pairs = B.lsh_candidates(nn, rows_per_band=6)
    new = B.cosine_verify(pairs, vec).select(
        "nn_string_1", "nn_string_2", "cos_dist")
    # r5 dot: map_zip_with merge + aggregate over values
    v1 = vec.select(F.col("nn_string").alias("nn_string_1"),
                    F.col("vec").alias("__v1"),
                    F.col("norm2").alias("__n1"))
    v2 = vec.select(F.col("nn_string").alias("nn_string_2"),
                    F.col("vec").alias("__v2"),
                    F.col("norm2").alias("__n2"))
    paired = pairs.join(v1, "nn_string_1").join(v2, "nn_string_2")
    prod = F.map_zip_with(
        F.col("__v1"), F.col("__v2"),
        lambda _, x, y: F.coalesce(x, F.lit(0.0))
        * F.coalesce(y, F.lit(0.0)))
    dot = F.aggregate(F.map_values(prod), F.lit(0.0),
                      lambda acc, x: acc + x)
    old = paired.withColumn(
        "cos_dist",
        F.round(1 - dot / F.sqrt(F.col("__n1") * F.col("__n2")), 6)
    ).select("nn_string_1", "nn_string_2", "cos_dist")
    assert new.count() > 0
    assert _sym_diff(new, old) == 0


def test_fused_name_dim_equals_chain(spark, all_names):
    from namematch_spark.operators import blocking as B
    from namematch_spark.operators import nameprob as NP
    from namematch_spark.operators.pairs import (
        _attach_name_prob_features, expand_bs_to_record_pairs)
    an = all_names
    rp = expand_bs_to_record_pairs(
        B.candidate_blockstring_pairs(an), an).localCheckpoint(eager=True)
    B.release_caches()
    anf = an.filter(F.col("drop_from_nm") == 0)
    probs = NP.name_log_probs(anf, NP.ngram_counts(anf)) \
        .localCheckpoint(eager=True)
    dims = {k: v.localCheckpoint(eager=True)
            for k, v in NP.percentile_dims(anf).items()}
    cols = ["dr_id", *[f"{a}_count_pctl_{k}" for a in ("diff", "max")
                       for k in ("name", "fn", "ln")],
            "switched_name",
            "first_name_1", "last_name_1", "first_name_2", "last_name_2"]
    old = NP.swap_repair(NP.pctl_pair_features(rp, dims), probs) \
        .select(*cols)
    new = _attach_name_prob_features(rp, dims, probs).select(*cols)
    B.release_caches()
    assert new.count() == rp.count()
    assert _sym_diff(new, old) == 0


def test_window_cc_equals_groupby_join_cc(spark, all_names):
    from namematch_spark.operators import cluster as C
    from namematch_spark.operators.mustlinks import must_links
    edges = must_links(all_names).select("record_id_1", "record_id_2")
    new = C.connected_components(edges)

    # r5 replica: groupBy+join stars (reference Kiveris alternation)
    e = C._canon_edges(edges).localCheckpoint(eager=True)
    for _ in range(50):
        nbrs = e.union(e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
        m = (nbrs.groupBy("src")
             .agg(F.least(F.min("dst"), F.first("src")).alias("mn")))
        large = (nbrs.join(m, "src")
                 .filter(F.col("dst") > F.col("src"))
                 .select(F.col("mn").alias("src"), F.col("dst"))
                 .filter(F.col("src") != F.col("dst")).distinct())
        dir_e = large.select(F.greatest("src", "dst").alias("src"),
                             F.least("src", "dst").alias("dst"))
        m2 = dir_e.groupBy("src").agg(F.min("dst").alias("mn"))
        small = dir_e.join(m2, "src").select(
            F.col("mn").alias("new_src"), F.col("dst"), F.col("src"))
        new_e = (small.select(F.col("new_src").alias("src"),
                              F.col("dst"))
                 .union(small.select(F.col("new_src").alias("src"),
                                     F.col("src").alias("dst")))
                 .filter(F.col("src") != F.col("dst"))
                 .select(F.least("src", "dst").alias("src"),
                         F.greatest("src", "dst").alias("dst"))
                 .distinct().localCheckpoint(eager=True))
        if _sym_diff(new_e, e) == 0:
            e = new_e
            break
        e = new_e
    old = (e.select(F.col("dst").alias("record_id"),
                    F.col("src").alias("cluster_id"))
           .union(e.select(F.col("src").alias("record_id"),
                           F.col("src").alias("cluster_id")))
           .groupBy("record_id")
           .agg(F.min("cluster_id").alias("cluster_id")))
    assert _sym_diff(new, old) == 0


def test_ngram_length_bound_equals_unpruned_chain(spark):
    """r6: ngram_jaccard_dedup pushes the J ≤ min/max length bound
    before the pair groupBy and carries both sizes out of the
    aggregation (the two per-side sizes joins are gone).  Equal to the
    r5 formulation (no prefilter, sizes joined after the pair agg) on
    the sf0.001 documents corpus — including threshold-boundary pairs."""
    from namematch_spark.operators.dedup import (ngram_jaccard_dedup,
                                                 word_shingles)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    new = ngram_jaccard_dedup(docs, threshold=0.5)

    sh = docs.select(F.col("doc_id"),
                     F.explode(word_shingles("text", 3)).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    postings = sh.groupBy("sh").agg(F.count("*").alias("df"))
    shp = sh.join(postings.filter(F.col("df") > 10000), "sh", "left_anti")
    l, r = shp.alias("l"), shp.alias("r")
    shared = (l.join(r, "sh")
              .filter(F.col("l.doc_id") < F.col("r.doc_id"))
              .groupBy(F.col("l.doc_id").alias("doc_id_1"),
                       F.col("r.doc_id").alias("doc_id_2"))
              .agg(F.count("*").alias("__shared")))
    old = (shared
           .join(sizes.select(F.col("doc_id").alias("doc_id_1"),
                              F.col("n_sh").alias("__n1")), "doc_id_1")
           .join(sizes.select(F.col("doc_id").alias("doc_id_2"),
                              F.col("n_sh").alias("__n2")), "doc_id_2")
           .withColumn("jaccard",
                       F.round(F.col("__shared").cast("double")
                               / (F.col("__n1") + F.col("__n2")
                                  - F.col("__shared")), 6))
           .filter(F.col("jaccard") >= 0.5)
           .select("doc_id_1", "doc_id_2", "jaccard"))
    assert new.count() > 0
    assert _sym_diff(new, old) == 0


@pytest.mark.parametrize("threshold", [0.35, 0.7])
def test_minhash_length_bound_equals_unpruned_chain(spark, threshold):
    """r6: minhash_lsh_dedup carries each document's shingle count
    through the band rows and applies the J ≤ min/max length bound to
    the candidate pairs before the shingle arrays are joined on.  Equal
    to the r5 formulation (2-column distinct, sizes from the joined
    arrays, the ratio filter after the signature joins) on the sf0.001
    documents corpus plus nested prefixes of synthetic documents: a
    prefix's shingles are a subset of the longer text's, so J equals
    the length ratio exactly and pairs sit on the bound itself."""
    from namematch_spark.operators import blocking as B
    from namematch_spark.operators.dedup import (minhash_lsh_dedup,
                                                 word_shingles)
    nested = [(10_000 + 100 * k + n,
               " ".join(f"w{k}x{i}" for i in range(n)))
              for k in range(4) for n in (8, 10, 12, 16, 20, 24, 30, 40)]
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "text")
            .unionByName(spark.createDataFrame(nested,
                                               "doc_id long, text string")))
    num_hashes, rows_per_band, max_bucket = 16, 2, 5000
    new = minhash_lsh_dedup(docs, threshold=threshold,
                            num_hashes=num_hashes,
                            rows_per_band=rows_per_band,
                            max_bucket=max_bucket)

    hs = F.transform(word_shingles("text", 3), lambda s: F.pmod(
        B.portable_hash64(s), F.lit(B.MERSENNE_P)))
    base = (docs.select("doc_id", hs.alias("__hs"))
            .filter(F.size("__hs") > 0))
    sig = base.select("doc_id", "__hs", F.array(*[
        F.array_min(F.transform("__hs", lambda h: F.pmod(
            F.lit(a) * h + F.lit(b), F.lit(B.MERSENNE_P))))
        for a, b in B._lcg_pairs(num_hashes)]).alias("__sig"))
    band_rows = sig.select("doc_id", F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes // rows_per_band - 1)),
        lambda bnd: F.struct(bnd.alias("band"), F.concat_ws("_", F.slice(
            "__sig", bnd * rows_per_band + 1, rows_per_band))
            .alias("bkey")))).alias("bb")) \
        .select("doc_id", "bb.band", "bb.bkey")
    sizes = band_rows.groupBy("band", "bkey").agg(F.count("*").alias("n"))
    pruned = (band_rows.join(sizes, ["band", "bkey"])
              .filter((F.col("n") > 1) & (F.col("n") <= max_bucket)))
    l, r = pruned.alias("l"), pruned.alias("r")
    cand = (l.join(r, ["band", "bkey"])
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("doc_id_1"),
                    F.col("r.doc_id").alias("doc_id_2"))
            .distinct())
    n1, n2 = F.size("__h1"), F.size("__h2")
    old = (cand
           .join(sig.select(F.col("doc_id").alias("doc_id_1"),
                            F.col("__hs").alias("__h1")), "doc_id_1")
           .join(sig.select(F.col("doc_id").alias("doc_id_2"),
                            F.col("__hs").alias("__h2")), "doc_id_2")
           .filter(F.round(F.least(n1, n2).cast("double")
                           / F.greatest(n1, n2), 6) >= threshold)
           .withColumn("__i", F.size(F.array_intersect("__h1", "__h2")))
           .withColumn("jaccard", F.round(
               F.col("__i").cast("double") / (n1 + n2 - F.col("__i")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("doc_id_1", "doc_id_2", "jaccard"))
    assert new.count() > 0
    assert _sym_diff(new, old) == 0
