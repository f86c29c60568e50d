"""Clustering semantics: connected-components fixture (reference
``tests/unit/test_cluster.py:8-33``), constraint behavior of the greedy
replay (uid conflicts block merges; leven_thresh tolerates near uids)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from namematch_spark.operators.cluster import (connected_components,
                                               constrained_clusters)

EDGE_SCHEMA = "record_id_1 string, record_id_2 string"


def test_cc_fixture(spark):
    # A-B, A-C, D-E; F isolated  -> 3 clusters + singleton
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("D", "E")], EDGE_SCHEMA)
    nodes = spark.createDataFrame(
        [(x,) for x in "ABCDEF"], "record_id string")
    res = {r["record_id"]: r["cluster_id"]
           for r in connected_components(edges, nodes).collect()}
    assert res == {"A": "A", "B": "A", "C": "A",
                   "D": "D", "E": "D", "F": "F"}


def _an(spark, rows):
    return spark.createDataFrame(
        rows, "record_id string, uid string, drop_from_nm int")


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, ("dr_id string, record_id_1 string, record_id_2 string, "
               "uid_1 string, uid_2 string, gt int, phat double"))


def _ml_empty(spark):
    return spark.createDataFrame([], EDGE_SCHEMA)


def test_uid_conflict_blocks_merge(spark):
    # A(uid=1) - B(uid="") - C(uid=2): transitively connected, but a
    # cluster {A,B,C} would carry two distinct uids -> greedy replay
    # must split it; B joins whichever side ranks first by phat.
    an = _an(spark, [("A", "1", 0), ("B", "", 0), ("C", "2", 0)])
    edges = _edges(spark, [
        ("A__B", "A", "B", "1", "", 0, 0.95),
        ("B__C", "B", "C", "", "2", 0, 0.90)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an).collect()}
    assert res["A"] == res["B"]          # higher phat merges first
    assert res["C"] != res["A"]          # blocked by uid conflict


def test_oversized_dirty_component_falls_back_to_cc(spark):
    # the uid-conflict chain A-B-C (2 edges) and D-E-F (3 edges, one a
    # duplicate) are both dirty; with max_component=2 only D-E-F is
    # oversized: it keeps its unconstrained CC id and is reported,
    # while A-B-C is still split by the replay
    an = _an(spark, [("A", "1", 0), ("B", "", 0), ("C", "2", 0),
                     ("D", "1", 0), ("E", "", 0), ("F", "2", 0)])
    edges = _edges(spark, [
        ("A__B", "A", "B", "1", "", 0, 0.95),
        ("B__C", "B", "C", "", "2", 0, 0.90),
        ("D__E", "D", "E", "1", "", 0, 0.95),
        ("E__F", "E", "F", "", "2", 0, 0.90),
        ("E__F2", "E", "F", "", "2", 0, 0.85)])
    metrics: dict = {}
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, max_component=2,
               metrics=metrics).collect()}
    assert res["A"] == res["B"] != res["C"]
    assert res["D"] == res["E"] == res["F"] == "D"
    assert metrics == {"oversized_components": 1, "oversized_records": 3}


def test_allow_multiple_uids_admits_flipped0(spark):
    # reference allow_clusters_w_multiple_unique_ids
    # (cluster.py:242-245, 299-300): the automated uid veto is off, so
    # a flipped-0 edge (labeled 0 = different uids, scored high) merges
    an = _an(spark, [("A", "1", 0), ("B", "2", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "1", "2", 0, 0.97)])
    strict = {r["record_id"]: r["cluster_id"]
              for r in constrained_clusters(
                  edges, _ml_empty(spark), an,
                  leven_thresh=None).collect()}
    assert strict["A"] != strict["B"]
    loose = {r["record_id"]: r["cluster_id"]
             for r in constrained_clusters(
                 edges, _ml_empty(spark), an, leven_thresh=None,
                 allow_multiple_uids=True).collect()}
    assert loose["A"] == loose["B"]


def test_allow_multiple_uids_keeps_eid_and_user_constraints(spark):
    # the eid (ExistingID) auto constraint still applies under
    # allow_multiple_uids (reference cluster.py:291-296)
    an = spark.createDataFrame(
        [("A", "1", "e1", 0), ("B", "2", "e2", 0)],
        "record_id string, uid string, eid string, drop_from_nm int")
    edges = _edges(spark, [("A__B", "A", "B", "1", "2", 0, 0.97)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, leven_thresh=None,
               eid_col="eid", allow_multiple_uids=True).collect()}
    assert res["A"] != res["B"]


def test_uid_conflict_tolerated_with_leven_thresh(spark):
    an = _an(spark, [("A", "100", 0), ("B", "101", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "100", "101", 0, 0.99)])
    strict = {r["record_id"]: r["cluster_id"]
              for r in constrained_clusters(
                  edges, _ml_empty(spark), an,
                  leven_thresh=None).collect()}
    assert strict["A"] != strict["B"]
    tol = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, leven_thresh=1).collect()}
    assert tol["A"] == tol["B"]


def test_multi_uid_edge_and_cluster_constraint(spark):
    # reference auto_is_valid_edge over SEVERAL UniqueID variables
    # (cluster.py:246-270): an edge is invalid only when EVERY
    # both-known variable conflicts; auto_is_valid_cluster
    # (cluster.py:304-324) loops per variable — ANY violating variable
    # splits the cluster.
    an2uid = spark.createDataFrame(
        [("A", "1", "X", 0), ("B", "2", "X", 0),   # uid conflict, uid2 agree
         ("C", "3", "Y", 0), ("D", "4", "Z", 0)],  # conflict on BOTH
        "record_id string, uid string, uid2 string, drop_from_nm int")

    def edges(rows):
        return spark.createDataFrame(
            rows, ("dr_id string, record_id_1 string, record_id_2 "
                   "string, gt int, phat double"))

    # A-B: uid disagrees but uid2 agrees -> attempts=2, violations=1
    # -> edge VALID; then the per-variable cluster constraint fires on
    # uid (n_uid > 1) -> merge blocked in the replay
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges([("A__B", "A", "B", 0, 0.95)]), _ml_empty(spark),
               an2uid, leven_thresh=None,
               uid_cols=["uid", "uid2"]).collect()}
    assert res["A"] != res["B"]

    # C-D: both variables conflict -> edge invalid (pre-CC veto)
    res2 = {r["record_id"]: r["cluster_id"]
            for r in constrained_clusters(
                edges([("C__D", "C", "D", 0, 0.95)]), _ml_empty(spark),
                an2uid, leven_thresh=None,
                uid_cols=["uid", "uid2"]).collect()}
    assert res2["C"] != res2["D"]

    # same uid, uid2 missing on one side -> clean merge
    an_ok = spark.createDataFrame(
        [("E", "5", "W", 0), ("F", "5", "", 0)],
        "record_id string, uid string, uid2 string, drop_from_nm int")
    res3 = {r["record_id"]: r["cluster_id"]
            for r in constrained_clusters(
                edges([("E__F", "E", "F", 0, 0.95)]), _ml_empty(spark),
                an_ok, leven_thresh=None,
                uid_cols=["uid", "uid2"]).collect()}
    assert res3["E"] == res3["F"]


def test_mustlinks_multi_union(spark):
    from namematch_spark.operators.mustlinks import must_links
    an = spark.createDataFrame(
        [("A", "1", "",  "bA", 0),
         ("B", "1", "x", "bB", 0),     # A-B via uid
         ("C", "",  "x", "bC", 0),     # B-C via uid2
         ("D", "2", "y", "bD", 0)],    # linked to nobody
        "record_id string, uid string, uid2 string, "
        "blockstring string, drop_from_nm int")
    got = {(r["record_id_1"], r["record_id_2"])
           for r in must_links(an, uid_col=["uid", "uid2"]).collect()}
    assert got == {("A", "B"), ("B", "C")}
    # single-var call unchanged
    got1 = {(r["record_id_1"], r["record_id_2"])
            for r in must_links(an).collect()}
    assert got1 == {("A", "B")}


def test_user_constraint_hook(spark):
    # user is_valid_cluster can veto any merge
    an = _an(spark, [("A", "1", 0), ("B", "1", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "1", "1", 1, 1.0)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an,
               is_valid_cluster=lambda uids: False).collect()}
    # constraint fires only in the replay path (dirty components);
    # a single-uid component is clean, so A-B merge stands
    assert res["A"] == res["B"]

    an2 = _an(spark, [("A", "1", 0), ("B", "2", 0)])
    edges2 = _edges(spark, [("A__B", "A", "B", "1", "2", 0, 1.0)])
    res2 = {r["record_id"]: r["cluster_id"]
            for r in constrained_clusters(
                edges2, _ml_empty(spark), an2, leven_thresh=1,
                is_valid_cluster=lambda uids: False).collect()}
    assert res2["A"] != res2["B"]        # vetoed in replay


def test_mustlink_edges_in_dirty_component(spark):
    # A(uid=1) -gt- B(uid=1), B -0.9- C(uid=2).  The component is dirty
    # (2 uids).  The replay must take uids from the all-names table: if
    # it trusted edge metadata, the gt edge (no uids) would blank A/B's
    # uid and the B-C merge would slip through the auto constraint
    # (ADVICE r1, high).
    an = _an(spark, [("A", "1", 0), ("B", "1", 0), ("C", "2", 0)])
    edges = _edges(spark, [("B__C", "B", "C", "1", "2", 0, 0.9)])
    ml = spark.createDataFrame([("A", "B")], EDGE_SCHEMA)
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(edges, ml, an).collect()}
    assert res["A"] == res["B"]          # must-link honored
    assert res["C"] != res["A"]          # uid conflict still enforced


def test_gt_edge_bypasses_user_constraint(spark):
    # the user hook rejects everything, but a gt (must-link) edge must
    # still merge (reference: ``edge_is_gt or is_valid_cluster``); the
    # component is made dirty via an extra uid so the replay runs.
    an = _an(spark, [("A", "1", 0), ("B", "1", 0), ("C", "2", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "1", "1", 1, 1.0),
                           ("B__C", "B", "C", "1", "2", 0, 0.9)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an,
               is_valid_cluster=lambda uids: False).collect()}
    assert res["A"] == res["B"]          # gt merge bypasses user veto
    assert res["C"] != res["A"]          # non-gt merge vetoed


def test_constraints_is_valid_link(spark):
    # user edge veto (reference default_constraints.py:5-23): reject
    # edges whose two uids differ in parity; applied pre-CC, so the
    # vetoed edge cannot even glue a component together
    from namematch_spark.constraints import Constraints
    an = _an(spark, [("A", "2", 0), ("B", "4", 0), ("C", "3", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "2", "4", 0, 0.99),
                           ("B__C", "B", "C", "4", "3", 0, 0.98)])
    cons = Constraints(
        get_columns_used=lambda: {"uid": "str"},
        is_valid_link=lambda df: (df["uid_1"].astype(int) % 2)
        == (df["uid_2"].astype(int) % 2))
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, leven_thresh=3,
               constraints=cons).collect()}
    assert res["A"] == res["B"]          # same parity -> kept
    assert res["C"] != res["B"]          # vetoed edge


def test_constraints_link_priority_and_cluster_df(spark):
    # apply_link_priority reverses the default order, so the LOWER-phat
    # edge merges first and the uid constraint then blocks the other;
    # is_valid_cluster receives the member records as a DataFrame
    from namematch_spark.constraints import Constraints
    an = _an(spark, [("A", "1", 0), ("B", "", 0), ("C", "2", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "1", "", 0, 0.95),
                           ("B__C", "B", "C", "", "2", 0, 0.90)])
    seen_sizes = []

    def validate(cluster_df, phat):
        seen_sizes.append(len(cluster_df))
        return True

    cons = Constraints(
        get_columns_used=lambda: {"uid": "str"},
        apply_link_priority=lambda df: df.sort_values(
            ["phat", "original_order"], ascending=[True, True]),
        is_valid_cluster=validate)
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an,
               constraints=cons).collect()}
    assert res["B"] == res["C"]          # lower phat first under reversal
    assert res["A"] != res["B"]          # then blocked by uid conflict


def test_auto_edge_filter_truth_table(spark):
    # reference edge-validity truth table (tests/unit/test_cluster.py:
    # 36-67): both-uids-known-and-different edges are invalid unless
    # within leven_thresh
    an = _an(spark, [("A", "100", 0), ("B", "101", 0),
                     ("C", "200", 0), ("D", "999", 0)])
    edges = _edges(spark, [("A__B", "A", "B", "100", "101", 0, 0.9),
                           ("C__D", "C", "D", "200", "999", 0, 0.9)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, leven_thresh=1).collect()}
    assert res["A"] == res["B"]          # lev(100,101)=1 <= thresh
    assert res["C"] != res["D"]          # lev(200,999)=3 -> invalid edge


def test_incremental_existing_ids(spark):
    # month-2 run seeded from month-1 cluster ids (reference
    # cluster.py:140-144,364-381): records with an ExistingID keep it,
    # new records join via edges, and two different prior clusters can
    # never merge (one eid per cluster).
    an = spark.createDataFrame(
        [("A", "", 0, "cl1"), ("B", "", 0, "cl1"),
         ("C", "", 0, ""), ("D", "", 0, "cl2")],
        "record_id string, uid string, drop_from_nm int, eid string")
    edges = _edges(spark, [("B__C", "B", "C", "", "", 0, 0.9),
                           ("C__D", "C", "D", "", "", 0, 0.85)])
    res = {r["record_id"]: r["cluster_id"]
           for r in constrained_clusters(
               edges, _ml_empty(spark), an, eid_col="eid").collect()}
    assert res["A"] == res["B"] == "cl1"   # prior cluster id stable
    assert res["C"] == "cl1"               # new record joins it
    assert res["D"] == "cl2"               # two eids never merge


def test_min_id_convention(spark):
    edges = spark.createDataFrame([("Z", "M"), ("M", "B")], EDGE_SCHEMA)
    res = {r["record_id"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert set(res.values()) == {"B"}


def _union_find_min(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Reference components: union-find, each labeled by its min id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _path(n: int) -> list[tuple[str, str]]:
    """A path through n nodes in scrambled id order: its diameter makes
    the star rounds take several iterations to converge."""
    ids = [f"n{(i * 37) % n:03d}" for i in range(n)]
    return list(zip(ids, ids[1:]))


@pytest.mark.parametrize("edges", [
    _path(97),
    # two stars sharing a leaf: roots 1 and 2 still need merging
    [("1", "5"), ("2", "5")],
    # already a star forest rooted at each component's min id
    [("1", "2"), ("1", "3"), ("1", "4"), ("6", "7"), ("6", "8")],
], ids=["long_path", "stars_sharing_a_leaf", "star_forest"])
def test_cc_converges_to_union_find(spark, edges):
    """The CC loop stops at the first round whose output edge set equals
    its input; that fixed point must be the true components."""
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    got = {r["record_id"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert got == _union_find_min(edges)
