"""End-to-end quality gate: pairwise F1 >= 0.99 on labeled pairs at the
fixed blocking key (BASELINE.json), blocking pair completeness, and
checkpoint/resume semantics."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def result(pipeline_result):
    # session-scoped single pipeline run (conftest) — shared with the
    # feature-invariant tests so the sf0.001 pipeline builds ONCE
    return pipeline_result


def test_f1_gate(result):
    pw = result.metrics["pairwise"]
    assert pw["f1"] >= 0.99, pw


def test_pair_completeness(result):
    # U3 uncovered-pair injection (reference block.py:872-904): every
    # ground-truth pair blocking missed is appended to the candidate
    # stream, so data-row pair completeness on gt pairs is EXACTLY 1.0
    assert result.metrics["pair_completeness"] == 1.0
    assert "covered_pair" in result.data_rows.columns


def test_pair_completeness_without_injection(result):
    # the covered_pair==1 subset of the data rows IS the pre-injection
    # candidate expansion (injection only appends covered_pair=0 rows;
    # the anti-join is order-normalized so nothing duplicates) — so the
    # blocking quality gate is checkable from the shared result
    from namematch_spark.operators import blocking as B
    ml = result.must_links.filter((F.col("drop_from_nm_1") == 0)
                                  & (F.col("drop_from_nm_2") == 0))
    raw = B.pair_completeness(
        result.data_rows.filter(F.col("covered_pair") == 1)
        .select("record_id_1", "record_id_2"), ml)
    assert raw >= 0.99          # blocking alone (pre-injection)
    # injection closes the gap exactly (= metrics["pair_completeness"])
    assert result.metrics["pair_completeness"] == 1.0


def test_f1_vs_true_entities(result, spark):
    """Pairwise F1 vs the FULL hidden ground truth (``true_entity`` —
    every record, not just the ~2/3 with a revealed uid), at the same
    blocking key: for every candidate pair, predicted co-cluster vs
    true co-entity.  The BASELINE gate's reference-cluster comparison
    cannot literally run here (the reference needs sklearn + nmslib,
    absent from this environment, no installs allowed); the true-entity
    partition is the partition the reference pipeline is itself judged
    against, so matching it at F1 ≥ 0.99 is the strongest available
    evidence."""
    from namematch_spark.sources.records import person_records
    te = person_records(result.clusters.sparkSession, SF_SMALL) \
        .select("record_id", "true_entity")
    cl = result.clusters
    pairs = (
        result.data_rows.select("record_id_1", "record_id_2")
        .join(te.select(F.col("record_id").alias("record_id_1"),
                        F.col("true_entity").alias("__t1")),
              "record_id_1")
        .join(te.select(F.col("record_id").alias("record_id_2"),
                        F.col("true_entity").alias("__t2")),
              "record_id_2")
        .join(cl.select(F.col("record_id").alias("record_id_1"),
                        F.col("cluster_id").alias("__c1")),
              "record_id_1")
        .join(cl.select(F.col("record_id").alias("record_id_2"),
                        F.col("cluster_id").alias("__c2")),
              "record_id_2"))
    row = pairs.agg(
        F.sum(((F.col("__t1") == F.col("__t2"))
               & (F.col("__c1") == F.col("__c2"))).cast("int"))
        .alias("tp"),
        F.sum(((F.col("__t1") != F.col("__t2"))
               & (F.col("__c1") == F.col("__c2"))).cast("int"))
        .alias("fp"),
        F.sum(((F.col("__t1") == F.col("__t2"))
               & (F.col("__c1") != F.col("__c2"))).cast("int"))
        .alias("fn")).first()
    tp, fp, fn = row["tp"], row["fp"], row["fn"]
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    f1 = 2 * prec * rec / (prec + rec)
    assert f1 >= 0.99, (tp, fp, fn, f1)


def test_clusters_det_golden_fixture(spark):
    """Pinned golden: the deterministic-score clustering at sf0.001
    (the er_clusters_det contract input) must reproduce the committed
    fixture exactly — regression protection for the greedy replay,
    CC, veto and triage, independent of the driver's oracle run."""
    import csv
    import __spark_entry__ as E
    got = {r["record_id"]: r["cluster_id"]
           for r in E.q_er_clusters_det(spark, SF_SMALL).collect()}
    fixture = os.path.join(os.path.dirname(__file__), "fixtures",
                           "clusters_det_sf0001.csv")
    with open(fixture) as f:
        want = {row["record_id"]: row["cluster_id"]
                for row in csv.DictReader(f)}
    assert got == want


def test_cluster_count_sane(result):
    # 150 true entities at sf0.001; allow small slack
    n = result.metrics["n_clusters"]
    assert 140 <= n <= 165, n


def test_every_record_assigned(result, all_names):
    n_rec = all_names.filter(F.col("drop_from_nm") == 0).count()
    assert result.clusters.count() == n_rec
    assert result.clusters.filter(F.col("cluster_id").isNull()).count() == 0


def test_output_and_report(result, tmp_path):
    from namematch_spark.operators.output import all_names_with_clusterid
    from namematch_spark.operators.report import generate_report
    out = all_names_with_clusterid(result.all_names, result.clusters)
    assert "cluster_id" in out.columns
    assert not [c for c in out.columns if c.startswith("tmp_raw__")]
    # raw values restored: some last names regain their hyphen
    assert out.filter(F.col("last_name").contains("-")).count() > 0
    path = generate_report(result, str(tmp_path / "report"))
    text = open(path).read()
    assert "Matching report" in text and "Cluster size" in text
    import json
    info = json.load(open(str(tmp_path / "report" / "nm_info.json")))
    assert info["counts"]["clusters"] > 0


def test_checkpoint_append(spark, tmp_path):
    from namematch_spark.checkpoint import CheckpointManager
    ck = CheckpointManager(str(tmp_path / "cka"))
    b1 = spark.range(10).withColumn("v", F.col("id"))
    b2 = spark.range(10, 25).withColumn("v", F.col("id"))
    assert ck.append("stream_stage", b1).count() == 10
    out = ck.append("stream_stage", b2)
    assert out.count() == 25
    assert ck.manifest["stream_stage"]["rows"] == 25
    assert ck.manifest["stream_stage"]["batches"] == 2
    # the entry keeps one lineage row per data file, tagged with the
    # batch that wrote it
    parts = ck.manifest["stream_stage"]["partitions"]
    assert {b: sum(p["rows"] for p in parts if p["batch"] == b)
            for b in (1, 2)} == {1: 10, 2: 15}
    assert sorted(p["file"] for p in parts) == sorted(
        f for f in os.listdir(ck.stage_path("stream_stage"))
        if f.startswith("part-")
        and pq.read_metadata(os.path.join(ck.stage_path("stream_stage"),
                                          f)).num_rows > 0)


def test_checkpoint_append_counts_uncommitted_files(spark, tmp_path):
    # a run killed after Spark committed a batch but before the manifest
    # commit leaves files without an entry: the next append must count
    # them, so ``rows`` agrees with what the stage reads back
    from namematch_spark.checkpoint import CheckpointManager
    ck = CheckpointManager(str(tmp_path / "cku"))
    ck.append("s", spark.range(10))
    ck.manifest.pop("s")
    ck._save_manifest()
    out = ck.append("s", spark.range(10, 17))
    assert ck.manifest["s"]["rows"] == out.count() == 17
    # a direct write into the directory is counted the same way
    spark.range(3).write.mode("append").parquet(ck.stage_path("s"))
    out = ck.append("s", spark.range(4))
    assert ck.manifest["s"]["rows"] == out.count() == 24
    assert ck.manifest["s"]["batches"] == 2


def test_checkpoint_resume(spark, tmp_path):
    from namematch_spark.checkpoint import CheckpointManager
    ck = CheckpointManager(str(tmp_path / "ck"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = ck.write("stage_a", df, fingerprint="f1")
    assert out1.count() == 100
    assert ck.manifest["stage_a"]["rows"] == 100

    calls = []

    def compute():
        calls.append(1)
        return df

    # same fingerprint -> no recompute
    ck2 = CheckpointManager(str(tmp_path / "ck"))
    out2 = ck2.load_or_compute(spark, "stage_a", compute, fingerprint="f1")
    assert out2.count() == 100 and calls == []
    # changed fingerprint -> recompute
    out3 = ck2.load_or_compute(spark, "stage_a", compute, fingerprint="f2")
    assert out3.count() == 100 and calls == [1]
    # downstream invalidation
    ck2.write("stage_b", df, fingerprint="x")
    ck2.invalidate_downstream(["stage_a", "stage_b"], "stage_a")
    assert "stage_b" not in ck2.manifest


def _readback_lineage(spark, path: str) -> tuple[list, str]:
    """The formulation the footer lineage replaced: rows per input file
    from a grouped read-back of the written stage."""
    back = spark.read.parquet(path)
    counts = (back.groupBy(F.input_file_name().alias("file"))
              .agg(F.count("*").alias("rows")).collect())
    return (sorted((os.path.basename(r["file"]), r["rows"])
                   for r in counts),
            back.schema.simpleString())


@pytest.mark.parametrize("frame", ["one_empty_partition", "empty",
                                   "single_file"])
def test_footer_lineage_equals_readback(spark, tmp_path, frame):
    from namematch_spark.checkpoint import CheckpointManager
    base = {"one_empty_partition": spark.range(0, 40, 1, 4)
            .filter(F.col("id") >= 10),          # partition 0 is empty
            "empty": spark.range(0, 40, 1, 4).filter(F.col("id") < 0),
            "single_file": spark.range(0, 25, 1, 1)}[frame]
    df = base.select("id", F.col("id").cast("string").alias("s"),
                     (F.col("id") / 3).alias("x"))
    ck = CheckpointManager(str(tmp_path / "ck"))
    out = ck.write("stage", df, fingerprint="f")
    entry = ck.manifest["stage"]
    parts, schema = _readback_lineage(spark, ck.stage_path("stage"))
    assert sorted((p["file"], p["rows"]) for p in entry["partitions"]) \
        == parts
    assert entry["rows"] == sum(n for _, n in parts) == out.count()
    assert entry["schema"] == schema
    # the stored schema reads back as schema inference would
    resumed = CheckpointManager(str(tmp_path / "ck")).load_or_compute(
        spark, "stage", lambda: 1 / 0, fingerprint="f")
    assert resumed.schema == out.schema \
        == spark.read.parquet(ck.stage_path("stage")).schema


class _Artifact:
    """A model whose ``save`` writes in two steps and, with ``fail``,
    dies between them, as a run killed mid-save would."""

    def __init__(self, tag: str, fail: bool = False):
        self.tag, self.fail = tag, fail

    def save(self, path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "trees"), "w") as f:
            f.write(self.tag)
        if self.fail:
            raise OSError("killed mid-save")
        with open(os.path.join(path, "metadata"), "w") as f:
            f.write(self.tag)


def _load_artifact(path: str) -> str:
    assert os.path.exists(os.path.join(path, "metadata")), \
        "a partially written model was loaded"
    return open(os.path.join(path, "trees")).read()


def test_save_model_is_atomic(tmp_path, monkeypatch):
    from namematch_spark import checkpoint
    from namematch_spark.checkpoint import CheckpointManager
    root = str(tmp_path / "ckm")

    def resumed(fp):
        # a resumed run reads the manifest back from disk
        return CheckpointManager(root).load_model("m", _load_artifact, fp)

    ck = CheckpointManager(root)
    with pytest.raises(OSError):
        ck.save_model("m", _Artifact("v1", fail=True), {"t": 1}, "f1")
    assert resumed("f1") == (None, None)
    ck.save_model("m", _Artifact("v1"), {"t": 1}, "f1")
    assert resumed("f1") == ("v1", {"t": 1})
    # a later save dies partway: the previous complete model stays
    with pytest.raises(OSError):
        ck.save_model("m", _Artifact("v2", fail=True), {"t": 2}, "f2")
    assert resumed("f1") == ("v1", {"t": 1})
    assert resumed("f2") == (None, None)
    # killed while the new artifact replaces the old one: no model
    real_replace = checkpoint.os.replace

    def dies_on_swap(src, dst):
        if src.endswith(".tmp-m"):
            raise OSError("killed mid-swap")
        real_replace(src, dst)
    monkeypatch.setattr(checkpoint.os, "replace", dies_on_swap)
    with pytest.raises(OSError):
        ck.save_model("m", _Artifact("v2"), {"t": 2}, "f2")
    monkeypatch.undo()
    assert resumed("f1") == (None, None)
    assert resumed("f2") == (None, None)
    ck.save_model("m", _Artifact("v2"), {"t": 2}, "f2")
    assert resumed("f2") == ("v2", {"t": 2})


#: Spark jobs of a checkpointed resume from the data-rows stage on the
#: sf0.001 fixture: load the four stages, fit and save both match
#: models, score, cluster and commit.  Commits with a read-back and the
#: signature-checked CC loop took 97 jobs here; footer lineage,
#: stored schemas, the shared labeled count and the exact CC fixed-point
#: test bring it to the ceiling below.  Raise it only for a new stage.
RESUME_JOB_CEILING = 45


def test_checkpointed_resume_job_ceiling(spark, tmp_path):
    from namematch_spark.pipeline import PipelineConfig, run_pipeline
    from namematch_spark.sources.records import person_records
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"))
    records = person_records(spark, SF_SMALL)
    run_pipeline(records, cfg, stop_after="data_rows")
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        return max(tracker.getJobIdsForGroup(None) or [-1])
    before = last_job()
    res = run_pipeline(records, cfg)
    jobs = last_job() - before
    assert set(res.metrics["stages"]) >= {"data_rows", "clusters"}
    assert jobs <= RESUME_JOB_CEILING, jobs
