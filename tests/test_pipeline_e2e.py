"""End-to-end: full pipeline on the tiny fixture corpus must reach the north
rule's pairwise F1 >= 0.99 on labeled pairs, produce frozen golden clusters,
and resume idempotently after a simulated kill."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline
from entity_matching_in_online_retail_spark.sources import manifest as MF

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "clusters_tiny.json")


@pytest.fixture(scope="module")
def run(spark, tiny_spark, tmp_path_factory):
    pages, labeled, truth = tiny_spark
    wd = str(tmp_path_factory.mktemp("e2e"))
    pipe = ERPipeline(spark, wd)
    res = pipe.run(pages, labeled_urls=labeled)
    return pipe, res, wd


def test_f1_gate(run):
    _, res, _ = run
    assert res.metrics is not None
    assert res.metrics.f1 >= 0.99, (
        f"F1={res.metrics.f1} (P={res.metrics.precision}, R={res.metrics.recall})"
    )


def test_clusters_match_truth(run, spark, tiny_spark):
    """Cluster partition vs ground-truth entities: pairwise agreement on the
    en subset (identical partitions up to cluster-id naming)."""
    pages, _, truth = tiny_spark
    _, res, _ = run
    offers_ids = res.clusters
    urls = spark.read.parquet  # noqa: unused — clusters carry record_id only
    # map truth urls -> record ids
    from entity_matching_in_online_retail_spark.operators.normalize import normalize_web_pages

    off = normalize_web_pages(pages, lang="en", use_html=True).select("url", "record_id")
    t = truth.join(off, "url").select("record_id", "entity_id")
    j = t.join(res.clusters, "record_id")
    # same-entity pairs should be same-cluster and vice versa: compare the
    # number of discordant (entity, cluster) co-assignments
    ent_pairs = j.groupBy("entity_id").agg(F.count("*").alias("n"), F.countDistinct("cluster_id").alias("k"))
    split_entities = ent_pairs.where((F.col("n") > 1) & (F.col("k") > 1)).count()
    cl_pairs = j.groupBy("cluster_id").agg(F.count("*").alias("n"), F.countDistinct("entity_id").alias("k"))
    merged_clusters = cl_pairs.where((F.col("n") > 1) & (F.col("k") > 1)).count()
    assert merged_clusters == 0, "clusters merging distinct entities"
    assert split_entities <= 1, f"{split_entities} entities split across clusters"


def test_clusters_golden_frozen(run):
    _, res, _ = run
    rows = sorted(
        (int(r["record_id"]), int(r["cluster_id"])) for r in res.clusters.collect()
    )
    if not os.path.exists(GOLDEN):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(rows, f)
    with open(GOLDEN) as f:
        golden = [tuple(x) for x in json.load(f)]
    assert rows == golden


def test_resume_after_kill_identical(run, spark, tiny_spark):
    """Simulated kill after the pairs stage: wipe scores manifests + clusters,
    re-run, outputs identical and earlier stages not recomputed."""
    pipe, res, wd = run
    before = sorted(
        (int(r["record_id"]), int(r["cluster_id"])) for r in res.clusters.collect()
    )
    offers_marker = MF.partition_marker_path(wd, "offers", 0)
    mtime_before = os.path.getmtime(offers_marker)

    MF.clear_stage(wd, "scores")
    shutil.rmtree(os.path.join(wd, "clusters"), ignore_errors=True)

    pages, labeled, _ = tiny_spark
    res2 = pipe.run(pages, labeled_urls=labeled)
    after = sorted(
        (int(r["record_id"]), int(r["cluster_id"])) for r in res2.clusters.collect()
    )
    assert before == after
    assert os.path.getmtime(offers_marker) == mtime_before  # offers not recomputed
    assert res2.metrics.f1 >= 0.99


def test_full_rebuild_clears_stale_partitions(spark, tmp_path):
    """Lineage change -> full rebuild must wipe the stage data dir: dynamic
    partition overwrite only rewrites part_ids present in the NEW data, so a
    now-empty partition would otherwise keep rows from the old lineage."""
    pipe = ERPipeline(spark, str(tmp_path))

    def build_v1():
        return spark.createDataFrame(
            [(1, "a", 0), (2, "b", 1)], "id long, v string, part_id int"
        )

    assert pipe._checkpoint_stage("toy", "lineage-v1", build_v1).count() == 2

    def build_v2():  # part 1 is empty under the new lineage
        return spark.createDataFrame([(3, "c", 0)], "id long, v string, part_id int")

    got = {
        (r["id"], r["part_id"])
        for r in pipe._checkpoint_stage("toy", "lineage-v2", build_v2).collect()
    }
    assert got == {(3, 0)}, f"stale rows leaked into rebuilt stage: {got}"


def test_manifests_carry_lineage_and_metrics(run):
    pipe, _, wd = run
    all_m = MF.read_all_metrics(wd)
    stages = {m["stage"] for m in all_m}
    assert {"offers", "attrs", "pairs", "scores"} <= stages
    for m in all_m:
        assert m["config_hash"] == pipe.cfg_hash
        assert "rows" in m["metrics"] and "checksum" in m["metrics"]
    total_offers = sum(m["metrics"]["rows"] for m in all_m if m["stage"] == "offers")
    assert total_offers > 0


def test_torn_model_save_retrains(run, spark, tiny_spark, tmp_path, monkeypatch):
    """A crash half-way through saving model.json must not break the resume:
    the next train_or_load retrains (model.json is committed atomically) and
    returns the matcher an uninterrupted run trained, and the call after
    that loads it instead of training again."""
    from entity_matching_in_online_retail_spark.operators import model as M
    from entity_matching_in_online_retail_spark.plans import evaluate as EV

    base, res, run_wd = run
    pages, labeled, _ = tiny_spark
    attrs = base.catalog.read("attrs")
    labeled_ids = EV.labeled_pairs_to_ids(labeled, base.catalog.read("offers"))
    lineage = MF.stage_fingerprint(run_wd, "attrs")
    pipe = ERPipeline(spark, str(tmp_path))

    real_dump = json.dump

    def torn_dump(obj, f, *args, **kwargs):
        if os.path.basename(getattr(f, "name", "")).startswith("model.json"):
            text = json.dumps(obj)
            f.write(text[: len(text) // 2])
            raise OSError("simulated crash mid-write")
        return real_dump(obj, f, *args, **kwargs)

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="simulated crash"):
        pipe.train_or_load(labeled_ids, attrs, lineage)
    monkeypatch.setattr(json, "dump", real_dump)

    def check(got):
        matcher, tau = got
        assert matcher.feature_cols == res.model.feature_cols
        assert matcher.coefficients == pytest.approx(res.model.coefficients, rel=1e-6)
        assert matcher.intercept == pytest.approx(res.model.intercept, rel=1e-6)
        assert tau == pytest.approx(res.threshold)

    check(pipe.train_or_load(labeled_ids, attrs, lineage))

    def no_training(*a, **k):
        raise AssertionError("retrained although model.json was committed")

    monkeypatch.setattr(M, "train_matcher", no_training)
    check(pipe.train_or_load(labeled_ids, attrs, lineage))
