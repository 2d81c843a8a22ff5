"""Chained appends (plans/append.py::append_batch): successive batches
must land on exactly the labels a single batch run over everything produces
(frozen base IDF), later batches must match against earlier increments, a
crash between the increment write and the clusters write must self-heal on
the next append, appends must be O(increment) (no IDF refit, no corpus-wide
block-key recompute), and compaction must fold increments into the base
stores without changing any label. A workdir missing the persisted
artifacts is rejected, not silently refit."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
from entity_matching_in_online_retail_spark.functions import similarity as S
from entity_matching_in_online_retail_spark.operators import blocking as B
from entity_matching_in_online_retail_spark.operators import cluster as C
from entity_matching_in_online_retail_spark.operators import features as FE
from entity_matching_in_online_retail_spark.operators import model as M
from entity_matching_in_online_retail_spark.operators.normalize import (
    normalize_web_pages,
)
from entity_matching_in_online_retail_spark.plans import append as AP
from entity_matching_in_online_retail_spark.plans.append import (
    append_batch,
    compact_workdir,
)
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline


def _labels(df):
    return {r.record_id: r.cluster_id for r in df.collect()}


def _batch_resolve(offers, idf, cfg, matcher, tau):
    keys = B.all_block_keys(offers, cfg.blocking)
    pairs = B.candidate_pairs(B.cap_blocks(keys, cfg.blocking), cfg.blocking)
    attrs = FE.offers_with_vectors(offers, idf)
    feats = FE.pair_features(
        pairs.select("id_l", "id_r"), attrs, gate_jaccard=cfg.scoring.gate_jaccard
    )
    edges = M.match_edges(M.score_pairs(feats, matcher), tau)
    return C.assign_clusters(
        offers.select("record_id"), C.connected_components(edges)
    )


@pytest.fixture(scope="module")
def chain_env(spark, tmp_path_factory):
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("append_chain"))
    corpus = fx.generate_corpus(n_entities=50, seed=11)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(5))
    base_pages = pages.where(part <= 2)
    batch_a = pages.where(part == 3)
    batch_b = pages.where(part == 4)
    res = ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)
    return cfg, wd, pages, base_pages, batch_a, batch_b, res, labeled


def test_chained_appends_equal_batch_run(spark, chain_env):
    cfg, wd, pages, base_pages, batch_a, batch_b, res, _ = chain_env
    # round 4: the base run persists the artifacts appends load
    assert os.path.isdir(os.path.join(wd, "idf"))
    assert os.path.isdir(os.path.join(wd, "block_keys"))

    out_a = append_batch(spark, wd, batch_a, cfg)
    assert out_a["new_records"] > 0 and out_a["recovered_records"] == 0
    out_b = append_batch(spark, wd, batch_b, cfg)
    assert out_b["new_records"] > 0 and out_b["recovered_records"] == 0
    # batch B saw batch A's records: known set grew between the two calls
    assert out_b["base_records"] == out_a["base_records"] + out_a["new_records"]

    got = _labels(spark.read.parquet(os.path.join(wd, "clusters")))

    base_offers = normalize_web_pages(base_pages, lang=cfg.lang_filter)
    offers_all = normalize_web_pages(pages, lang=cfg.lang_filter)
    idf = S.fit_idf(base_offers)  # the frozen vocabulary append_batch uses
    want = _labels(
        _batch_resolve(offers_all, idf, cfg, res.model, res.threshold)
    )
    assert got == want

    # every applied batch left a committed artifact triple + merges audit
    for stage in ("offers", "attrs", "block_keys"):
        assert len(AP._list_batches(AP._inc_dir(wd, stage))) == 2
    assert AP._uncommitted_batches(wd) == []
    assert len(AP._list_batches(os.path.join(wd, "merges"))) == 2

    # applying an already-applied batch is a no-op
    out_again = append_batch(spark, wd, batch_b, cfg)
    assert out_again["new_records"] == 0
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want


def test_append_is_o_increment(spark, chain_env, monkeypatch):
    """With persisted idf/block_keys, an append must never refit the IDF and
    must compute block keys only over increment-sized inputs."""
    cfg, wd, pages, base_pages, batch_a, batch_b, res, labeled = chain_env
    # chain_env's module-scoped wd already has batches a+b applied; appending
    # an empty batch exercises the full load path without new records.
    def _boom(*a, **k):
        raise AssertionError("fit_idf called on the persisted-artifact path")

    key_input_counts = []
    real_keys = B.all_block_keys

    def _counting_keys(offers, bcfg, id_col="record_id"):
        key_input_counts.append(offers.count())
        return real_keys(offers, bcfg, id_col)

    monkeypatch.setattr(S, "fit_idf", _boom)
    monkeypatch.setattr(B, "all_block_keys", _counting_keys)

    out = append_batch(spark, wd, batch_b.limit(0), cfg)
    assert out["new_records"] == 0 and out["recovered_records"] == 0

    # a real (tiny) batch: block keys computed for it alone, never the corpus
    tiny = batch_b.limit(3)
    out = append_batch(spark, wd, tiny.withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=oinc"))
    ), cfg)
    assert out["new_records"] > 0
    assert key_input_counts, "expected block keys computed for the increment"
    assert max(key_input_counts) <= out["new_records"]


def test_crash_between_increment_and_clusters_self_heals(
    spark, chain_env, tmp_path_factory
):
    cfg, wd0, pages, base_pages, batch_a, batch_b, res, labeled = chain_env
    # fresh labeled base run in a fresh workdir
    wd = str(tmp_path_factory.mktemp("append_crash"))
    ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)

    base_clusters = spark.read.parquet(os.path.join(wd, "clusters")).collect()
    append_batch(spark, wd, batch_a, cfg)

    # Simulate the earliest crash window: batch offers written, but attrs/
    # keys/clusters/marker all lost (the real crash state — the _COMMITTED
    # marker is written strictly after the clusters write).
    [batch] = AP._list_batches(AP._inc_dir(wd, "offers"))
    os.remove(AP._committed_marker(wd, batch))
    shutil.rmtree(os.path.join(AP._inc_dir(wd, "attrs"), batch))
    shutil.rmtree(os.path.join(AP._inc_dir(wd, "block_keys"), batch))
    shutil.rmtree(os.path.join(wd, "clusters"))
    spark.createDataFrame(
        base_clusters, "record_id bigint, cluster_id bigint"
    ).write.parquet(os.path.join(wd, "clusters"))

    out = append_batch(spark, wd, batch_b, cfg)
    assert out["recovered_records"] > 0  # batch A re-entered and re-resolved
    # recovery healed the crashed batch's artifact dirs + marker
    assert os.path.isdir(os.path.join(AP._inc_dir(wd, "attrs"), batch))
    assert os.path.isdir(os.path.join(AP._inc_dir(wd, "block_keys"), batch))
    assert AP._uncommitted_batches(wd) == []

    healed = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
    # reference: the same two appends without a crash
    wd2 = str(tmp_path_factory.mktemp("append_nocrash"))
    ERPipeline(spark, wd2, cfg).run(base_pages, labeled_urls=labeled)
    append_batch(spark, wd2, batch_a, cfg)
    append_batch(spark, wd2, batch_b, cfg)
    want = _labels(spark.read.parquet(os.path.join(wd2, "clusters")))
    assert healed == want


def test_five_batch_chain_with_compaction(spark, tmp_path_factory):
    """5 chained appends with a mid-chain compaction == one-shot batch run;
    compaction keeps labels byte-identical and resets the increment roots."""
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("append_five"))
    corpus = fx.generate_corpus(n_entities=40, seed=23)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(8))
    base_pages = pages.where(part <= 2)
    batches = [pages.where(part == k) for k in range(3, 8)]
    res = ERPipeline(spark, wd, cfg).run(base_pages, labeled_urls=labeled)

    for i, bp in enumerate(batches):
        out = append_batch(spark, wd, bp, cfg)
        assert out["recovered_records"] == 0
        if i == 1:  # compact after the second batch, mid-chain
            before = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
            cres = compact_workdir(spark, wd, cfg)
            assert cres["compacted_batches"] == 2
            for stage in ("offers", "attrs", "block_keys"):
                assert AP._list_batches(AP._inc_dir(wd, stage)) == []
            after = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
            assert after == before  # compaction never changes labels

    got = _labels(spark.read.parquet(os.path.join(wd, "clusters")))
    base_offers = normalize_web_pages(base_pages, lang=cfg.lang_filter)
    offers_all = normalize_web_pages(pages, lang=cfg.lang_filter)
    idf = S.fit_idf(base_offers)
    want = _labels(_batch_resolve(offers_all, idf, cfg, res.model, res.threshold))
    assert got == want

    # merges audit covers every append (per-batch dirs, never overwritten)
    assert len(AP._list_batches(os.path.join(wd, "merges"))) == 5

    # final compaction folds the remaining three batches
    cres = compact_workdir(spark, wd, cfg)
    assert cres["compacted_batches"] == 3
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want
    # the folded offers store now carries the whole corpus
    n_all = offers_all.count()
    assert spark.read.parquet(os.path.join(wd, "offers")).count() == n_all
    assert spark.read.parquet(os.path.join(wd, "attrs")).count() == n_all
    # a post-compaction append still works (fresh batch numbering is fine)
    out = append_batch(spark, wd, batches[0], cfg)
    assert out["new_records"] == 0  # already known — no-op


def test_compaction_crash_rolls_forward(spark, tmp_path_factory):
    """Kill compaction between the journal write and the swaps: the next
    append entry rolls it forward and labels are unchanged."""
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("compact_crash"))
    corpus = fx.generate_corpus(n_entities=30, seed=31)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(5))
    ERPipeline(spark, wd, cfg).run(pages.where(part <= 3), labeled_urls=labeled)
    append_batch(spark, wd, pages.where(part == 4), cfg)
    want = _labels(spark.read.parquet(os.path.join(wd, "clusters")))

    # run compaction but crash right after the journal is written
    real_finish = AP._finish_compaction

    def _crash(workdir, state):
        raise RuntimeError("simulated crash before swaps")

    AP._finish_compaction = _crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact_workdir(spark, wd, cfg)
    finally:
        AP._finish_compaction = real_finish

    assert os.path.exists(AP._compact_state_path(wd))
    # next entry (an empty append) recovers: journal drained, stores folded
    out = append_batch(spark, wd, pages.where(part == 4).limit(0), cfg)
    assert out["new_records"] == 0
    assert not os.path.exists(AP._compact_state_path(wd))
    assert AP._list_batches(AP._inc_dir(wd, "offers")) == []
    assert _labels(spark.read.parquet(os.path.join(wd, "clusters"))) == want
    assert spark.read.parquet(os.path.join(wd, "offers")).count() == out[
        "base_records"
    ]


def test_missing_artifact_is_rejected(spark, tmp_path_factory):
    """A workdir without the persisted idf/ or block_keys/ artifact makes
    append and compaction raise ValueError naming it, before either writes
    anything: no refit over the corpus, no scratch dirs, no new batch."""
    cfg = DEFAULT_CONFIG
    wd = str(tmp_path_factory.mktemp("missing_artifact"))
    parked = str(tmp_path_factory.mktemp("parked_artifact"))
    corpus = fx.generate_corpus(n_entities=20, seed=37)
    pages, labeled, _ = fx.corpus_to_spark(spark, corpus)
    part = F.pmod(F.xxhash64("url"), F.lit(4))
    ERPipeline(spark, wd, cfg).run(pages.where(part <= 2), labeled_urls=labeled)
    append_batch(spark, wd, pages.where(part == 3), cfg)

    for artifact in ("idf", "block_keys"):
        shutil.move(os.path.join(wd, artifact), os.path.join(parked, artifact))
        before = sorted(os.listdir(wd))
        with pytest.raises(ValueError, match=f"{artifact}/"):
            append_batch(spark, wd, pages.where(part == 3), cfg)
        with pytest.raises(ValueError, match=f"{artifact}/"):
            compact_workdir(spark, wd, cfg)
        assert sorted(os.listdir(wd)) == before
        assert len(AP._list_batches(AP._inc_dir(wd))) == 1
        shutil.move(os.path.join(parked, artifact), os.path.join(wd, artifact))
