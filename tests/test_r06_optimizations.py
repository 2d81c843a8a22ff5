"""Round-6 optimization equivalence pins.

Each test pins an operator-internal rewrite to its legacy semantics:
  - fused single-scan all_block_keys  == 4-branch union (exact multiset)
  - cap_blocks' window _bsize         == block_stats block_size
  - candidate_pairs _bsize filter path == naive distinct self-join
  - fused extract_nfkc UDF            == extract_text + nfkc (byte identity)
  - checkpoint manifest metrics       == recomputed from the written data
  - offers_with_vectors broadcast-regime hint changes the join strategy only
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
from entity_matching_in_online_retail_spark.functions import hashing as H
from entity_matching_in_online_retail_spark.functions import similarity as S
from entity_matching_in_online_retail_spark.functions import text as TX
from entity_matching_in_online_retail_spark.operators import blocking as B
from entity_matching_in_online_retail_spark.operators import features as FE
from entity_matching_in_online_retail_spark.operators.normalize import normalize_web_pages
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline


def _legacy_all_block_keys(offers, cfg, id_col="record_id"):
    """The r5 4-branch union (verbatim shapes)."""
    mh = H.lsh_band_keys(
        H.minhash_signature(
            offers.where(F.size("tokens") > 0), id_col, "tokens", cfg.minhash_k
        ),
        cfg.lsh_bands,
        cfg.lsh_rows,
        id_col,
    )
    return (
        B.prefix_block_keys(offers, cfg, id_col)
        .unionByName(B.leading_token_block_keys(offers, id_col))
        .unionByName(B.domain_block_keys(offers, id_col))
        .unionByName(mh)
    )


@pytest.fixture(scope="module")
def offers(spark, tiny_spark):
    pages, _, _ = tiny_spark
    return normalize_web_pages(pages, lang="en", use_html=True).localCheckpoint()


def _multiset(df, cols):
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))), F.lit(0)
        ).alias("h"),
    ).first()
    return (r["n"], r["h"])


def test_fused_all_block_keys_equals_branch_union(spark, offers):
    cfg = DEFAULT_CONFIG.blocking
    new = _multiset(B.all_block_keys(offers, cfg), ["record_id", "block_key"])
    old = _multiset(_legacy_all_block_keys(offers, cfg), ["record_id", "block_key"])
    assert new == old
    assert new[0] > 0


def test_cap_blocks_bsize_equals_block_stats(spark, offers):
    cfg = DEFAULT_CONFIG.blocking
    capped = B.cap_blocks(B.all_block_keys(offers, cfg), cfg)
    from_window = capped.select("block_key", "_bsize").distinct()
    from_stats = B.block_stats(capped)
    joined = from_window.join(from_stats, "block_key", "full")
    bad = joined.where(
        F.col("_bsize").isNull()
        | F.col("block_size").isNull()
        | (F.col("_bsize") != F.col("block_size"))
    ).count()
    assert bad == 0


def test_candidate_pairs_bsize_path_equals_naive_self_join(spark, offers):
    # salt_threshold lowered so BOTH the small and the hot/salted branch are
    # exercised on the tiny corpus (its post-cap blocks are all < 50).
    from entity_matching_in_online_retail_spark.config import BlockingConfig

    cfg = BlockingConfig(salt_threshold=3)
    capped = B.cap_blocks(B.all_block_keys(offers, cfg), cfg).localCheckpoint()
    assert capped.where(F.col("_bsize") > cfg.salt_threshold).count() > 0
    assert capped.where(F.col("_bsize") <= cfg.salt_threshold).count() > 0
    via_bsize = B.candidate_pairs(capped, cfg)
    keys = capped.select("block_key", "record_id")
    naive = (
        keys.alias("l")
        .join(keys.alias("r"), "block_key")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("id_l"), F.col("r.record_id").alias("id_r")
        )
        .distinct()
    )
    assert _multiset(via_bsize, ["id_l", "id_r"]) == _multiset(
        naive, ["id_l", "id_r"]
    )


def test_extract_nfkc_fused_udf_matches_unfused(spark):
    rows = [
        (b"<html><body><p>plain ascii text</p></body></html>",),
        (b"<p>caf\xc3\xa9 \xef\xac\x81ne</p>",),  # e-acute + fi ligature (NFKC changes it)
        (b"<p>a&amp;b &lt;tag&gt;</p><p>second</p>",),
        (None,),
        (b"no paragraphs here",),
    ]
    df = spark.createDataFrame(rows, "html binary")
    fused = df.select(TX.extract_nfkc("html").alias("ex")).select(
        F.col("ex.text").alias("text"), F.col("ex.nfkc_text").alias("nfkc_text")
    )
    unfused = df.select(TX.extract_text("html").alias("text")).select(
        "text", TX.nfkc("text").alias("nfkc_text")
    )
    assert fused.collect() == unfused.collect()


def test_normalize_web_pages_fused_path_matches_legacy(spark, tiny_spark):
    """End-to-end: the fused ingest produces byte-identical offers to the
    r5 shape (extract_text UDF + nfkc inside normalize_text)."""
    pages, _, _ = tiny_spark
    new = normalize_web_pages(pages, lang="en", use_html=True)

    from pyspark.sql import Window as W

    df = pages.where(F.col("lang") == "en")
    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    df = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    df = df.withColumn("text", TX.extract_text(F.col("html"))).drop("html")
    df = df.where(F.col("text").isNotNull() & (F.length(F.trim("text")) >= 1))
    legacy = (
        df.withColumn("record_id", F.xxhash64("url"))
        .withColumn("domain", TX.domain_key(F.col("url")))
        .withColumn("norm_text", TX.normalize_text(F.col("text")))
        .withColumn("tokens", TX.tokens(F.col("norm_text")))
        .withColumn(
            "title_norm", F.concat_ws(" ", F.slice(F.split("norm_text", " "), 1, 6))
        )
        .withColumn("brand", TX.parse_brand(F.col("norm_text")))
        .withColumn("price", TX.parse_price(F.col("text")))
        .select(*new.columns)
    )
    a = {r["record_id"]: r for r in new.collect()}
    b = {r["record_id"]: r for r in legacy.collect()}
    assert a == b


def test_checkpoint_metrics_match_written_data(spark, tiny_spark, tmp_path):
    """Per-partition manifest metrics must equal what an independent
    groupBy over the landed stage data computes (pins the G2 metrics
    contract; an observe()-on-write variant was measured-REJECTED in r6 —
    see plans/pipeline.py — so this also guards any future retry)."""
    pages, _, _ = tiny_spark
    pipe = ERPipeline(spark, str(tmp_path))
    offers = pipe.stage_offers(pages, use_html=True)
    n = pipe.cfg.n_checkpoint_partitions
    written = pipe.catalog.read("offers")
    first_col = [c for c in written.columns if c != "part_id"][0]
    expected = {
        int(r["part_id"]): r.asDict()
        for r in written.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64(first_col), F.lit(1_000_000_007))), F.lit(0)
            ).alias("checksum"),
            F.min("warc_ts").cast("string").alias("min_ts"),
            F.max("warc_ts").cast("string").alias("max_ts"),
        )
        .collect()
    }
    for p in range(n):
        with open(os.path.join(str(tmp_path), "_manifests", "offers", f"p{p}.json")) as f:
            m = json.load(f)["metrics"]
        exp = expected.get(p, {"rows": 0, "checksum": 0})
        assert m["rows"] == exp["rows"]
        assert m["checksum"] == exp["checksum"]
        if m["rows"] > 0:
            assert m["min_ts"] == exp["min_ts"]
            assert m["max_ts"] == exp["max_ts"]


def test_offers_with_vectors_broadcasts_vec_side_in_broadcast_regime(spark, offers):
    idf = S.fit_idf(offers)
    plan = FE.offers_with_vectors(offers, idf)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    # and the regime switch: no hint when broadcasts are disabled
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan2 = (
            FE.offers_with_vectors(offers, idf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
