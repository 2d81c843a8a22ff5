"""Catalyst plan assertions (SURVEY §4): column pruning, predicate pushdown,
broadcast join selection, Python confined to ArrowEvalPython nodes."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark.operators import features as FE
from entity_matching_in_online_retail_spark.operators import model as M
from entity_matching_in_online_retail_spark.functions import similarity as S


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages_parquet(spark, tiny_spark, tmp_path_factory):
    pages, _, _ = tiny_spark
    d = str(tmp_path_factory.mktemp("plans") / "web_pages")
    pages.write.parquet(d)
    return d


def test_html_binary_column_pruned(spark, pages_parquet):
    """Projections that don't extract must never scan the heavy html bytes."""
    df = spark.read.parquet(pages_parquet).select("url", "lang")
    plan = plan_of(df)
    assert "html" not in plan
    assert "ReadSchema" in plan


def test_lang_filter_pushed_to_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).where(F.col("lang") == "en").select("url")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan


def test_scoring_plan_shape(spark, tiny_spark, tmp_path_factory):
    """The scoring dataflow must be: broadcast attribute fetches (no shuffle
    of the pair table beyond the explicit repartition), gate before the
    Arrow UDF, classifier folded as literals (no Python in the score), and
    each twin fetch building its broadcast once (exchange reuse)."""
    import re

    from entity_matching_in_online_retail_spark.config import BlockingConfig
    from entity_matching_in_online_retail_spark.operators import blocking as B
    from entity_matching_in_online_retail_spark.operators.normalize import normalize_web_pages
    from entity_matching_in_online_retail_spark.plans.pipeline import DEFAULT_MATCHER

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True).localCheckpoint()
    idf = S.fit_idf(offers)
    attrs = FE.offers_with_vectors(offers, idf)
    d = str(tmp_path_factory.mktemp("plans2"))
    attrs.write.parquet(d + "/attrs")
    # real candidate pairs: AQE prunes joins against an empty side, so a
    # pair table that matches nothing would hide the reuse
    cfg = BlockingConfig()
    pairs = B.candidate_pairs(
        B.cap_blocks(B.all_block_keys(offers, cfg), cfg), cfg
    ).localCheckpoint()
    attrs_pq = spark.read.parquet(d + "/attrs")
    feats = FE.pair_features(pairs, attrs_pq, gate_jaccard=0.15)
    scored = M.score_pairs(feats, DEFAULT_MATCHER)

    plan = plan_of(scored)
    # formatted explain prints each node in the tree AND a detail section;
    # count detail headers "(<n>) <Node>" for exact node counts
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    # classifier is constant-folded into the projection (a literal coefficient
    # appears in the final plan, no model object / UDF)
    assert str(DEFAULT_MATCHER.coefficients[0]) in plan_of(scored, "extended")

    # Both sides of each twin fetch (light attrs, tf-idf vectors) join the
    # same subtree, so the final AQE plan builds each broadcast once and
    # probes it from the second join through a ReusedExchange.
    assert scored.collect()  # the action must run on `scored` itself
    executed = scored._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") == 2, final


def test_pair_features_variants_equivalent(spark, tiny_spark):
    """The python (broadcast regime) and jvm (broadcasts disabled) tf-idf
    cosine must produce identical feature rows (cosine differs only by float
    summation order); the jvm plan computes the cosine via array_intersect
    with NO second Python node, and both regimes fetch vectors twin-style."""
    import re

    from entity_matching_in_online_retail_spark.operators.normalize import (
        normalize_web_pages,
    )

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True)
    idf = S.fit_idf(offers)
    attrs = FE.offers_with_vectors(offers, idf).localCheckpoint(eager=True)
    ids = [r["record_id"] for r in attrs.select("record_id").limit(40).collect()]
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_l long, id_r long"
    )
    cols = ["id_l", "id_r", "jaccard", "lev_sim", "jw_sim", "tfidf_cos",
            "price_sim", "brand_eq"]

    def rows():
        df = FE.pair_features(pairs, attrs, gate_jaccard=0.15).select(cols)
        return {
            (r["id_l"], r["id_r"]): [round(float(r[c]), 9) for c in cols[2:]]
            for r in df.collect()
        }

    # 2 light + 2 vector joins in both regimes (counted strategy-agnostically:
    # AQE may print SMJ before runtime broadcast conversion)
    join_re = r"\(\d+\) (?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)"
    base = rows()
    assert base  # the gate must leave something to compare
    py_plan = plan_of(FE.pair_features(pairs, attrs, gate_jaccard=0.15))
    assert "array_intersect(tfidf_idx" not in py_plan
    assert len(re.findall(join_re, py_plan)) == 4
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert rows() == base
        jvm_plan = plan_of(FE.pair_features(pairs, attrs, gate_jaccard=0.15))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", jvm_plan)) == 1
    assert "array_intersect(tfidf_idx" in jvm_plan
    assert len(re.findall(join_re, jvm_plan)) == 4


def test_lsh_topk_single_corpus_scan(spark):
    """Single-pass multi-table LSH: the corpus parquet must be scanned ONCE
    for bucketing (posexplode over all table buckets), not once per table."""
    import re

    from entity_matching_in_online_retail_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    plan = plan_of(ann.lsh_topk(q, emb, k=2, n_tables=12, planes_per_table=4))
    # scans: corpus-bucketing, query-bucketing, and the two re-rank fetches —
    # far fewer than the 12+ of the per-table union design
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 5, f"{n_scans} corpus scans (single-pass regression)"
    assert len(re.findall(r"\(\d+\) Generate", plan)) >= 2  # posexplode both sides
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_scan_pruned_in_cheap_phase(spark, tiny_spark, tmp_path_factory):
    """Phase-1 (cheap features) must not read the tf-idf vector columns."""
    from entity_matching_in_online_retail_spark.operators.normalize import normalize_web_pages

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True)
    idf = S.fit_idf(offers)
    attrs = FE.offers_with_vectors(offers, idf)
    d = str(tmp_path_factory.mktemp("plans3"))
    attrs.write.parquet(d + "/attrs")
    attrs_pq = spark.read.parquet(d + "/attrs")
    pairs = spark.createDataFrame([(1, 2)], "id_l long, id_r long")
    # gate=None keeps all pairs but the cheap phase's scans must still prune
    cheap_only = FE.pair_features(pairs, attrs_pq, gate_jaccard=0.15).select(
        "id_l", "id_r", "jaccard", "lev_sim"
    )
    plan = plan_of(cheap_only)
    # four attr scans total; the two light scans must not include tfidf cols
    light_scans = [
        seg for seg in plan.split("Scan parquet")
        if "token_hashes" in seg.split("Location")[0]
    ]
    assert light_scans, "expected light attr scans"
    for seg in light_scans:
        head = seg.split("Location")[0]
        assert "tfidf_idx" not in head


def test_incremental_pairs_plan_shape(spark, tiny_spark):
    """Incremental pair generation must broadcast the increment-sized sides
    (new ids, touched block keys) and contain no cartesian product — the
    full block table is never re-shuffled into pairs for an append."""
    from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
    from entity_matching_in_online_retail_spark.operators import incremental as INC
    from entity_matching_in_online_retail_spark.operators.normalize import (
        normalize_web_pages,
    )

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True)
    flag = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    pairs = INC.incremental_pairs(
        offers.where(~flag), offers.where(flag), DEFAULT_CONFIG
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # semi joins on increment-sized sides
    assert plan.count("LeftSemi") >= 3  # touched-keys + the two new-id sides


def test_bucketed_attrs_join_avoids_attrs_exchange(spark, tiny_spark, tmp_path):
    """The 10^12-record story: attrs bucketed by record_id make attribute
    fetches storage-partitioned — the bucketed side feeds a sort-merge join
    with NO Exchange above its scan (only the pair side shuffles). Sandbox
    analog of the id-bucketed Iceberg table in README §scale design."""
    from entity_matching_in_online_retail_spark.functions import similarity as S
    from entity_matching_in_online_retail_spark.operators import features as FE
    from entity_matching_in_online_retail_spark.operators.normalize import (
        normalize_web_pages,
    )

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True)
    attrs = FE.offers_with_vectors(offers, S.fit_idf(offers))

    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{tmp_path}/wh'")
    (
        attrs.write.mode("overwrite")
        .bucketBy(8, "record_id")
        .sortBy("record_id")
        .saveAsTable("buckdb.attrs_bucketed")
    )
    try:
        battrs = spark.table("buckdb.attrs_bucketed")
        pairs = offers.select(F.col("record_id").alias("id_l")).distinct()
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = pairs.join(battrs, pairs.id_l == battrs.record_id)
            plan = plan_of(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        # Sort-merge join whose BUCKETED subtree (the join's second child,
        # from its Sort down to the bucketed scan) contains no Exchange —
        # the scan's bucket layout provides the hash partitioning; only the
        # pair side shuffles.
        assert "SortMergeJoin" in plan
        tree = plan.split("SortMergeJoin")[1]
        # the bucketed child is Sort -> Filter -> Scan with nothing nested,
        # so the LAST "+- Sort" before the buckdb scan is its root (rail
        # prefixes are unreliable: cached InMemoryRelations embed their
        # inner plans rail-less inside the left child)
        scan_at = tree.index("Scan parquet spark_catalog.buckdb")
        bucketed_subtree = tree[tree.rindex("+- Sort", 0, scan_at) : scan_at]
        assert "Exchange" not in bucketed_subtree, bucketed_subtree
        assert "SelectedBucketsCount" in plan  # bucketed scan actually used
    finally:
        spark.sql("DROP TABLE IF EXISTS buckdb.attrs_bucketed")
        spark.sql("DROP DATABASE IF EXISTS buckdb")


def test_incremental_pairs_fast_path_no_corpus_scan(spark, tiny_spark):
    """With the persisted block_keys artifact, the append pair plan must not
    scan the old corpus at all — old_offers=None type-proves it, and the
    plan must still broadcast the increment-sized sides."""
    from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
    from entity_matching_in_online_retail_spark.operators import blocking as B
    from entity_matching_in_online_retail_spark.operators import incremental as INC
    from entity_matching_in_online_retail_spark.operators.normalize import (
        normalize_web_pages,
    )

    pages, _, _ = tiny_spark
    offers = normalize_web_pages(pages, lang="en", use_html=True)
    flag = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    old_keys = B.all_block_keys(offers.where(~flag), DEFAULT_CONFIG.blocking)
    pairs = INC.incremental_pairs(
        None, offers.where(flag), DEFAULT_CONFIG, old_keys=old_keys
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
