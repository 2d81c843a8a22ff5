"""Single-stage, single-run timer in a fresh JVM (invoked by bench_scaling.py).

One (master, stage) measurement per process so JVM heap aging, leftover
broadcasts, and page-cache luck from earlier runs cannot contaminate the
timing. Prints one JSON line: {"stage", "sec", "n_pairs", "master"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG  # noqa: E402
from entity_matching_in_online_retail_spark.operators import blocking as B  # noqa: E402
from entity_matching_in_online_retail_spark.operators import cluster as C  # noqa: E402
from entity_matching_in_online_retail_spark.operators import features as FE  # noqa: E402
from entity_matching_in_online_retail_spark.operators import model as M  # noqa: E402
from entity_matching_in_online_retail_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True, help='e.g. "local-cluster[4,8,16384]" or "local[8]"')
    ap.add_argument("--total-cores", type=int, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument(
        "--stage",
        choices=[
            "block", "score", "cc", "dedupe2", "dedupe1", "ingest", "tfidf",
            "minhash", "neardup_groups", "train", "curate",
        ],
        required=True,
        help="dedupe2/dedupe1: synthetic dropDuplicates exchange carrying "
        "two bigint id columns vs one packed bigint — measures how "
        "byte-sensitive the blocking dedupe exchange actually is "
        "(the ceiling any pair-packing scheme could buy)",
    )
    ap.add_argument(
        "--rows", type=int, default=100_000_000,
        help="dedupe stages: synthetic pair count (duplicate factor 2x)",
    )
    ap.add_argument(
        "--no-broadcast",
        action="store_true",
        help="spark.sql.autoBroadcastJoinThreshold=-1: force the shuffle-"
        "join regime a 10^12-record cluster would be in (no broadcastable "
        "side), so the score stage measures the storage-partitioned-join "
        "shape (and the JVM tf-idf cosine) instead of the broadcast shape",
    )
    ap.add_argument(
        "--codec", choices=["lz4", "zstd"], default="lz4",
        help="spark.io.compression.codec for shuffle blocks",
    )
    ap.add_argument(
        "--corpus",
        default=None,
        help="ingest stage: bench corpus dir (reads <corpus>/web_pages)",
    )
    ap.add_argument(
        "--no-artifacts",
        action="store_true",
        help="tfidf stage: skip the round-4 idf artifact persist+read-back "
        "— the A/B for the BENCH_r04 er_tfidf_vectors regression question",
    )
    ap.add_argument(
        "--train-partitions",
        type=int,
        default=0,
        help="train stage: coalesce the labeled feature checkpoint to this "
        "many partitions before the L-BFGS fit (0 = leave the natural "
        "partitioning) — each optimizer iteration is one treeAggregate "
        "job over these partitions",
    )
    ap.add_argument(
        "--near-dup",
        action="store_true",
        help="curate stage: enable the MinHash near-dup stage inside the "
        "funnel (its pieces carry their own sf1 memos; default measures "
        "the SQL-expressible funnel shape)",
    )
    ap.add_argument(
        "--no-local-finish",
        action="store_true",
        help="cc stage: disable the single-task Shiloach-Vishkin finisher "
        "(local_finish_rows=0) — pure distributed LS/SS alternation, the "
        "round-5 A/B baseline",
    )
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run the stage once untimed first: Catalyst planning + codegen "
        "compile + JIT are a ~6s fixed driver cost identical at every "
        "parallelism level, which poisons the scaling ratio of short stages "
        "while amortizing to nothing at production scale",
    )
    args = ap.parse_args()

    extra = {"spark.io.compression.codec": args.codec}
    if args.no_broadcast:
        extra["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    spark = get_spark(
        "scale_runner",
        cores=args.total_cores,
        shuffle_partitions=2 * args.total_cores,
        master=args.master,
        extra_conf=extra,
    )
    wd = args.workdir
    cfg = DEFAULT_CONFIG

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    if args.stage == "block":
        offers = spark.read.parquet(os.path.join(wd, "offers"))
        n_pairs = None

        def fn():
            keys = B.all_block_keys(offers, cfg.blocking)
            capped = B.cap_blocks(keys, cfg.blocking).localCheckpoint(eager=True)
            _noop(B.candidate_pairs(capped, cfg.blocking))

    elif args.stage == "score":
        attrs = spark.read.parquet(os.path.join(wd, "attrs"))
        pairs = spark.read.parquet(os.path.join(wd, "pairs")).select("id_l", "id_r")
        n_pairs = pairs.count()
        with open(os.path.join(wd, "model.json")) as f:
            saved = json.load(f)
        matcher = M.LinearMatcher(
            tuple(saved["feature_cols"]), tuple(saved["coefficients"]), saved["intercept"]
        )

        def fn():
            feats = FE.pair_features(
                pairs.repartition(2 * args.total_cores),
                attrs,
                gate_jaccard=cfg.scoring.gate_jaccard,
            )
            _noop(M.score_pairs(feats, matcher))

    elif args.stage == "ingest":
        # Replica of ERPipeline.stage_offers' build (normalize + partition
        # + parquet write) minus the manifest bookkeeping — stage_offers
        # gained NO artifact writes in round 4, so repeated fresh-JVM runs
        # of this stage bound the noise floor behind the BENCH_r04
        # er_ingest_normalize regression question.
        from entity_matching_in_online_retail_spark.operators.normalize import (
            normalize_web_pages,
        )

        pages = spark.read.parquet(os.path.join(args.corpus, "web_pages"))
        n_pairs = None
        scratch = os.path.join(wd, ".ab_ingest")

        def fn():
            off = normalize_web_pages(pages, lang=cfg.lang_filter, use_html=True)
            off = off.withColumn(
                "part_id",
                F.pmod(F.xxhash64("url"), F.lit(cfg.n_checkpoint_partitions)).cast("int"),
            )
            off.write.mode("overwrite").partitionBy("part_id").parquet(scratch)

    elif args.stage == "tfidf":
        # Replica of ERPipeline.stage_attrs' build: fit idf, optionally
        # persist+read-back the idf artifact (the round-4 addition under
        # A/B), derive vectors, write the partitioned attrs parquet.
        from entity_matching_in_online_retail_spark.functions import similarity as S

        offers = spark.read.parquet(os.path.join(wd, "offers"))
        n_pairs = None
        scratch = os.path.join(wd, ".ab_tfidf")

        def fn():
            idf = S.fit_idf(offers)
            if not args.no_artifacts:
                idf.write.mode("overwrite").parquet(os.path.join(scratch, "idf"))
                idf = spark.read.parquet(os.path.join(scratch, "idf"))
            attrs = FE.offers_with_vectors(offers, idf)
            attrs = attrs.withColumn(
                "part_id",
                F.pmod(
                    F.xxhash64("record_id"), F.lit(cfg.n_checkpoint_partitions)
                ).cast("int"),
            )
            attrs.write.mode("overwrite").partitionBy("part_id").parquet(
                os.path.join(scratch, "attrs")
            )

    elif args.stage == "minhash":
        # LLM-dedup surface at ER-corpus scale (VERDICT r4 #6): MinHash
        # near-dup over the workdir's offers (norm_text is already
        # normalized; normalize_text is idempotent — tested property).
        # Candidate and verified counts ride the same action via observe().
        from pyspark.sql import Observation

        from entity_matching_in_online_retail_spark.operators import dedup as DD

        offers = spark.read.parquet(os.path.join(wd, "offers"))
        n_pairs = None

        def fn():
            nonlocal n_pairs
            obs = Observation()  # fresh per run: an Observation attaches once
            out = DD.minhash_near_dups(
                offers, id_col="record_id", text_col="norm_text", threshold=0.8
            ).observe(obs, F.count(F.lit(1)).alias("n_verified"))
            _noop(out)
            n_pairs = int(obs.get["n_verified"])

    elif args.stage == "neardup_groups":
        # Full LLM-dedup grouping surface at ER-corpus scale: minhash
        # candidate pairs -> CC (with the round-5 local finisher at its
        # default) -> canonical keep per group. Group count observed on the
        # same action.
        from pyspark.sql import Observation

        from entity_matching_in_online_retail_spark.operators import dedup as DD

        offers = spark.read.parquet(os.path.join(wd, "offers"))
        n_pairs = None

        def fn():
            nonlocal n_pairs
            obs = Observation()
            out = DD.near_dup_groups(
                offers, id_col="record_id", text_col="norm_text", threshold=0.8
            ).observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_groups"),
            )
            _noop(out)
            got = obs.get
            n_pairs = int(got["n_docs"])
            print(
                json.dumps({"n_docs": int(got["n_docs"]), "n_groups": int(got["n_groups"])}),
                file=sys.stderr,
            )

    elif args.stage == "curate":
        # Composed corpus-curation funnel (plans/curate.py) at ER-corpus
        # scale: one map-side signal projection (lang/quality/dup-fraction
        # plus the top-gram fraction as the sorted-hashed-gram run-fold
        # expression — zero shuffle), broadcast decontamination (benchmark =
        # every 97th record), the md5-keyed keeper window, deterministic
        # sampling, and the one-groupBy retention report as the action.
        # min_quality relaxed to 0.5: product titles are short, and a
        # threshold that drops most docs up front would let later stages
        # idle — the point is every stage doing sf1-scale work.
        from entity_matching_in_online_retail_spark.plans import curate as CUR

        offers = spark.read.parquet(os.path.join(wd, "offers"))
        docs = offers.select("record_id", "norm_text")
        cur_bench = docs.where(F.pmod(F.col("record_id"), F.lit(97)) == 0)
        cur_corpus = docs.where(F.pmod(F.col("record_id"), F.lit(97)) != 0)
        # Product titles are stopword-poor, so the lang-ID heuristic calls
        # nearly all of them 'und' — allow it (plus relax quality to 0.5 for
        # short titles); otherwise the first stage labels ~99.999% of the
        # corpus and exact-/near-dedup discriminate over nothing.
        cur_cfg = CUR.CurateConfig(
            allowed_langs=("en", "und"),
            min_quality=0.5,
            id_col="record_id",
            text_col="norm_text",
            near_dup_threshold=0.8 if args.near_dup else None,
        )
        n_pairs = None

        def fn():
            nonlocal n_pairs
            labels = CUR.funnel_labels(cur_corpus, cur_bench, cur_cfg)
            rows = CUR.funnel_metrics(labels, id_col="record_id").collect()
            stages = {r["stage"]: r["n_docs"] for r in rows}
            n_pairs = sum(stages.values())
            print(json.dumps({"stages": stages}), file=sys.stderr)

    elif args.stage == "train":
        # Replica of ERPipeline.train_or_load minus the model-cache check:
        # labeled pair features -> localCheckpoint -> LR fit -> threshold
        # sweep. The A/B knob is --train-partitions: the per-iteration
        # L-BFGS treeAggregate schedules one task per checkpoint partition,
        # so a small labeled set spread over 2*cores partitions pays ~100
        # iterations of pure scheduling overhead.
        from entity_matching_in_online_retail_spark.plans import evaluate as EV

        attrs = spark.read.parquet(os.path.join(wd, "attrs"))
        offers = spark.read.parquet(os.path.join(wd, "offers"))
        labeled = spark.read.parquet(os.path.join(args.corpus, "labeled_pairs"))
        n_pairs = None

        def fn():
            nonlocal n_pairs
            labeled_ids = EV.labeled_pairs_to_ids(labeled, offers)
            labeled_ids = labeled_ids.localCheckpoint(eager=True)
            feats = FE.pair_features(
                labeled_ids.select("id_l", "id_r"), attrs
            ).join(labeled_ids, ["id_l", "id_r"])
            feats = feats.localCheckpoint(eager=True)
            if args.train_partitions:
                # AFTER the checkpoint: a narrow merge of checkpoint blocks,
                # so the feature compute above keeps full parallelism while
                # every optimizer iteration schedules only this many tasks.
                feats = feats.coalesce(args.train_partitions)
            train, val = M.split_train_val(feats)
            matcher = M.train_matcher(train, cfg.scoring.feature_cols)
            val_scored = M.score_pairs(val, matcher).select("score", "label")
            tau, _ = M.best_threshold(val_scored)
            n_pairs = feats.count()
            print(json.dumps({"tau": tau}), file=sys.stderr)

    elif args.stage in ("dedupe2", "dedupe1"):
        # Synthetic replica of the blocking dedupe exchange: `rows` pair
        # rows with a 2x duplicate factor (every pair appears twice, like a
        # pair surfacing from two blockers), deduped via dropDuplicates.
        # dedupe2 shuffles the real shape — two full-width xxhash64-derived
        # bigints; dedupe1 shuffles ONE bigint (what packing would give IF
        # ids fit 32 bits — they do not in this engine; see BENCH/BASELINE
        # memo). The gap between the two is the byte-sensitivity ceiling.
        n_pairs = args.rows
        half = spark.range(args.rows // 2).select(
            F.xxhash64("id").alias("id_l"), F.xxhash64("id", F.lit(1)).alias("id_r")
        )
        dup = half.unionAll(half).repartition(4 * args.total_cores)

        if args.stage == "dedupe2":
            def fn():
                _noop(dup.dropDuplicates(["id_l", "id_r"]))
        else:
            packed = dup.select(F.xxhash64("id_l", "id_r").alias("pk"))

            def fn():
                _noop(packed.dropDuplicates(["pk"]))

    else:
        scored = spark.read.parquet(os.path.join(wd, "scores"))
        with open(os.path.join(wd, "model.json")) as f:
            tau = float(json.load(f)["threshold"])
        n_pairs = None

        lf = 0 if args.no_local_finish else 4_000_000

        def fn():
            _noop(
                C.connected_components(
                    M.match_edges(scored, tau), local_finish_rows=lf
                )
            )

    if args.warmup:
        fn()
    t0 = time.time()
    fn()
    sec = round(time.time() - t0, 2)
    print(
        json.dumps(
            {
                "stage": args.stage,
                "sec": sec,
                "n_pairs": n_pairs,
                "master": args.master,
                "warmup": args.warmup,
                "no_artifacts": args.no_artifacts,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
