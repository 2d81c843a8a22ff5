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
from entity_matching_in_online_retail_spark.plans.pipeline import load_model  # noqa: E402
from entity_matching_in_online_retail_spark.session import get_spark  # noqa: E402

STAGES = ("block", "score", "cc", "minhash", "neardup_groups", "curate")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True, help='e.g. "local-cluster[4,8,16384]" or "local[8]"')
    ap.add_argument("--total-cores", type=int, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--stage", choices=STAGES, required=True)
    ap.add_argument(
        "--no-broadcast",
        action="store_true",
        help="spark.sql.autoBroadcastJoinThreshold=-1: force the shuffle-"
        "join regime a 10^12-record cluster would be in (no broadcastable "
        "side), so the score stage measures the storage-partitioned-join "
        "shape (and the JVM tf-idf cosine) instead of the broadcast shape",
    )
    ap.add_argument(
        "--near-dup",
        action="store_true",
        help="curate stage: enable the MinHash near-dup stage inside the "
        "funnel (its pieces carry their own sf1 memos; default measures "
        "the SQL-expressible funnel shape)",
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

    extra = {}
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
        matcher, _ = load_model(wd)

        def fn():
            feats = FE.pair_features(
                pairs.repartition(2 * args.total_cores),
                attrs,
                gate_jaccard=cfg.scoring.gate_jaccard,
            )
            _noop(M.score_pairs(feats, matcher))

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

    else:
        scored = spark.read.parquet(os.path.join(wd, "scores"))
        _, tau = load_model(wd)
        n_pairs = None

        def fn():
            _noop(C.connected_components(M.match_edges(scored, tau)))

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
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
