"""Pipeline CLI — the spark-submit entry point.

    spark-submit --py-files em.zip jobs/run_pipeline.py \
        --input <web_pages parquet> --workdir <stage dir> \
        [--labeled <labeled_pairs parquet>] [--cores N]

Sandbox equivalent (same code path, local master):

    python jobs/run_pipeline.py --demo tiny --workdir /tmp/er_demo

`--demo {tiny,small}` generates the deterministic FIXTURES corpus in the
workdir first, then runs on it — no external data. Re-running with the same
workdir resumes from committed stage manifests (idempotent).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline
from entity_matching_in_online_retail_spark.session import get_spark

DEMO_SIZES = {"tiny": 50, "small": 2000}


def main() -> int:
    ap = argparse.ArgumentParser(description="entity-resolution pipeline")
    ap.add_argument("--input", help="web_pages table (parquet dir)")
    ap.add_argument("--labeled", help="labeled_pairs table (url_l,url_r,label)")
    ap.add_argument("--workdir", required=True, help="stage/checkpoint dir")
    ap.add_argument("--demo", choices=sorted(DEMO_SIZES), help="generate demo corpus")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark("er_pipeline", cores=args.cores)
    os.makedirs(args.workdir, exist_ok=True)

    if args.demo:
        corpus_dir = os.path.join(args.workdir, "corpus")
        if not os.path.isdir(os.path.join(corpus_dir, "web_pages")):
            print(f"generating demo corpus ({args.demo}) ...", flush=True)
            corpus = fx.generate_corpus(n_entities=DEMO_SIZES[args.demo])
            fx.write_corpus(spark, corpus, corpus_dir)
        args.input = os.path.join(corpus_dir, "web_pages")
        args.labeled = os.path.join(corpus_dir, "labeled_pairs")

    if not args.input:
        ap.error("--input or --demo required")

    pages = spark.read.parquet(args.input)
    labeled = spark.read.parquet(args.labeled) if args.labeled else None

    t0 = time.time()
    pipe = ERPipeline(spark, args.workdir)
    res = pipe.run(pages, labeled_urls=labeled)
    n_records = res.clusters.count()
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    elapsed = time.time() - t0

    out = {
        "records": n_records,
        "clusters": n_clusters,
        "threshold": res.threshold,
        "elapsed_sec": round(elapsed, 2),
    }
    if res.metrics is not None:
        out.update(
            precision=round(res.metrics.precision, 4),
            recall=round(res.metrics.recall, 4),
            f1=round(res.metrics.f1, 4),
        )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
