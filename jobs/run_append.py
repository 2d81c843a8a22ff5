"""Append CLI — incremental entity resolution as a spark-submit job.

    spark-submit --py-files em.zip jobs/run_append.py \
        --workdir <existing run's stage dir> --new <web_pages parquet> \
        [--labeled <labeled_pairs parquet>] [--cores N] \
        [--compact-every K] [--compact]

Resolves a new batch of web pages against the clustering an earlier
`run_pipeline.py` run left in `--workdir` (offers/attrs/clusters stage
checkpoints + model.json + the persisted `idf` and `block_keys` artifacts),
touching only work proportional to the increment (operators/incremental.py).

O(increment) contract (round 4): the base run persists its fitted IDF and
per-record block keys; appends LOAD both instead of refitting/recomputing
over the corpus; a workdir without either artifact (or without model.json)
is rejected with a ValueError naming it. The only corpus-wide touches left
in an append are column-pruned id scans (dedupe of incoming ids, attrs/keys
store loads whose per-batch exclusions are broadcast anti-joins on the
increment's ids) and the clusters overwrite — at 100 TB the latter becomes an Iceberg MERGE of
changed rows only; the dataflow that PRODUCES assignments is already
increment-bounded.

Batch layout — appends CHAIN; each applied batch persists three artifact
dirs plus a commit marker:

    <workdir>/increments/offers/batch-NNNN/      (+ _COMMITTED marker)
    <workdir>/increments/attrs/batch-NNNN/       tf-idf vectors, frozen IDF
    <workdir>/increments/block_keys/batch-NNNN/  uncapped per-record keys
    <workdir>/merges/batch-NNNN/                 audit: clusters merged away

Batch dirs are written to a dot-prefixed temp name and atomically renamed
(a crash mid-write can never leave a half batch under a final name), and
numbered max-existing-index+1 (deleting an old batch dir cannot cause a
collision). Merges are per-batch, so the audit trail covers every append,
not just the last one.

Crash safety: artifacts are written BEFORE the updated `clusters/`, and the
`_COMMITTED` marker strictly AFTER it. On the next append, batches lacking
the marker are re-examined record-level: members absent from `clusters/`
re-enter as recovered records (their pairs are regenerated and converge to
the no-crash labels — tested), members already present are left alone
(marker-write crash window), missing attr/key dirs are re-derived
deterministically from the batch's offers + frozen IDF, and the marker is
then set. Re-running an already-applied batch is a no-op: its records
anti-join away, nothing is written.

Compaction (`--compact`, or automatic at `--compact-every K` committed
batches) folds all committed increments into the offers/attrs/block_keys
checkpoints so the union tree never grows with batch count: fold each store
into `<stage>.compact`, recommit the stage's manifest markers under a
`compact:` lineage (any later full-pipeline resume sees a lineage change and
rebuilds rather than silently reusing pre-compaction markers), then
atomically swap dirs and delete the folded batch dirs last. Progress is
journaled in `_COMPACT_STATE.json` (written only after every scratch dir is
complete); any crash rolls FORWARD on the next entry — swaps are
existence-guarded renames, so re-applying them is idempotent, and because
increments are deleted only at the very end, every intermediate state still
reads correctly. The frozen IDF is deliberately NOT refit at compaction
(vocabulary refresh ⇒ full rebuild via the config/lineage hash, same
contract as incremental mode itself).

Sandbox demo (no external data): `--demo tiny` generates the fixtures
corpus, runs the BASE pipeline on the ~80% of records with
pmod(xxhash64(url), 5) != 0, then appends the remaining ~20% and evaluates
pairwise F1 of the updated clustering against the full labeled set. Demo
re-runs wipe `increments/` first (the base pipeline rebuild resets
`clusters/`, so stale increments would otherwise look crash-orphaned).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.config import DEFAULT_CONFIG
from entity_matching_in_online_retail_spark.plans import evaluate as EV
from entity_matching_in_online_retail_spark.plans.append import (
    _inc_dir,
    _list_batches,
    _load_known_offers,
    append_batch,
    compact_workdir,
)
from entity_matching_in_online_retail_spark.plans.pipeline import ERPipeline
from entity_matching_in_online_retail_spark.session import get_spark

DEMO_SIZES = {"tiny": 50, "small": 2000}


# --------------------------------------------------------------------- cli


def main() -> int:
    ap = argparse.ArgumentParser(description="incremental ER append")
    ap.add_argument("--workdir", required=True, help="stage dir of a prior run")
    ap.add_argument("--new", help="web_pages parquet of the new batch")
    ap.add_argument("--labeled", help="labeled_pairs parquet for evaluation")
    ap.add_argument("--demo", choices=sorted(DEMO_SIZES), help="self-contained demo")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--compact-every", type=int, default=16, metavar="K",
        help="fold increments into the base stores once K committed batches "
             "accumulate (0 = never automatically)",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="compact now (no --new needed) and exit",
    )
    args = ap.parse_args()

    spark = get_spark("er_append", cores=args.cores)
    cfg = DEFAULT_CONFIG
    os.makedirs(args.workdir, exist_ok=True)
    t0 = time.time()

    if args.compact:
        out = compact_workdir(spark, args.workdir, cfg)
        out["elapsed_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
        spark.stop()
        return 0

    if args.demo:
        corpus_dir = os.path.join(args.workdir, "corpus")
        if not os.path.isdir(os.path.join(corpus_dir, "web_pages")):
            print(f"generating demo corpus ({args.demo}) ...", flush=True)
            corpus = fx.generate_corpus(n_entities=DEMO_SIZES[args.demo])
            fx.write_corpus(spark, corpus, corpus_dir)
        pages = spark.read.parquet(os.path.join(corpus_dir, "web_pages"))
        args.labeled = os.path.join(corpus_dir, "labeled_pairs")
        is_new = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
        base_pages, new_pages = pages.where(~is_new), pages.where(is_new)
        # The base rebuild resets clusters/; drop increments with it so the
        # demo is a deterministic base-plus-one-batch scenario every run.
        shutil.rmtree(os.path.join(args.workdir, "increments"), ignore_errors=True)
        print("running base pipeline on the ~80% split ...", flush=True)
        ERPipeline(spark, args.workdir, cfg).run(
            base_pages, labeled_urls=spark.read.parquet(args.labeled)
        )
    else:
        if not args.new:
            ap.error("--new or --demo required")
        new_pages = spark.read.parquet(args.new)

    out = append_batch(spark, args.workdir, new_pages, cfg)
    if args.compact_every and len(
        [b for b in _list_batches(_inc_dir(args.workdir, "offers"))]
    ) >= args.compact_every:
        out.update(compact_workdir(spark, args.workdir, cfg))
    out["elapsed_sec"] = round(time.time() - t0, 2)

    if args.labeled:
        _, known = _load_known_offers(spark, args.workdir)
        labeled_ids = EV.labeled_pairs_to_ids(
            spark.read.parquet(args.labeled), known
        )
        clusters = spark.read.parquet(os.path.join(args.workdir, "clusters"))
        m = EV.confusion(EV.cluster_predictions(labeled_ids, clusters))
        out.update(
            precision=round(m.precision, 4), recall=round(m.recall, 4),
            f1=round(m.f1, 4),
        )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
