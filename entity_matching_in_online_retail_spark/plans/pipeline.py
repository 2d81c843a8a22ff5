"""The end-to-end ER pipeline as a manifest-gated stage DAG.

    ingest/normalize ──▶ offers/     (checkpoint)
    tf-idf fit+vectors ─▶ attrs/     (checkpoint)
    block ▶ pairs      ─▶ pairs/     (checkpoint, north rule)
    features + score   ─▶ scores/    (checkpoint, north rule)
    threshold ▶ CC     ─▶ clusters/
    eval               ─▶ metrics in manifests

Every stage writes parquet partitioned by `part_id` (pmod of a stable
xxhash64 key) plus one JSON commit marker per partition carrying lineage
(config hash + upstream manifest fingerprint) and per-partition metrics.
A killed run resumes idempotently: done partitions are skipped via the
manifest (left-anti in dataflow terms), pending partitions are recomputed
and replaced with dynamic partition overwrite. Changing the config or any
upstream stage changes the lineage string and invalidates downstream markers.

At 100 TB the part_id becomes Iceberg hidden partitioning
(bucket(domain) x days(warc_ts)) and each stage is one spark-submit job; the
manifest logic is unchanged.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions import similarity as S
from ..operators import blocking as B
from ..operators import cluster as C
from ..operators import features as FE
from ..operators import model as M
from ..operators.normalize import normalize_web_pages
from ..sources import manifest as MF
from ..sources.catalog import Catalog
from . import evaluate as EV

# Hand-set fallback matcher for unlabeled runs (rule-based score).
DEFAULT_MATCHER = M.LinearMatcher(
    feature_cols=("jaccard", "lev_sim", "jw_sim", "tfidf_cos", "price_sim", "brand_eq"),
    coefficients=(6.0, 2.0, 3.0, 4.0, 1.0, 1.0),
    intercept=-9.0,
)


@dataclass
class RunResult:
    clusters: DataFrame
    metrics: EV.PairMetrics | None
    model: M.LinearMatcher
    threshold: float


class ERPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        fmt: str = "parquet",
    ):
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.catalog = Catalog(spark, workdir, fmt)
        self.cfg_hash = cfg.config_hash()

    # ---------------------------------------------------------------- stages

    def _checkpoint_stage(
        self,
        stage: str,
        upstream_fp: str,
        build: Callable[[], DataFrame],
        ts_col: str | None = None,
    ) -> DataFrame:
        """Generic manifest-gated stage. `build()` must return a DataFrame
        that already carries an int `part_id` column in [0, n_parts)."""
        n = self.cfg.n_checkpoint_partitions
        lineage = f"{upstream_fp}"
        done = MF.done_partitions(self.workdir, stage, self.cfg_hash, lineage)
        pending = sorted(set(range(n)) - done)
        if pending:
            if len(done) == 0:
                # Full rebuild (config/lineage change): clear markers AND the
                # stage data dir. Dynamic partition overwrite only replaces
                # part_ids present in the NEW data, so a partition that is now
                # empty would otherwise keep stale rows from the old lineage
                # while its fresh marker records rows=0 — corrupt mixed
                # lineage on read.
                MF.clear_stage(self.workdir, stage)
                stage_dir = self.catalog.path(stage)
                if self.catalog.fmt == "parquet" and os.path.isdir(stage_dir):
                    import shutil

                    shutil.rmtree(stage_dir)
            df = build()
            df_pending = df.where(F.col("part_id").isin([int(p) for p in pending]))
            self.catalog.write(
                df_pending, stage, mode="overwrite",
                partition_by=["part_id"], dynamic=True,
            )
            # Per-partition metrics from the data that actually landed (G2).
            # Round-6 note: folding these into the write via observe() (one
            # conditional aggregate per pending part, the CC-fingerprint
            # pattern) was implemented and measured-REJECTED: CollectMetrics
            # evaluates its accumulator expressions per row in interpreted
            # mode, which on the 20M-row pairs / 1.3M-row scores writes cost
            # ~3s (scores stage A/B: 14.1s vs 11.1s min, OPTIMIZATION_r06.md)
            # — more than the ~0.4-1.1s columnar re-read job it replaces.
            # The separate codegen'd metrics pass stays.
            written = self.catalog.read(stage).where(
                F.col("part_id").isin([int(p) for p in pending])
            )
            first_col = [c for c in written.columns if c != "part_id"][0]
            aggs = [
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.pmod(F.xxhash64(first_col), F.lit(1_000_000_007))),
                    F.lit(0),
                ).alias("checksum"),
            ]
            if ts_col and ts_col in written.columns:
                aggs += [
                    F.min(ts_col).cast("string").alias("min_ts"),
                    F.max(ts_col).cast("string").alias("max_ts"),
                ]
            stats = {
                int(r["part_id"]): r.asDict()
                for r in written.groupBy("part_id").agg(*aggs).collect()
            }
            for p in pending:
                m = stats.get(p, {"rows": 0, "checksum": 0})
                m.pop("part_id", None)
                MF.commit_partition(self.workdir, stage, p, self.cfg_hash, lineage, m)
        return self.catalog.read(stage)

    def stage_offers(self, pages: DataFrame, use_html: bool = True) -> DataFrame:
        n = self.cfg.n_checkpoint_partitions

        def build() -> DataFrame:
            off = normalize_web_pages(
                pages, lang=self.cfg.lang_filter, use_html=use_html
            )
            return off.withColumn("part_id", F.pmod(F.xxhash64("url"), F.lit(n)).cast("int"))

        return self._checkpoint_stage("offers", "input", build, ts_col="warc_ts")

    def stage_attrs(self, offers: DataFrame) -> DataFrame:
        fp = MF.stage_fingerprint(self.workdir, "offers")
        n = self.cfg.n_checkpoint_partitions

        def build() -> DataFrame:
            # Persist the fitted IDF as a first-class artifact BEFORE deriving
            # attrs from it: the append path (jobs/run_append.py) loads this
            # table instead of refitting over the whole corpus — the O(corpus)
            # pass happens once at the full run, appends stay O(increment).
            # attrs are computed from the read-back copy so the checkpoint and
            # the artifact can never drift.
            idf = S.fit_idf(offers)
            self.catalog.write(idf, "idf", mode="overwrite")
            idf = self.catalog.read("idf")
            attrs = FE.offers_with_vectors(offers, idf)
            return attrs.withColumn(
                "part_id", F.pmod(F.xxhash64("record_id"), F.lit(n)).cast("int")
            )

        return self._checkpoint_stage("attrs", f"offers:{fp}", build)

    def stage_pairs(self, offers: DataFrame) -> DataFrame:
        fp = MF.stage_fingerprint(self.workdir, "offers")
        n = self.cfg.n_checkpoint_partitions

        def build() -> DataFrame:
            # Persist per-record block keys (uncapped) as an artifact: appends
            # read these instead of recomputing LSH/prefix/domain keys over
            # the whole corpus (operators/incremental.py old_keys fast path).
            keys = B.all_block_keys(offers, self.cfg.blocking)
            self.catalog.write(keys, "block_keys", mode="overwrite")
            keys = self.catalog.read("block_keys")
            # capped blocks feed block_stats AND both (small/hot) join branches
            # — truncate the lineage once instead of recomputing LSH 4x.
            capped = B.cap_blocks(keys, self.cfg.blocking).localCheckpoint(eager=True)
            pairs = B.candidate_pairs(capped, self.cfg.blocking)
            return pairs.withColumn(
                "part_id", F.pmod(F.xxhash64("id_l", "id_r"), F.lit(n)).cast("int")
            )

        return self._checkpoint_stage("pairs", f"offers:{fp}", build)

    def stage_scores(
        self, pairs: DataFrame, attrs: DataFrame, matcher: M.LinearMatcher
    ) -> DataFrame:
        fp = (
            MF.stage_fingerprint(self.workdir, "pairs")
            + ":"
            + MF.stage_fingerprint(self.workdir, "attrs")
            + ":"
            + json.dumps([matcher.coefficients, matcher.intercept])
        )
        n = self.cfg.n_checkpoint_partitions

        def build() -> DataFrame:
            # With broadcast attribute fetches the scoring plan has no
            # shuffle, so task count would equal the checkpoint's file count
            # (8) — repartition the narrow pair table once to use every core.
            # Round 6: HASH repartition on the pair key instead of keyless
            # round-robin — round-robin pays a local sort of the whole pair
            # table first (sortBeforeRepartition, kept on for deterministic
            # retries; guide §2.5), while hash on the xxhash64-derived pair
            # key is deterministic with no sort and near-uniform. Measured
            # (alternated, warm, min/all of 4): 1.43s -> 0.69s for the bare
            # exchange at 20M pairs.
            n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            feats = FE.pair_features(
                pairs.select("id_l", "id_r").repartition(n_part, "id_l", "id_r"),
                attrs,
                gate_jaccard=self.cfg.scoring.gate_jaccard,
            )
            scored = M.score_pairs(feats, matcher)
            return scored.withColumn(
                "part_id", F.pmod(F.xxhash64("id_l", "id_r"), F.lit(n)).cast("int")
            )

        return self._checkpoint_stage("scores", fp, build)

    # ----------------------------------------------------------------- model

    def _model_path(self) -> str:
        return os.path.join(self.workdir, "model.json")

    def train_or_load(
        self, labeled_ids: DataFrame, attrs: DataFrame, lineage: str
    ) -> tuple[M.LinearMatcher, float]:
        """Train the classifier on labeled pair features (M1) and tune the
        threshold on the validation split; persist + reuse across resumes."""
        path = self._model_path()
        if os.path.exists(path):
            with open(path) as f:
                saved = json.load(f)
            if saved.get("lineage") == lineage and saved.get("config_hash") == self.cfg_hash:
                return (
                    M.LinearMatcher(
                        tuple(saved["feature_cols"]),
                        tuple(saved["coefficients"]),
                        float(saved["intercept"]),
                    ),
                    float(saved["threshold"]),
                )
        feats = FE.pair_features(labeled_ids.select("id_l", "id_r"), attrs).join(
            labeled_ids, ["id_l", "id_r"]
        )
        feats = feats.localCheckpoint(eager=True)
        # Round 6: coalesce the (small) labeled-feature checkpoint before
        # the fit — every L-BFGS iteration schedules one treeAggregate task
        # per partition, so ~100 iterations over 2*cores near-empty
        # partitions is pure scheduling overhead. Narrow merge AFTER the
        # checkpoint: the feature compute keeps full parallelism. Measured
        # (fresh JVM, interleaved, min/all of 3): sf0.1 16.5-16.9s ->
        # 15.7-16.0s; sf1 fit-only 7.60 -> 6.83 (round-5 memo #7).
        feats = feats.coalesce(8)
        train, val = M.split_train_val(feats)
        matcher = M.train_matcher(train, self.cfg.scoring.feature_cols)
        val_scored = M.score_pairs(val, matcher).select("score", "label")
        if val_scored.limit(1).count() == 0:
            tau = self.cfg.scoring.threshold
        else:
            tau, _ = M.best_threshold(val_scored)
        with open(path, "w") as f:
            json.dump(
                {
                    "feature_cols": list(matcher.feature_cols),
                    "coefficients": list(matcher.coefficients),
                    "intercept": matcher.intercept,
                    "threshold": tau,
                    "lineage": lineage,
                    "config_hash": self.cfg_hash,
                },
                f,
            )
        return matcher, tau

    # ------------------------------------------------------------------- run

    def run(
        self,
        pages: DataFrame,
        labeled_urls: DataFrame | None = None,
        use_html: bool = True,
    ) -> RunResult:
        offers = self.stage_offers(pages, use_html=use_html)
        attrs = self.stage_attrs(offers)
        pairs = self.stage_pairs(offers)

        if labeled_urls is not None:
            labeled_ids = EV.labeled_pairs_to_ids(labeled_urls, offers)
            labeled_ids = labeled_ids.localCheckpoint(eager=True)
            lineage = MF.stage_fingerprint(self.workdir, "attrs")
            matcher, tau = self.train_or_load(labeled_ids, attrs, lineage)
        else:
            labeled_ids = None
            matcher, tau = DEFAULT_MATCHER, self.cfg.scoring.threshold

        scores = self.stage_scores(pairs, attrs, matcher)
        edges = M.match_edges(scores, tau)
        comps = C.connected_components(edges)
        clusters = C.assign_clusters(offers.select("record_id"), comps)
        self.catalog.write(clusters, "clusters", mode="overwrite")
        clusters = self.catalog.read("clusters")

        metrics = None
        if labeled_ids is not None:
            preds = EV.cluster_predictions(labeled_ids, clusters)
            metrics = EV.confusion(preds)
            with open(os.path.join(self.workdir, "eval.json"), "w") as f:
                json.dump(
                    {
                        "tp": metrics.tp, "fp": metrics.fp,
                        "fn": metrics.fn, "tn": metrics.tn,
                        "precision": metrics.precision,
                        "recall": metrics.recall,
                        "f1": metrics.f1,
                        "threshold": tau,
                    },
                    f,
                )
        return RunResult(clusters=clusters, metrics=metrics, model=matcher, threshold=tau)
