"""The end-to-end ER pipeline as a manifest-gated stage DAG.

    ingest/normalize ──▶ offers/     (checkpoint)
    tf-idf fit+vectors ─▶ attrs/     (checkpoint)
    block ▶ pairs      ─▶ pairs/     (checkpoint, north rule)
    features + score   ─▶ scores/    (checkpoint, north rule)
    threshold ▶ CC     ─▶ clusters/
    eval               ─▶ metrics in manifests

Every stage writes parquet partitioned by `part_id` (pmod of a stable
xxhash64 key, `sources/manifest.PART_KEYS`) plus one JSON commit marker per
partition carrying lineage (config hash + upstream manifest fingerprint) and
per-partition metrics.
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


def _model_path(workdir: str) -> str:
    return os.path.join(workdir, "model.json")


def save_model(
    workdir: str, matcher: M.LinearMatcher, threshold: float,
    lineage: str, config_hash: str,
) -> None:
    MF.write_json(
        _model_path(workdir),
        {
            "feature_cols": list(matcher.feature_cols),
            "coefficients": list(matcher.coefficients),
            "intercept": matcher.intercept,
            "threshold": threshold,
            "lineage": lineage,
            "config_hash": config_hash,
        },
    )


def load_model(
    workdir: str, lineage: str | None = None, config_hash: str | None = None
) -> tuple[M.LinearMatcher, float] | None:
    """The workdir's saved (matcher, threshold); None when model.json is
    absent or, if `lineage`/`config_hash` are given, was trained under
    another one."""
    path = _model_path(workdir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        saved = json.load(f)
    if lineage is not None and saved.get("lineage") != lineage:
        return None
    if config_hash is not None and saved.get("config_hash") != config_hash:
        return None
    matcher = M.LinearMatcher(
        tuple(saved["feature_cols"]),
        tuple(saved["coefficients"]),
        float(saved["intercept"]),
    )
    return matcher, float(saved["threshold"])


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
    ):
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.catalog = Catalog(spark, workdir)
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
                if os.path.isdir(stage_dir):
                    import shutil

                    shutil.rmtree(stage_dir)
            is_pending = F.col("part_id").isin([int(p) for p in pending])
            self.catalog.write(
                build().where(is_pending), stage, mode="overwrite",
                partition_by=["part_id"], dynamic=True,
            )
            # Per-partition metrics from the data that actually landed (G2).
            MF.commit_stage_metrics(
                self.workdir, stage, self.catalog.read(stage).where(is_pending),
                pending, self.cfg_hash, lineage, ts_col=ts_col,
            )
        return self.catalog.read(stage)

    def stage_offers(self, pages: DataFrame, use_html: bool = True) -> DataFrame:
        n = self.cfg.n_checkpoint_partitions

        def build() -> DataFrame:
            off = normalize_web_pages(
                pages, lang=self.cfg.lang_filter, use_html=use_html
            )
            return MF.with_part_id(off, "offers", n)

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
            return MF.with_part_id(FE.offers_with_vectors(offers, idf), "attrs", n)

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
            return MF.with_part_id(
                B.candidate_pairs(capped, self.cfg.blocking), "pairs", n
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
            return MF.with_part_id(M.score_pairs(feats, matcher), "scores", n)

        return self._checkpoint_stage("scores", fp, build)

    # ----------------------------------------------------------------- model

    def train_or_load(
        self, labeled_ids: DataFrame, attrs: DataFrame, lineage: str
    ) -> tuple[M.LinearMatcher, float]:
        """Train the classifier on labeled pair features (M1) and tune the
        threshold on the validation split; persist + reuse across resumes."""
        saved = load_model(self.workdir, lineage, self.cfg_hash)
        if saved is not None:
            return saved
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
        save_model(self.workdir, matcher, tau, lineage, self.cfg_hash)
        return matcher, tau

    # ------------------------------------------------------------------- run

    def run(
        self,
        pages: DataFrame,
        labeled_urls: DataFrame | None = None,
    ) -> RunResult:
        offers = self.stage_offers(pages)
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
            MF.write_json(
                os.path.join(self.workdir, "eval.json"),
                {
                    "tp": metrics.tp, "fp": metrics.fp,
                    "fn": metrics.fn, "tn": metrics.tn,
                    "precision": metrics.precision,
                    "recall": metrics.recall,
                    "f1": metrics.f1,
                    "threshold": tau,
                },
            )
        return RunResult(clusters=clusters, metrics=metrics, model=matcher, threshold=tau)
