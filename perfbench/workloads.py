"""The benchmark's workloads: what one op is, how it is checked, how it is
traced, and which layer counts it reports.

Each workload generates its input from the seed in `setup()` (inside the
timed set-up, every run) and exposes `op()` for the closed measuring loop.
`op(tracer)` runs the same op with spans around the calls into each layer;
`trace_extras(tracer)` runs the layers the op itself does not reach.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark import fixtures as fx
from entity_matching_in_online_retail_spark.operators import cluster as C
from entity_matching_in_online_retail_spark.plans import append as AP
from entity_matching_in_online_retail_spark.plans import curate as CUR
from entity_matching_in_online_retail_spark.plans import evaluate as EV
from entity_matching_in_online_retail_spark.plans import pipeline as PL

from tracing import Tracer, TracedModule, log, patched

MIN_F1 = 0.99
# Corpus shape (entities, hot entities, hot entity size): ~1.5k pages on
# most seeds.
SHAPE = (200, 1, 30)


def sample_corpus(seed: int, n_pages: int) -> tuple[fx.Corpus, pd.DataFrame]:
    """The generated corpus for `seed` and `n_pages` of its pages in a seeded
    random order. Every seed gets the same input size, so input size does not
    spread the per-record metrics; a seed whose corpus is too small is
    generated with more entities."""
    e, hot, hot_size = SHAPE
    while True:
        corpus = fx.generate_corpus(
            n_entities=e, hot_entities=hot, hot_size=hot_size, seed=seed
        )
        if len(corpus.web_pages) >= n_pages:
            break
        e += 100
    order = np.random.default_rng(seed).permutation(len(corpus.web_pages))
    return corpus, corpus.web_pages.iloc[order[:n_pages]]


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the regular files under `path`; with `since`, only files
    modified at or after that wall-clock time (what an op wrote)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def write_parquet(df: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write `df` as `files` parquet files without Spark, so set-up runs no
    Spark job and the op pays every cold cost a fresh job pays."""
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(df)), files)):
        df.iloc[rows].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


@dataclass
class OpResult:
    records: int  # input records the op processed
    stored_bytes: int  # bytes the op left in its output
    errors: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)  # traced op only


class ERBatch:
    """One `ERPipeline.run(pages, labeled_urls)` into a fresh workdir, as the
    first op of a fresh Spark session: the cold job a spark-submit of the
    pipeline pays. The traced run then appends a held-out increment."""

    name = "er_batch"
    N_PAGES = 1100  # pages the op resolves
    N_NEW = 110  # pages the traced run appends
    # (offers, candidate pairs, scored rows) per seed, pinned from a reference
    # run; other seeds are checked against their first op.
    PINNED: dict[int, tuple[int, int, int]] = {42: (760, 9169, 7162)}

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.reference: tuple[int, int, int] | None = self.PINNED.get(seed)
        self.n_ops = 0

    def setup(self) -> None:
        corpus, pages = sample_corpus(self.seed, self.N_PAGES + self.N_NEW)
        # Spark reads a UTC-adjusted parquet timestamp as `timestamp`.
        pages = pages.assign(warc_ts=pages["warc_ts"].dt.tz_localize("UTC"))
        input_dir = os.path.join(self.work, "input")
        write_parquet(pages.iloc[: self.N_PAGES], os.path.join(input_dir, "web_pages"))
        write_parquet(pages.iloc[self.N_PAGES :], os.path.join(input_dir, "increment"), files=1)
        write_parquet(corpus.labeled_pairs, os.path.join(input_dir, "labeled_pairs"), files=1)
        self.input_bytes = dir_bytes(os.path.join(input_dir, "web_pages")) + dir_bytes(
            os.path.join(input_dir, "labeled_pairs")
        )
        read = self.spark.read.schema(fx.WEB_PAGES_DDL).parquet
        self.pages = read(os.path.join(input_dir, "web_pages"))
        self.new_pages = read(os.path.join(input_dir, "increment"))
        self.labeled = self.spark.read.parquet(os.path.join(input_dir, "labeled_pairs"))

    def op(self, tracer: Tracer | None = None) -> OpResult:
        wd = os.path.join(self.work, "ops", f"er-{self.n_ops}")
        self.n_ops += 1
        pipe = PL.ERPipeline(self.spark, wd)
        if tracer is None:
            res = pipe.run(self.pages, self.labeled)
        else:
            with ExitStack() as stack:
                self._trace(pipe, tracer, stack)
                with tracer.span("op"):
                    res = pipe.run(self.pages, self.labeled)
            tracer.finish()
        out = self._check(wd, res)
        if tracer is None:
            shutil.rmtree(wd)
        else:
            out.counts = self._counts(wd, res, tracer)
            self.traced_wd = wd
        return out

    @staticmethod
    def _trace(pipe, tracer: Tracer, stack: ExitStack) -> None:
        for method, layer in (
            ("stage_offers", "normalize"),
            ("stage_attrs", "similarity"),
            ("stage_pairs", "blocking"),
            ("train_or_load", "model"),
            ("stage_scores", "features"),
        ):
            setattr(pipe, method, tracer.wrap(getattr(pipe, method), layer))
        write = pipe.catalog.write

        def catalog_write(df, name, *args, **kwargs):
            if name != "clusters":
                return write(df, name, *args, **kwargs)
            with tracer.span("cluster"):
                return write(df, name, *args, **kwargs)

        pipe.catalog.write = catalog_write
        cluster = TracedModule(C, tracer, {
            "connected_components": ("cluster", False),
            "assign_clusters": ("cluster", True),
        })
        evaluate = TracedModule(EV, tracer, {
            "labeled_pairs_to_ids": ("evaluate", True),
            "cluster_predictions": ("evaluate", True),
            "confusion": ("evaluate", False),
        })
        stack.enter_context(patched(PL, "C", cluster))
        stack.enter_context(patched(PL, "EV", evaluate))

    def _rows(self, wd: str, stage: str) -> int:
        return self.spark.read.parquet(os.path.join(wd, stage)).count()

    def _check(self, wd: str, res) -> OpResult:
        got = tuple(self._rows(wd, s) for s in ("offers", "pairs", "scores"))
        log(f"seed {self.seed}: (offers, pairs, scores) = {got}, F1 {res.metrics and res.metrics.f1}")
        out = OpResult(records=self.N_PAGES, stored_bytes=dir_bytes(wd))
        if res.metrics is None or res.metrics.f1 < MIN_F1:
            out.errors.append(f"pairwise F1 {res.metrics and res.metrics.f1} < {MIN_F1}")
        self.got = got
        if self.reference is None:
            self.reference = got
        elif got != self.reference:
            out.errors.append(f"(offers, pairs, scores) {got} != expected {self.reference}")
        self.f1 = res.metrics.f1 if res.metrics else 0.0
        return out

    def _counts(self, wd: str, res, tracer: Tracer) -> dict[str, float]:
        records, pairs, scored = self.got
        clusters = self.spark.read.parquet(os.path.join(wd, "clusters"))
        counts = {
            "blocking.candidate_pairs": pairs,
            "blocking.pairs_per_record": pairs / records,
            "features.pairs_per_s": pairs / tracer.wall_s["features"],
            "features.gate_survival": scored / pairs,
            "cluster.edges": self.spark.read.parquet(os.path.join(wd, "scores"))
            .where(F.col("score") >= res.threshold).count(),
            "cluster.clusters": clusters.select("cluster_id").distinct().count(),
            "evaluate.pairwise_f1": self.f1,
            "catalog.bytes_written": dir_bytes(wd),
        }
        for stage in ("offers", "attrs", "idf", "pairs", "block_keys", "scores", "clusters"):
            counts[f"catalog.{stage}.bytes_written"] = dir_bytes(os.path.join(wd, stage))
        return counts

    def trace_extras(self, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
        """Append the increment to the traced op's workdir, then compact."""
        wd = self.traced_wd
        errors = []
        start = time.time()
        with tracer.span("append"):
            out = AP.append_batch(self.spark, wd, self.new_pages)
        appended = dir_bytes(wd, since=start)
        _, known = AP._load_known_offers(self.spark, wd)
        clusters = self.spark.read.parquet(os.path.join(wd, "clusters"))
        f1 = EV.confusion(
            EV.cluster_predictions(EV.labeled_pairs_to_ids(self.labeled, known), clusters)
        ).f1
        if f1 < MIN_F1:
            errors.append(f"pairwise F1 after append {f1} < {MIN_F1}")
        start = time.time()
        with tracer.span("compact"):
            AP.compact_workdir(self.spark, wd)
        tracer.finish()
        return {
            "append.new_records": out["new_records"],
            "append.merges": out["merges"],
            "append.bytes_written": appended,
            "compact.bytes_rewritten": dir_bytes(wd, since=start),
        }, errors


class CurateFunnel:
    """One `curate_observed` (near-dup on) + survivor write + `report()`, as
    the first op of a fresh Spark session."""

    name = "curate_funnel"
    N_DOCS = 1200
    HOLDOUT = 97  # every 97th document is the decontamination set
    CONFIG = CUR.CurateConfig(
        allowed_langs=("en", "und"),
        min_quality=0.5,
        near_dup_threshold=0.8,
    )
    # Retention report {stage: (n_docs, id_ck)} per seed, pinned from a
    # reference run.
    PINNED: dict[int, dict[str, tuple[int, int]]] = {
        42: {
            "lang": (2, 1583),
            "contaminated": (223, 132185),
            "exact_dup": (34, 28120),
            "near_dup": (46, 36227),
            "sampled_out": (267, 152741),
            "kept": (615, 360978),
        },
    }

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_ops = 0

    def setup(self) -> None:
        _, pages = sample_corpus(self.seed, self.N_DOCS)
        docs = pd.DataFrame({
            "doc_id": np.arange(self.N_DOCS, dtype=np.int64),
            "text": pages["text"].to_numpy(),
        })
        path = os.path.join(self.work, "input", "docs")
        write_parquet(docs, path)
        self.input_bytes = dir_bytes(path)
        docs_df = self.spark.read.parquet(path)
        held_out = F.pmod(F.col("doc_id"), F.lit(self.HOLDOUT)) == 0
        self.benchmark = docs_df.where(held_out)
        self.corpus = docs_df.where(~held_out)
        self.n_docs = int((docs["doc_id"] % self.HOLDOUT != 0).sum())

    def op(self, tracer: Tracer | None = None) -> OpResult:
        out_dir = os.path.join(self.work, "ops", f"curate-{self.n_ops}")
        self.n_ops += 1
        with ExitStack() as stack:
            if tracer is not None:
                stack.enter_context(tracer.span("op"))
                stack.enter_context(tracer.span("curate"))
            survivors, report = CUR.curate_observed(self.corpus, self.benchmark, self.CONFIG)
            survivors.write.parquet(out_dir)
            report = report()
        if tracer is not None:
            tracer.finish()
        log(f"seed {self.seed}: retention report {report}")
        out = OpResult(records=self.n_docs, stored_bytes=dir_bytes(out_dir))
        kept = report.get("kept", (0, 0))[0]
        if sum(n for n, _ in report.values()) != self.n_docs:
            out.errors.append(f"retention report {report} does not cover {self.n_docs} docs")
        if self.spark.read.parquet(out_dir).count() != kept:
            out.errors.append(f"survivor rows != kept count {kept}")
        pinned = self.PINNED.get(self.seed)
        if pinned is not None and report != pinned:
            out.errors.append(f"retention report {report} != expected {pinned}")
        if tracer is not None:
            out.counts = {"curate.kept_frac": kept / self.n_docs}
        shutil.rmtree(out_dir)
        return out

    def trace_extras(self, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
        return {}, []


WORKLOADS = {w.name: w for w in (ERBatch, CurateFunnel)}
