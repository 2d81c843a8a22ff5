"""Continuous corpus curation: a documents file stream curated micro-batch
by micro-batch through the SAME funnel the batch path uses
(plans/curate.py), with a cross-batch exact-dedup store.

Stage semantics across batch boundaries:

- lang / quality / repetition / contamination / sampling are pure
  per-document functions — batch boundaries cannot change their verdicts.
- exact-dedup is the one cross-batch-stateful stage. The store records the
  md5 of every document that REACHED the dedup stage and won its group
  within its batch (the batch keepers) — NOT merely the kept documents.
  This is what keeps streaming label-equivalent to one-shot: in the batch
  funnel a duplicate of a keeper is 'exact_dup' even when the keeper
  itself is later sampled out; recording only kept md5s would let a later
  copy of a sampled-out keeper resurrect.
- near-dedup is out of scope for the stream (cross-batch near-dup needs
  the incremental-ER machinery, not a hash store); a config with
  near_dup_threshold set is rejected.

Keeper identity: one-shot keeps min(doc_id) per md5 group; the stream
keeps the first-arriving batch's within-batch minimum. When files land in
id order (the normal append-only producer), the two coincide exactly
(tested); under arbitrary arrival order the kept SET still contains
exactly one representative per group (tested), just not always the
globally-minimal id.

Crash/redelivery contract (same shape as plans/append.py): every applied
micro-batch persists

    <workdir>/kept/batch-NNNN/     the batch's curated output
    <workdir>/seen/batch-NNNN/     md5s of the batch's new keepers
    <workdir>/kept/batch-NNNN/_COMMITTED   (strictly last)

foreachBatch re-delivers a batch id after a crash; a marker-bearing batch
is skipped wholesale, and because the marker is written only after both
stores, a half-written batch re-runs from its inputs (overwrite mode) to
the identical result — re-delivery is a no-op on state (tested).

The seen store grows one directory per batch; fold it the way
plans/append.py compacts increments if batch counts grow unbounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import curate as CUR
from ..sources.manifest import write_json


def _batch_dir(workdir: str, store: str, batch_id: int) -> str:
    return os.path.join(workdir, store, f"batch-{batch_id:04d}")


def _marker(workdir: str, batch_id: int) -> str:
    return os.path.join(_batch_dir(workdir, "kept", batch_id), "_COMMITTED")


def _read_seen(spark: SparkSession, workdir: str) -> DataFrame | None:
    """md5s of COMMITTED batches only: a batch that crashed after writing
    its seen dir but before its marker must not poison its own redelivery
    (the anti-join would remove the batch's keepers and commit an EMPTY
    batch — reproduced before this guard), nor expose a torn parquet dir
    to later batches."""
    seen_root = os.path.join(workdir, "seen")
    if not os.path.isdir(seen_root):
        return None
    dirs = [
        os.path.join(seen_root, d)
        for d in sorted(os.listdir(seen_root))
        if d.startswith("batch-")
        and os.path.exists(
            os.path.join(workdir, "kept", d, "_COMMITTED")
        )
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs).select("md5").distinct()


def apply_curate_batch(
    spark: SparkSession,
    workdir: str,
    batch_df: DataFrame,
    batch_id: int,
    cfg: CUR.CurateConfig = CUR.CurateConfig(),
    benchmark: DataFrame | None = None,
) -> None:
    """Curate one micro-batch against the workdir's cross-batch state.

    Callable directly (tests, backfills) or via stream_curate's
    foreachBatch. Idempotent per batch_id.
    """
    if cfg.near_dup_threshold is not None:
        raise ValueError(
            "streaming curation does not support the near-dup stage; "
            "run near_dup_groups over the accumulated kept corpus instead"
        )
    if os.path.exists(_marker(workdir, batch_id)):
        return  # redelivered batch: already fully applied

    txt = cfg.text_col
    # _labeled keeps every original column (no re-join with batch_df), so
    # the funnel runs ONCE; the localCheckpoint below feeds all three
    # sinks (kept store, seen store, report) from the same computation.
    lab = CUR._labeled(batch_df, benchmark, cfg).withColumn(
        "_md5", F.md5(F.col(txt))
    )
    seen = _read_seen(spark, workdir)
    if seen is not None:
        # No broadcast hint: the seen store grows without bound across
        # batches and would eventually hit the broadcast size limit; let
        # the planner pick (AQE broadcasts while it is actually small).
        lab = lab.join(
            seen.withColumnRenamed("md5", "_seen_md5"),
            lab["_md5"] == F.col("_seen_md5"),
            "left",
        )
        cross_dup = F.col("_seen_md5").isNotNull()
    else:
        cross_dup = F.lit(False)
    # Effective label: a within-batch keeper (NULL or 'sampled_out' — the
    # keeper that lost only the final per-doc coin flip) whose md5 an
    # earlier batch already recorded is a cross-batch 'exact_dup', exactly
    # as the one-shot funnel would label it against the earlier keeper.
    keeper_like = F.col("drop_stage").isNull() | (
        F.col("drop_stage") == "sampled_out"
    )
    lab = lab.withColumn(
        "_eff",
        F.when(cross_dup & keeper_like, F.lit("exact_dup")).otherwise(
            F.col("drop_stage")
        ),
    )
    if seen is not None:
        lab = lab.drop("_seen_md5")
    lab = lab.localCheckpoint(eager=True)

    kept = lab.where(F.col("_eff").isNull()).select(
        *CUR._output_cols(lab.drop("_md5", "_eff"), cfg)
    )
    kept.write.mode("overwrite").parquet(_batch_dir(workdir, "kept", batch_id))
    new_keepers = lab.where(
        F.col("_eff").isNull() | (F.col("_eff") == "sampled_out")
    )
    new_keepers.select(F.col("_md5").alias("md5")).distinct().write.mode(
        "overwrite"
    ).parquet(_batch_dir(workdir, "seen", batch_id))

    # Report over EFFECTIVE labels, so cross-batch exact dups are counted
    # as exact_dup (not 'kept'): summed per-batch reports agree with
    # read_kept() across the whole run.
    report = {
        r["s"]: r["n"]
        for r in lab.groupBy(
            F.coalesce(F.col("_eff"), F.lit("kept")).alias("s")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    write_json(
        os.path.join(_batch_dir(workdir, "kept", batch_id), "_report.json"),
        {"batch_id": batch_id, "stages": report},
    )
    with open(_marker(workdir, batch_id), "w") as f:
        f.write("ok")


def read_kept(spark: SparkSession, workdir: str) -> DataFrame:
    """The accumulated curated corpus across all committed batches.

    Raises ValueError (not an opaque reader error) when no batch has
    committed yet — the corpus schema is unknowable before the first
    commit, so an empty frame cannot be fabricated."""
    kept_root = os.path.join(workdir, "kept")
    dirs = (
        [
            os.path.join(kept_root, d)
            for d in sorted(os.listdir(kept_root))
            if d.startswith("batch-")
            and os.path.exists(os.path.join(kept_root, d, "_COMMITTED"))
        ]
        if os.path.isdir(kept_root)
        else []
    )
    if not dirs:
        raise ValueError(f"no committed curation batches under {workdir}")
    return spark.read.parquet(*dirs)


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    checkpoint_dir: str,
    schema: str,
    cfg: CUR.CurateConfig = CUR.CurateConfig(),
    benchmark: DataFrame | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """Stream document files from `input_dir` through the curation funnel.

    Returns the started StreamingQuery. availableNow by default: drain the
    directory then stop (deterministic for tests / nightly-crawl cron);
    swap for processingTime on a live feed.
    """
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_curate_batch(spark, workdir, batch_df, batch_id, cfg, benchmark)

    writer = docs.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
