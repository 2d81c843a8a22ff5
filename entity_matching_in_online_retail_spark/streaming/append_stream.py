"""Continuous-crawl incremental ER: a web-page file stream resolved
micro-batch by micro-batch against an existing clustering.

This ties the two incremental stories together: Structured Streaming
provides exactly-once micro-batching over a landing directory (file-source
offsets in the checkpoint), and each micro-batch goes through the SAME
`plans.append.append_batch` the spark-submit CLI uses — so every
micro-batch inherits the whole append contract: O(increment) work against
the persisted idf/block_keys artifacts, atomic commit-markered batch dirs,
merge-only semantics, per-batch merge audit, crash self-healing. A crash
mid-micro-batch is the already-tested append crash window; on restart the
file source replays the unacknowledged files and `append_batch`'s
anti-join/no-op/recovery logic converges (replayed records that landed are
dropped, half-landed batches heal).

Streaming-specific guarantees on top:
  - availableNow trigger by default: drain everything in the directory,
    then stop — deterministic for tests and for cron-style "process the
    night's crawl" deployments; swap for processingTime on a live feed.
  - micro-batch boundaries do not affect the result: chained appends are
    label-equivalent to a one-shot batch run (test_append_chain), so ANY
    file-to-micro-batch assignment converges to the same clustering.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..plans.append import append_batch
from .ingest import read_web_pages_stream


def stream_append(
    spark: SparkSession,
    workdir: str,
    input_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """Stream web-page files from `input_dir`, resolving each micro-batch
    against `workdir`'s clustering. Returns the started StreamingQuery."""

    pages = read_web_pages_stream(spark, input_dir)

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch(spark, workdir, batch_df, cfg)

    writer = (
        pages.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
