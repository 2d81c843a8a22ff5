"""Per-partition stage manifests: lineage + metrics + idempotent resume.

Layout per stage: `{workdir}/{stage}/` holds the data (parquet, partitioned
by part_id) and `{workdir}/_manifests/{stage}/p{part}.json` one commit marker
per partition, written strictly AFTER the partition's data lands. A killed
run therefore leaves at most torn data for uncommitted partitions, which the
resume overwrite replaces (dynamic partition overwrite).

Each marker records lineage (config hash + upstream manifest fingerprint) and
per-partition metrics (row count, content checksum, min/max timestamps) —
the north rule's "per-partition lineage + metrics".

This module is the one owner of that on-disk contract: which columns hash
to each stage's `part_id` (`PART_KEYS` / `with_part_id`), what a marker's
metrics are (`commit_stage_metrics`) and how a JSON file is committed
(`write_json`). ERPipeline and compaction both call these.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns whose xxhash64 (pmod n_checkpoint_partitions) is a stage's part_id.
PART_KEYS: dict[str, tuple[str, ...]] = {
    "offers": ("url",),
    "attrs": ("record_id",),
    "pairs": ("id_l", "id_r"),
    "scores": ("id_l", "id_r"),
}


def with_part_id(df: DataFrame, stage: str, n_parts: int) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(*PART_KEYS[stage]), F.lit(n_parts)).cast("int")
    )


def write_json(path: str, obj: Any) -> None:
    """Commit `obj` as JSON at `path` atomically: a crash mid-write leaves
    only the `.tmp` file, never a torn `path`."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


def _manifest_dir(workdir: str, stage: str) -> str:
    return os.path.join(workdir, "_manifests", stage)


def partition_marker_path(workdir: str, stage: str, part: int) -> str:
    return os.path.join(_manifest_dir(workdir, stage), f"p{part}.json")


def commit_partition(
    workdir: str,
    stage: str,
    part: int,
    config_hash: str,
    lineage: str,
    metrics: dict[str, Any],
) -> None:
    os.makedirs(_manifest_dir(workdir, stage), exist_ok=True)
    write_json(
        partition_marker_path(workdir, stage, part),
        {
            "stage": stage,
            "part": part,
            "config_hash": config_hash,
            "lineage": lineage,
            "metrics": metrics,
        },
    )


def commit_stage_metrics(
    workdir: str,
    stage: str,
    df: DataFrame,
    parts: list[int],
    config_hash: str,
    lineage: str,
    ts_col: str | None = None,
    replace: bool = False,
) -> None:
    """Measure `df`'s per-partition metrics (rows, content checksum, min/max
    `ts_col`) in ONE Spark job and commit a marker for every part in
    `parts`; a part with no rows gets rows=0. `df` is the data that
    actually landed, read back with its `part_id` column. `replace` clears
    the stage's other markers first — after the job, so a failed job leaves
    the previous markers in place.

    Round-6 note: folding these metrics into the write via observe() (one
    conditional aggregate per pending part, the CC-fingerprint pattern) was
    implemented and measured-REJECTED: CollectMetrics evaluates its
    accumulator expressions per row in interpreted mode, which on the
    20M-row pairs / 1.3M-row scores writes cost ~3s (scores stage A/B:
    14.1s vs 11.1s min, OPTIMIZATION_r06.md) — more than the ~0.4-1.1s
    columnar re-read job it replaces. The separate codegen'd metrics pass
    stays."""
    first_col = [c for c in df.columns if c != "part_id"][0]
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64(first_col), F.lit(1_000_000_007))), F.lit(0)
        ).alias("checksum"),
    ]
    if ts_col and ts_col in df.columns:
        aggs += [
            F.min(ts_col).cast("string").alias("min_ts"),
            F.max(ts_col).cast("string").alias("max_ts"),
        ]
    stats = {
        int(r["part_id"]): r.asDict() for r in df.groupBy("part_id").agg(*aggs).collect()
    }
    if replace:
        clear_stage(workdir, stage)
    for p in parts:
        m = stats.get(p, {"rows": 0, "checksum": 0})
        m.pop("part_id", None)
        commit_partition(workdir, stage, p, config_hash, lineage, m)


def done_partitions(workdir: str, stage: str, config_hash: str, lineage: str) -> set[int]:
    """Partitions already committed under the SAME config + upstream lineage."""
    d = _manifest_dir(workdir, stage)
    if not os.path.isdir(d):
        return set()
    done: set[int] = set()
    for fn in os.listdir(d):
        if not (fn.startswith("p") and fn.endswith(".json")):
            continue
        try:
            with open(os.path.join(d, fn)) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if m.get("config_hash") == config_hash and m.get("lineage") == lineage:
            done.add(int(m["part"]))
    return done


def stage_fingerprint(workdir: str, stage: str) -> str:
    """Order-independent fingerprint of a stage's committed markers; feeds the
    next stage's `lineage` so config changes propagate invalidation."""
    d = _manifest_dir(workdir, stage)
    if not os.path.isdir(d):
        return "absent"
    h = hashlib.sha256()
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def clear_stage(workdir: str, stage: str) -> None:
    d = _manifest_dir(workdir, stage)
    if os.path.isdir(d):
        for fn in os.listdir(d):
            os.remove(os.path.join(d, fn))


def read_all_metrics(workdir: str) -> list[dict[str, Any]]:
    root = os.path.join(workdir, "_manifests")
    out = []
    if not os.path.isdir(root):
        return out
    for stage in sorted(os.listdir(root)):
        d = os.path.join(root, stage)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out.append(json.load(f))
    return out
