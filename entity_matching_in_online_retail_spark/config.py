"""Frozen pipeline configuration.

BASELINE.json's north rule requires F1 >= 0.99 "under the same blocking keys";
these constants ARE the blocking keys' definition (FIXTURES.md section 5) and
are hashed into stage manifests so a resume with different config recomputes.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class BlockingConfig:
    # MinHash/LSH: k = bands * rows signature length; band id is the block key.
    # b=32 x r=2 puts the S-curve threshold near J~0.17 with catch>=0.996 at
    # J=0.4 — sized to the corpus noise tier (same-entity pairs bottom out
    # around token-Jaccard 0.4); candidate explosion is bounded by block_cap.
    minhash_k: int = 64
    lsh_bands: int = 32
    lsh_rows: int = 2
    # Hash seeds: xxhash64(token, seed) for seed in range(minhash_k).
    # Secondary cheap blocker: first N tokens (sorted) of the normalized title.
    prefix_tokens: int = 2
    # Per-block candidate-pair cap (W1): blocks larger than this are capped by
    # keeping the first `block_cap` members by record_id (deterministic).
    block_cap: int = 200
    # Skew salting: blocks with > salt_threshold members get `salt_buckets`
    # sub-blocks via pmod(xxhash64(record_id), salt_buckets) on one side.
    salt_threshold: int = 50
    salt_buckets: int = 8

    def __post_init__(self) -> None:
        # candidate_pairs splits small/hot on the POST-cap block size, so a
        # cap at or below the salt threshold would silently salt nothing.
        if self.block_cap <= self.salt_threshold:
            raise ValueError(
                f"block_cap ({self.block_cap}) must exceed salt_threshold "
                f"({self.salt_threshold})"
            )
        if self.lsh_bands * self.lsh_rows != self.minhash_k:
            raise ValueError(
                f"lsh_bands * lsh_rows ({self.lsh_bands} * {self.lsh_rows}) "
                f"must equal minhash_k ({self.minhash_k})"
            )


@dataclass(frozen=True)
class ScoringConfig:
    # Feature columns computed per candidate pair, in assembly order.
    feature_cols: tuple[str, ...] = (
        "jaccard",
        "lev_sim",
        "jw_sim",
        "tfidf_cos",
        "price_sim",
        "brand_eq",
    )
    # Match threshold on the calibrated classifier probability.
    threshold: float = 0.5
    # Cheap-feature cascade gate: candidate pairs with token Jaccard below
    # this are dropped before the Python-side features (certain non-matches).
    gate_jaccard: float = 0.15

    def __post_init__(self) -> None:
        # Both are compared against probabilities / Jaccard values in [0, 1];
        # outside it the gate drops every pair or none, silently.
        for name in ("gate_jaccard", "threshold"):
            v = getattr(self, name)
            if not 0 <= v <= 1:
                raise ValueError(f"{name} ({v}) must lie in [0, 1]")


@dataclass(frozen=True)
class PipelineConfig:
    # Bump on stage-output schema/semantics changes: part of the config hash,
    # so existing checkpoints are invalidated on upgrade.
    version: str = "3"
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    lang_filter: str = "en"
    # Number of url-hash partitions for per-partition checkpoint/lineage.
    n_checkpoint_partitions: int = 8

    def __post_init__(self) -> None:
        # _checkpoint_stage treats range(n) as the stage's partitions; with
        # none, nothing is ever pending and a filled workdir's old stage data
        # would be returned under the new config.
        if self.n_checkpoint_partitions < 1:
            raise ValueError(
                f"n_checkpoint_partitions ({self.n_checkpoint_partitions}) "
                "must be >= 1"
            )

    def config_hash(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True, default=list)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


DEFAULT_CONFIG = PipelineConfig()
