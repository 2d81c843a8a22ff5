"""Blocking: normalized keys + MinHash/LSH, block capping, salted self-join.

Per the north rule: "blocking is done with salted repartitioning on
minhash/LSH + normalized-domain keys to bound candidate-pair explosion and
tame skew". Three blockers, unioned, then capped and deduped:

  pf:  sorted-prefix key   — first `prefix_tokens` of sort_array(tokens)
  dm:  domain key          — registrable domain + first sorted token
  mh:  MinHash LSH bands   — b bands x r rows over xxhash64-seeded signature

Skew strategy (scale design, 100 TB):
  1. G1 block size per key (`_bsize`, a window riding cap_blocks' own
     partitioning) drives the salting decision.
  2. W1 per-block cap: blocks larger than `block_cap` keep the `block_cap`
     smallest record_ids (deterministic) — bounds worst-case pairs per block
     to cap^2/2 regardless of input skew.
  3. J7 salted self-join for blocks above `salt_threshold`: the left side
     keeps its own salt s(id), the right side is replicated x`salt_buckets`,
     joining on (block_key, salt). Every pair is produced exactly once while
     a hot block's pair generation spreads over `salt_buckets` reducer keys.
  4. AQE skew-join splitting remains enabled as a backstop for residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..config import BlockingConfig
from ..functions import hashing as H


def prefix_block_keys(
    offers: DataFrame, cfg: BlockingConfig, id_col: str = "record_id"
) -> DataFrame:
    """'pf:<tok1> <tok2>' from the lexicographically-first tokens."""
    key = F.concat_ws(
        " ", F.slice(F.sort_array("tokens"), 1, cfg.prefix_tokens)
    )
    return offers.select(
        F.col(id_col), F.concat(F.lit("pf:"), key).alias("block_key")
    ).where(F.length("block_key") > 3)


def leading_token_block_keys(
    offers: DataFrame, id_col: str = "record_id"
) -> DataFrame:
    """'bm:<tok1> <tok2>' from the leading tokens of the normalized text
    (brand+model position in product-offer text) — catches heavily-perturbed
    pairs whose head survived intact."""
    key = F.concat_ws(" ", F.slice(F.split("norm_text", " "), 1, 2))
    return offers.select(
        F.col(id_col), F.concat(F.lit("bm:"), key).alias("block_key")
    ).where(F.length("block_key") > 3)


def domain_block_keys(offers: DataFrame, id_col: str = "record_id") -> DataFrame:
    """'dm:<domain>:<first sorted token>' — normalized-domain blocker."""
    key = F.concat_ws(
        ":", F.lit("dm"), F.col("domain"), F.element_at(F.sort_array("tokens"), 1)
    )
    return offers.select(F.col(id_col), key.alias("block_key")).where(
        F.col("domain").isNotNull() & (F.size("tokens") > 0)
    )


def minhash_block_keys(
    offers: DataFrame, cfg: BlockingConfig, id_col: str = "record_id"
) -> DataFrame:
    sigs = H.minhash_signature(
        offers.where(F.size("tokens") > 0), id_col, "tokens", cfg.minhash_k
    )
    return H.lsh_band_keys(sigs, cfg.lsh_bands, cfg.lsh_rows, id_col)


def all_block_keys(
    offers: DataFrame, cfg: BlockingConfig, id_col: str = "record_id"
) -> DataFrame:
    """Union of all blockers: (record_id, block_key).

    Round-6 shape (guide §2.4, §6): the three cheap blockers (pf/bm/dm) come
    from ONE scan of offers via a single projection + explode instead of
    three separate scan branches; the MinHash branch keeps its codegen'd
    explode/groupBy signature (a per-row signature expression was
    measured-REJECTED — see H.minhash_signature). Key strings and their
    multiset are identical to the old 4-branch union (pinned by
    tests/test_blocking.py::test_fused_all_block_keys_equals_branch_union):
    per input row the cheap array holds exactly the pf/bm/dm keys the three
    branches would emit, with each branch's row filter expressed as a
    null-mask that the explode-side filter drops.
    """
    st = F.sort_array(F.col("tokens"))
    pf_key = F.concat(
        F.lit("pf:"), F.concat_ws(" ", F.slice(st, 1, cfg.prefix_tokens))
    )
    bm_key = F.concat(
        F.lit("bm:"), F.concat_ws(" ", F.slice(F.split("norm_text", " "), 1, 2))
    )
    dm_key = F.concat_ws(":", F.lit("dm"), F.col("domain"), F.element_at(st, 1))
    cheap = offers.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.array(
                    F.when(F.length(pf_key) > 3, pf_key),
                    F.when(F.length(bm_key) > 3, bm_key),
                    F.when(
                        F.col("domain").isNotNull() & (F.size("tokens") > 0), dm_key
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("block_key"),
    )
    return cheap.unionByName(minhash_block_keys(offers, cfg, id_col))


def block_stats(blocks: DataFrame) -> DataFrame:
    """G1: block-size histogram (the aggregate form of cap_blocks' `_bsize`)."""
    return blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))


def cap_blocks(blocks: DataFrame, cfg: BlockingConfig, id_col: str = "record_id") -> DataFrame:
    """W1: keep the `block_cap` smallest ids per block (deterministic).

    Round 6: also attaches `_bsize` = post-cap block size via a second
    window over the SAME block_key partitioning (no extra exchange — the
    rows are already hash-partitioned and sorted from the row_number window,
    and the count window rides behind the rn filter so the WindowGroupLimit
    map-side pruning of giant blocks stays intact). candidate_pairs uses
    `_bsize` to split small vs hot blocks with a plain filter instead of
    recomputing a block-size aggregation per join branch — the old shape
    re-ran the stats exchange + hash-agg FOUR times (once per anti/semi
    branch side; plan-verified, plans/r06/er_block_pairs_before.txt).
    Classification is unchanged: post-cap size = min(pre-cap, block_cap),
    and BlockingConfig enforces block_cap > salt_threshold, so
    (post > salt_threshold) == (pre > salt_threshold)."""
    w = W.partitionBy("block_key").orderBy(F.col(id_col))
    capped = (
        blocks.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cfg.block_cap)
        .drop("_rn")
    )
    return capped.withColumn(
        "_bsize", F.count(F.lit(1)).over(W.partitionBy("block_key"))
    )


def candidate_pairs(
    blocks: DataFrame, cfg: BlockingConfig, id_col: str = "record_id"
) -> DataFrame:
    """Distinct candidate pairs (id_l < id_r) from `cap_blocks` output.

    Small blocks: plain equi self-join on block_key (sort-merge/shuffled-hash,
    AQE decides). Hot blocks (> salt_threshold members): salted self-join so a
    single hot key's quadratic pair generation is spread across
    `salt_buckets` reducer partitions instead of one straggler task.

    The small/hot split is a plain filter on the `_bsize` column cap_blocks
    attaches (post-cap block size, equal to block_stats(blocks).block_size
    by construction), so no stats aggregation or semi/anti join runs here."""
    small = blocks.where(F.col("_bsize") <= cfg.salt_threshold).drop("_bsize")
    hot = blocks.where(F.col("_bsize") > cfg.salt_threshold).drop("_bsize")

    sl = small.select("block_key", F.col(id_col).alias("id_l"))
    sr = small.select("block_key", F.col(id_col).alias("id_r"))
    small_pairs = sl.join(sr, "block_key").where(F.col("id_l") < F.col("id_r"))

    s = cfg.salt_buckets
    left = hot.select(
        "block_key",
        F.col(id_col).alias("id_l"),
        H.salt(F.col(id_col), s).alias("_salt"),
    )
    right = hot.select(
        "block_key",
        F.col(id_col).alias("id_r"),
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("_salt"),
    )
    hot_pairs = left.join(right, ["block_key", "_salt"]).where(
        F.col("id_l") < F.col("id_r")
    )

    # U3: the same pair appears in many bands/blockers — dedupe before scoring
    # (correctness-critical: duplicate pairs would double-count in eval).
    return (
        small_pairs.select("id_l", "id_r")
        .unionByName(hot_pairs.select("id_l", "id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )
