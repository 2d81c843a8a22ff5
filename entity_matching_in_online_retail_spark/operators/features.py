"""Pairwise feature computation over candidate-pair DataFrames.

J3 pair-attribute fetch: the pair table joins `offers` twice (once per side).
At cluster scale `offers` is bucketed/repartitioned by record_id so these are
co-partitioned shuffles (storage-partitioned joins on Iceberg in prod).

Features (ScoringConfig.feature_cols order):
  jaccard    token-set Jaccard            — built-in (codegen)
  lev_sim    normalized Levenshtein on title_norm — built-in (codegen)
  jw_sim     Jaro-Winkler on title_norm   — Arrow-batched pandas UDF
  tfidf_cos  TF-IDF cosine on full text   — sparse vectors + pandas UDF
  price_sim  relative price closeness     — built-in
  brand_eq   exact brand equality flag    — built-in
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import similarity as S

def _broadcasts_disabled(df: DataFrame) -> bool:
    """True in the no-broadcast regime (autoBroadcastJoinThreshold = -1)."""
    thr = str(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m"))
    return thr in ("-1", "-1b")


def offers_with_vectors(offers: DataFrame, idf: DataFrame) -> DataFrame:
    """Attach tf-idf sparse vectors; select only what scoring needs.

    Round 6: in the broadcast regime the vector side of the final join gets
    an explicit broadcast hint. It is the same O(records) vector table the
    scoring stage already broadcasts (twin fetch), but here it reaches the
    join through an ObjectHashAggregate whose size ESTIMATE inherits the
    exploded child's, so the planner picked a sort-merge join — adding an
    exchange + sort of the full offers base side for a table it broadcasts
    happily two stages later (plans/r06/er_tfidf_vectors_before.txt). The
    hint follows the repo's regime convention (features.pair_features):
    no hint when autoBroadcastJoinThreshold is -1 (the 10^12-record cluster
    shape, where this join is a storage-partitioned/sort-merge join).

    token_hashes: sorted 31-bit (xxhash64 & 0x7FFFFFFF) int hash of each
    distinct token — the pairwise Jaccard runs on int arrays instead of
    string arrays. Deliberate precision/bandwidth trade-off: int32 arrays
    halve the memory traffic of the 10^8-pair hot loop vs bigint (memory
    bandwidth is the measured scaling ceiling on this kernel), while a
    31-bit collision within one ~40-token document is P ~ 40^2/2^32 ~ 4e-7 —
    it shrinks that one doc's set size by 1 and perturbs its Jaccard by
    <3%, orders of magnitude below the classifier's decision margin."""
    vec = S.with_tfidf_vector(offers, idf)
    base = offers.select(
        "record_id",
        "tokens",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    "tokens",
                    lambda t: F.xxhash64(t).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int"),
                )
            )
        ).alias("token_hashes"),
        "title_norm",
        "brand",
        "price",
    )
    if not _broadcasts_disabled(offers):
        vec = F.broadcast(vec)
    return base.withColumn("n_tokens", F.size("token_hashes")).join(
        vec, "record_id", "left"
    )


def pair_features(
    pairs: DataFrame,
    attrs: DataFrame,
    gate_jaccard: float | None = None,
) -> DataFrame:
    """(id_l, id_r) -> feature columns. attrs = offers_with_vectors output.

    The tf-idf cosine implementation follows the session's broadcast regime.
    With broadcasts enabled (the local/under-committed shape) it runs inside
    the fused Arrow UDF alongside JW. With autoBroadcastJoinThreshold = -1
    (the cgroup-capped cluster shape) it runs as a pure Catalyst expression
    (array_intersect + positional weight lookups), so the KB-wide tf-idf
    vectors never cross the Arrow boundary and the Python worker sees only
    the two title strings. Feature VALUES are identical modulo float
    summation order (<1e-12; plan-tested). Measured (fresh-JVM min-of-reps,
    sf1 266M pairs): python wins when the box is under-committed (local[8]:
    Python workers ride cores outside the task budget) and loses when it is
    saturated (broadcast regime local[32]: jvm −9%) or when broadcasts are
    disabled entirely (the cluster-emulation regime: jvm 197.8s vs python
    254.7s, −22% — BENCH/BASELINE.md round-4 memo).

    gate_jaccard: cheap-feature cascade for the scoring path. The codegen'd
    features (Jaccard/Levenshtein/price/brand) are computed for every pair;
    pairs below the Jaccard gate are certain non-matches (fixture positives
    bottom out near 0.4; the gate sits at 0.15) and are DROPPED before the
    Arrow-batched Python features (Jaro-Winkler + TF-IDF cosine), so the
    expensive path sees only plausible pairs. At 100 TB this is the
    difference between shipping every junk LSH collision through the Python
    workers and shipping ~the true-match neighborhood. Pass None (default)
    to keep all pairs — required for training/eval feature frames.
    """
    # Shuffle discipline: the pair table is the huge side (O(candidates));
    # attrs is O(records). Phase 1 joins only the LIGHT attribute columns
    # (tokens/title/brand/price — Catalyst prunes the tf-idf arrays out of
    # the scan) and computes the codegen'd features; the gate then drops
    # certain non-matches. Phase 2 fetches the heavy tf-idf vectors for the
    # SURVIVORS only — the ~KB-per-row vectors never ride a full-candidate
    # exchange. With the record side under the broadcast threshold all four
    # fetches are broadcast hash joins (zero shuffle of the pair table); at
    # 10^12 records they become storage-partitioned joins on id-bucketed
    # Iceberg tables.
    light_cols = ["record_id", "token_hashes", "n_tokens", "title_norm", "brand", "price"]
    vec_cols = ["record_id", "tfidf_idx", "tfidf_val"]
    # Round 6: both sides of each twin fetch join the SAME unaliased
    # subtree (DataFrame.alias after selection, qualified column refs).
    # The old per-side aliased selects (`l_record_id`, `r_record_id`)
    # produced two non-canonically-equal broadcast subtrees, so the
    # identical attrs relation was scanned AND broadcast-built twice per
    # fetch pair; with a shared subtree, runtime exchange reuse builds it
    # once and probes it from both joins (guide §2.4 "two operations keyed
    # the same way can share one exchange"). Measured (alternated, warm,
    # min/all of 3): cheap phase 7.21s -> 4.76s (OPTIMIZATION_r06.md).
    light = attrs.select(*light_cols)
    fl, fr = light.alias("_fl"), light.alias("_fr")
    joined = pairs.join(fl, pairs.id_l == F.col("_fl.record_id")).join(
        fr, pairs.id_r == F.col("_fr.record_id")
    )
    gate_expr = S.jaccard_from_sizes(
        F.col("_fl.token_hashes"),
        F.col("_fr.token_hashes"),
        F.col("_fl.n_tokens"),
        F.col("_fr.n_tokens"),
    )
    if gate_jaccard is not None:
        # Apply the gate before projecting the cheap features, so
        # Levenshtein / price / brand / the jaccard value run over the ~6%
        # survivors instead of every candidate pair (guide §1.2). The
        # predicate is the verbatim jaccard expression (Catalyst fuses it
        # into the r-side join condition exactly as before), so the
        # survivor set is bit-identical to the compute-then-filter shape.
        joined = joined.where(gate_expr >= gate_jaccard)
    cheap = joined.select(
        "id_l",
        "id_r",
        F.col("_fl.title_norm").alias("l_title_norm"),
        F.col("_fr.title_norm").alias("r_title_norm"),
        # |A∩B| once; |A∪B| = |A|+|B|-|A∩B| from precomputed sizes —
        # halves the allocation of the 10^8-pair hot loop vs
        # intersect+union (memory bandwidth is the scaling ceiling).
        gate_expr.alias("jaccard"),
        S.levenshtein_sim(
            F.col("_fl.title_norm"), F.col("_fr.title_norm")
        ).alias("lev_sim"),
        S.relative_closeness(F.col("_fl.price"), F.col("_fr.price")).alias("price_sim"),
        S.eq_flag(F.col("_fl.brand"), F.col("_fr.brand")).alias("brand_eq"),
    )
    # Same shared-subtree trick for the survivor vector fetch: one
    # broadcast build of the vector table, probed from both sides.
    vec = attrs.select(*vec_cols)
    vl, vr = vec.alias("_vl"), vec.alias("_vr")
    full = (
        cheap.join(vl, cheap.id_l == F.col("_vl.record_id"), "left")
        .join(vr, cheap.id_r == F.col("_vr.record_id"), "left")
        .select(
            cheap["*"],
            F.col("_vl.tfidf_idx").alias("l_tfidf_idx"),
            F.col("_vl.tfidf_val").alias("l_tfidf_val"),
            F.col("_vr.tfidf_idx").alias("r_tfidf_idx"),
            F.col("_vr.tfidf_val").alias("r_tfidf_val"),
        )
    )
    if _broadcasts_disabled(pairs):
        return full.select(
            "id_l",
            "id_r",
            "jaccard",
            "lev_sim",
            S.jaro_winkler_udf(F.col("l_title_norm"), F.col("r_title_norm")).alias(
                "jw_sim"
            ),
            S.sparse_cosine_expr(
                F.col("l_tfidf_idx"),
                F.col("l_tfidf_val"),
                F.col("r_tfidf_idx"),
                F.col("r_tfidf_val"),
            ).alias("tfidf_cos"),
            "price_sim",
            "brand_eq",
        )
    fused = S.pair_scores_udf(
        F.col("l_title_norm"),
        F.col("r_title_norm"),
        F.col("l_tfidf_idx"),
        F.col("l_tfidf_val"),
        F.col("r_tfidf_idx"),
        F.col("r_tfidf_val"),
    )
    return full.withColumn("_py", fused).select(
        "id_l",
        "id_r",
        "jaccard",
        "lev_sim",
        F.col("_py.jw_sim").alias("jw_sim"),
        F.col("_py.tfidf_cos").alias("tfidf_cos"),
        "price_sim",
        "brand_eq",
    )
