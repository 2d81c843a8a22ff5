"""Match/non-match classifier: train with pyspark.ml, score with built-ins.

The reference fits a scikit-learn classifier in memory and predicts on a
feature matrix. Here:

  M1  training: pyspark.ml LogisticRegression over VectorAssembler'd features
      (distributed L-BFGS; labeled pairs are small relative to the corpus).
  M2  scoring: the fitted coefficients are extracted and folded into a single
      Catalyst column expression  sigma(w.x + b)  — literals in the plan, so
      scoring is whole-stage-codegen'd JVM arithmetic with zero Python and
      zero extra pass (it composes into the same stage that computes the
      features). On a cluster this is strictly cheaper than broadcasting a
      model object to Python workers; the "broadcast" of the north rule
      degenerates to plan literals.
  M3  threshold -> match edges.
  M4  deterministic train/val split via pmod(xxhash64(id_l, id_r), 100).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class LinearMatcher:
    """Portable fitted model: plain floats, serializable into manifests."""

    feature_cols: tuple[str, ...]
    coefficients: tuple[float, ...]
    intercept: float

    def score_expr(self) -> Column:
        """sigma(w.x + b) as a pure built-in expression (M2)."""
        z = F.lit(float(self.intercept))
        for c, w in zip(self.feature_cols, self.coefficients):
            z = z + F.coalesce(F.col(c), F.lit(0.0)) * float(w)
        return 1.0 / (1.0 + F.exp(-z))


def split_train_val(labeled: DataFrame, train_pct: int = 80) -> tuple[DataFrame, DataFrame]:
    """M4: seed-free deterministic split on the pair key."""
    bucket = F.pmod(F.xxhash64("id_l", "id_r"), F.lit(100))
    return labeled.where(bucket < train_pct), labeled.where(bucket >= train_pct)


def train_matcher(
    features: DataFrame,
    feature_cols: tuple[str, ...],
    label_col: str = "label",
    reg_param: float = 0.0,
    max_iter: int = 100,
) -> LinearMatcher:
    """M1: fit LogisticRegression on (features..., label) rows."""
    assembled = VectorAssembler(
        inputCols=list(feature_cols), outputCol="_fv", handleInvalid="keep"
    ).transform(
        features.select(
            *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in feature_cols],
            F.col(label_col).cast("double").alias(label_col),
        )
    )
    lr = LogisticRegression(
        featuresCol="_fv", labelCol=label_col, regParam=reg_param, maxIter=max_iter
    )
    m = lr.fit(assembled)
    return LinearMatcher(
        feature_cols=tuple(feature_cols),
        coefficients=tuple(float(x) for x in m.coefficients),
        intercept=float(m.intercept),
    )


def score_pairs(pair_features: DataFrame, model: LinearMatcher) -> DataFrame:
    return pair_features.withColumn("score", model.score_expr())


def match_edges(scored: DataFrame, threshold: float) -> DataFrame:
    """M3: thresholded match edges."""
    return scored.where(F.col("score") >= threshold).select("id_l", "id_r", "score")


def sweep_thresholds(scored_labeled: DataFrame, n: int = 99) -> DataFrame:
    """F1 at tau = i/(n+1) for i in 1..n, in one pass via explode(sequence).

    Input: (score double, label int). Output: (tau, tp, fp, fn, f1).
    """
    taus = F.transform(
        F.sequence(F.lit(1), F.lit(n)), lambda i: i.cast("double") / (n + 1)
    )
    e = scored_labeled.select(
        "score", "label", F.explode(taus).alias("tau")
    ).withColumn("pred", (F.col("score") >= F.col("tau")).cast("int"))
    agg = e.groupBy("tau").agg(
        F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
    )
    f1 = (2.0 * F.col("tp")) / (2.0 * F.col("tp") + F.col("fp") + F.col("fn"))
    return agg.withColumn("f1", F.coalesce(f1, F.lit(0.0)))


def best_threshold(scored_labeled: DataFrame) -> tuple[float, float]:
    """(tau, f1) maximizing F1 on the given labeled scores."""
    row = (
        sweep_thresholds(scored_labeled)
        .orderBy(F.col("f1").desc(), F.col("tau").asc())
        .first()
    )
    return float(row["tau"]), float(row["f1"])
