"""Classifier: training recovers a separable boundary; scoring expression
equals sigmoid; deterministic split; threshold sweep picks the right tau."""

import math

import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark.operators import model as M


def test_score_expr_is_sigmoid(spark):
    m = M.LinearMatcher(("x",), (2.0,), -1.0)
    df = spark.createDataFrame([(0.0,), (0.5,), (1.0,)], "x double")
    got = [r["s"] for r in df.select(m.score_expr().alias("s")).collect()]
    want = [1 / (1 + math.exp(-(2 * x - 1))) for x in (0.0, 0.5, 1.0)]
    assert got == pytest.approx(want)


def test_split_deterministic(spark):
    df = spark.createDataFrame([(i, i + 1, 1) for i in range(200)], "id_l long, id_r long, label int")
    t1, v1 = M.split_train_val(df)
    t2, v2 = M.split_train_val(df)
    assert t1.count() == t2.count()
    assert t1.exceptAll(t2).count() == 0
    assert t1.count() + v1.count() == 200
    assert 120 <= t1.count() <= 190


def test_train_separable(spark):
    rows = [(float(i) / 100, 1 if i > 60 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "f double, label int")
    m = M.train_matcher(df, ("f",))
    scored = M.score_pairs(df.withColumnRenamed("f", "f"), m)
    preds = scored.withColumn("pred", (F.col("score") >= 0.5).cast("int"))
    errs = preds.where(F.col("pred") != F.col("label")).count()
    assert errs <= 2


def test_threshold_sweep(spark):
    # scores: positives at >= .8, negatives at <= .3 → any tau in (.3,.8) gives F1=1
    rows = [(0.9, 1), (0.85, 1), (0.8, 1), (0.3, 0), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    tau, f1 = M.best_threshold(df)
    assert f1 == pytest.approx(1.0)
    assert 0.3 < tau <= 0.8


def test_match_edges(spark):
    df = spark.createDataFrame([(1, 2, 0.9), (3, 4, 0.1)], "id_l long, id_r long, score double")
    got = M.match_edges(df, 0.5).collect()
    assert len(got) == 1 and got[0]["id_l"] == 1
