"""Unit tests for similarity functions (SURVEY.md §5.2.1): hand-computed
values for Jaro-Winkler/Levenshtein/Jaccard, properties for TF-IDF cosine."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_matching_in_online_retail_spark.functions import similarity as S


# ---- Jaro-Winkler: published example values ----
@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("MARTHA", "MARHTA", 0.9611111111),
        ("DIXON", "DICKSONX", 0.8133333333),
        ("DWAYNE", "DUANE", 0.84),
        ("abc", "abc", 1.0),
        ("", "x", 0.0),
        ("", "", 1.0),
        ("a", "b", 0.0),
    ],
)
def test_jaro_winkler_known_values(a, b, expected):
    assert S.jaro_winkler(a, b) == pytest.approx(expected, abs=1e-9)


def test_jaro_winkler_udf_matches_python(spark):
    rows = [("kitten", "sitting"), ("martha", "marhta"), ("spark", "sprak")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))
    got = [r["jw"] for r in df.select(S.jaro_winkler_udf("a", "b").alias("jw")).collect()]
    want = [S.jaro_winkler(a, b) for a, b in rows]
    assert got == pytest.approx(want)


def test_jaro_winkler_symmetry():
    pairs = [("alpha", "alpaca"), ("xy", "yx"), ("queue", "quest")]
    for a, b in pairs:
        assert S.jaro_winkler(a, b) == pytest.approx(S.jaro_winkler(b, a))


# ---- Levenshtein similarity ----
def test_levenshtein_sim(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("abc", "abc"), (None, "abc"), ("", "")],
        "a string, b string",
    )
    got = [r["s"] for r in df.select(S.levenshtein_sim(F.col("a"), F.col("b")).alias("s")).collect()]
    assert got[0] == pytest.approx(1 - 3 / 7)
    assert got[1] == 1.0
    assert got[2] == 0.0  # null-safe
    assert got[3] == 1.0  # both empty


# ---- Jaccard ----
def test_token_jaccard(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]), (["a"], ["a"]), ([], [])],
        "l array<string>, r array<string>",
    )
    got = [r["j"] for r in df.select(S.token_jaccard(F.col("l"), F.col("r")).alias("j")).collect()]
    assert got == pytest.approx([2 / 4, 1.0, 0.0])


# ---- TF-IDF cosine properties ----
def _cosine_fused(il, vl, ir, vr):
    # the fused broadcast-regime UDF; the title strings only feed jw_sim
    return S.pair_scores_udf(F.lit("a"), F.lit("b"), il, vl, ir, vr).getField("tfidf_cos")


@pytest.mark.parametrize("cosine", [S.sparse_cosine_expr, _cosine_fused],
                         ids=["sparse_cosine_expr", "pair_scores_udf"])
def test_tfidf_cosine_properties(spark, cosine):
    """Both production cosine kernels: sparse_cosine_expr (no-broadcast
    regime) and pair_scores_udf's tfidf_cos (broadcast regime)."""
    docs = spark.createDataFrame(
        [(1, ["red", "shoe", "nike"]), (2, ["red", "shoe", "adidas"]), (3, ["blue", "hat"])],
        "record_id long, tokens array<string>",
    )
    idf = S.fit_idf(docs)
    vec = S.with_tfidf_vector(docs, idf)
    # self-cosine == 1 (L2-normalized)
    both = vec.alias("l").join(vec.alias("r"), F.col("l.record_id") == F.col("r.record_id"))
    self_cos = both.select(
        cosine(
            F.col("l.tfidf_idx"), F.col("l.tfidf_val"),
            F.col("r.tfidf_idx"), F.col("r.tfidf_val"),
        ).alias("c")
    ).collect()
    assert len(self_cos) == 3
    for r in self_cos:
        assert r["c"] == pytest.approx(1.0, abs=1e-9)
    # disjoint docs -> 0; overlapping -> in (0,1)
    v = {r["record_id"]: (r["tfidf_idx"], r["tfidf_val"]) for r in vec.collect()}
    pairs = spark.createDataFrame(
        [(list(v[1][0]), list(v[1][1]), list(v[3][0]), list(v[3][1])),
         (list(v[1][0]), list(v[1][1]), list(v[2][0]), list(v[2][1]))],
        "il array<long>, vl array<double>, ir array<long>, vr array<double>",
    )
    got = [r["c"] for r in pairs.select(
        cosine(F.col("il"), F.col("vl"), F.col("ir"), F.col("vr")).alias("c")
    ).collect()]
    assert got[0] == pytest.approx(0.0)
    assert 0.0 < got[1] < 1.0


def test_idf_values(spark):
    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a"]), (3, ["a", "c"])],
        "record_id long, tokens array<string>",
    )
    got = {r["token"]: r["idf"] for r in S.fit_idf(docs).collect()}
    n = 3
    assert got["a"] == pytest.approx(math.log((n + 1) / (3 + 1)) + 1)
    assert got["b"] == pytest.approx(math.log((n + 1) / (1 + 1)) + 1)


# ---- flags / numeric ----
def test_eq_flag_and_closeness(spark):
    df = spark.createDataFrame(
        [("x", "x", 100.0, 103.0), ("x", "y", 100.0, 200.0), (None, "x", None, 5.0)],
        "a string, b string, p double, q double",
    )
    rows = df.select(
        S.eq_flag(F.col("a"), F.col("b")).alias("eq"),
        S.relative_closeness(F.col("p"), F.col("q")).alias("cl"),
    ).collect()
    assert [r["eq"] for r in rows] == [1.0, 0.0, 0.0]
    assert rows[0]["cl"] == pytest.approx(1 - 3 / 103)
    assert rows[1]["cl"] == pytest.approx(0.5)
    assert rows[2]["cl"] == 0.0
