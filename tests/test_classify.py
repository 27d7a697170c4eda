"""Quality-classifier (operators/classify.py) semantics pins.

No SQL oracle exists (LBFGS floats), so these tests carry the semantic
load: the model must actually learn a separable signal, score map-only,
and agree with its own weak labels on clearly-separated data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgferry_spark.operators.classify import (
    score_quality,
    train_quality_classifier,
)


@pytest.fixture(scope="module")
def labeled(spark):
    good = [
        (i, "the quick brown fox jumps over the lazy dog near the river bank", 1.0)
        for i in range(30)
    ]
    bad = [
        (100 + i, "zzzz qqqq xxxx kkkk wwww vvvv jjjj zzzz qqqq xxxx", 0.0)
        for i in range(30)
    ]
    return spark.createDataFrame(
        good + bad, "doc_id long, text string, label double"
    )


def test_scores_in_a_session_that_ran_an_observation(spark, labeled):
    # an Observation makes the SparkSession unserializable; scoring must
    # not ship it to the tasks
    from pyspark.sql import Observation

    seen = Observation()
    spark.range(3).observe(seen, F.count(F.lit(1)).alias("n")).collect()
    assert seen.get == {"n": 3}
    model = train_quality_classifier(labeled, "text", "label")
    assert len(score_quality(model, labeled, "text", "doc_id").collect()) == 60


def test_learns_separable_corpus(spark, labeled):
    model = train_quality_classifier(labeled, "text", "label")
    scored = {r.doc_id: r for r in score_quality(model, labeled, "text", "doc_id").collect()}
    assert all(scored[i].pred == 1 for i in range(30))
    assert all(scored[100 + i].pred == 0 for i in range(30))
    assert scored[0].prob_good > 0.9 > 0.1 > scored[100].prob_good


def test_generalizes_to_unseen_docs(spark, labeled):
    model = train_quality_classifier(labeled, "text", "label")
    unseen = spark.createDataFrame(
        [
            (1000, "a quick dog jumps near the brown river"),
            (1001, "qqqq wwww zzzz kkkk vvvv xxxx"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred for r in score_quality(model, unseen, "text", "doc_id").collect()}
    assert got == {1000: 1, 1001: 0}


def test_scoring_is_map_only(spark, labeled):
    model = train_quality_classifier(labeled, "text", "label")
    df = score_quality(model, labeled, "text", "doc_id")
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_feature_space_mismatch_is_callers_bug(spark, labeled):
    model = train_quality_classifier(labeled, "text", "label", n_features=4096)
    # scoring with a different hash width breaks the feature contract:
    # the transform must fail loudly, not silently misscore
    with pytest.raises(Exception):
        score_quality(model, labeled, "text", "doc_id", n_features=64).collect()


# --- round-5: deterministic hashed-BoW twin + AUC scorecard ----------------


def test_twin_separates_and_orders_like_the_model(spark, labeled):
    from pgferry_spark.operators.classify import hashed_log_odds_scores

    scores = {
        r["doc_id"]: r["score"]
        for r in hashed_log_odds_scores(
            labeled, labeled, "text", "doc_id", "label"
        ).collect()
    }
    good = [scores[i] for i in range(30)]
    bad = [scores[100 + i] for i in range(30)]
    assert min(good) > max(bad)  # perfect separation on separable corpus


def test_twin_scores_are_integer_micro_deterministic(spark, labeled):
    """score_micro is an exact integer — two runs produce bit-identical
    values (the property that makes the oracle hash-checkable where the
    LBFGS model is rows-only)."""
    from pgferry_spark.operators.classify import hashed_log_odds_scores

    a = {r["doc_id"]: r["score_micro"]
         for r in hashed_log_odds_scores(labeled, labeled, "text", "doc_id", "label").collect()}
    b = {r["doc_id"]: r["score_micro"]
         for r in hashed_log_odds_scores(labeled, labeled, "text", "doc_id", "label").collect()}
    assert a == b
    assert all(isinstance(v, int) for v in a.values())


def test_twin_tokenless_doc_scores_zero(spark, labeled):
    from pgferry_spark.operators.classify import hashed_log_odds_scores

    corpus = spark.createDataFrame(
        [(500, "   "), (501, "the quick brown fox")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["score_micro"]
           for r in hashed_log_odds_scores(labeled, corpus, "text", "doc_id", "label").collect()}
    assert got[500] == 0
    assert got[501] != 0


def test_auc_scorecard_golden(spark):
    """Hand-computed Mann-Whitney AUC with ties: scores/labels
    (1,0) (2,0) (2,1) (3,1) -> pairs: (2,1)v(1,0) win, (2,1)v(2,0) tie,
    (3,1)v both wins => AUC = (1 + 0.5 + 2) / 4 = 0.875."""
    from pgferry_spark.operators.classify import auc_scorecard

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (2, 1), (3, 1)], "s int, y int"
    )
    row = auc_scorecard(df, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (2, 2)
    assert row["auc"] == 0.875


def test_auc_perfect_and_random(spark):
    from pgferry_spark.operators.classify import auc_scorecard

    perfect = spark.createDataFrame(
        [(i, 1 if i >= 50 else 0) for i in range(100)], "s int, y int"
    )
    assert auc_scorecard(perfect, "s", "y").collect()[0]["auc"] == 1.0
    constant = spark.createDataFrame(
        [(7, i % 2) for i in range(100)], "s int, y int"
    )
    assert auc_scorecard(constant, "s", "y").collect()[0]["auc"] == 0.5


def test_auc_single_class_explicit_null(spark):
    # ADVICE r5: degenerate single-class input — AUC undefined, returned
    # as a guarded NULL with n_pos/n_neg telling the caller which class
    # is missing (not a silent divide-by-zero)
    from pgferry_spark.operators.classify import auc_scorecard

    all_pos = spark.createDataFrame(
        [(i, 1) for i in range(20)], "s int, y int"
    )
    row = auc_scorecard(all_pos, "s", "y").collect()[0]
    assert row["auc"] is None and row["n_pos"] == 20 and row["n_neg"] == 0
    all_neg = spark.createDataFrame(
        [(i, 0) for i in range(20)], "s int, y int"
    )
    row = auc_scorecard(all_neg, "s", "y").collect()[0]
    assert row["auc"] is None and row["n_pos"] == 0 and row["n_neg"] == 20


def test_model_auc_beats_chance_on_separable(spark, labeled):
    from pgferry_spark.operators.classify import (
        auc_scorecard, train_quality_classifier,
    )

    model = train_quality_classifier(labeled, "text", "label")
    scored = score_quality(model, labeled, "text", "doc_id").join(
        labeled.select("doc_id", F.col("label").cast("int").alias("y")), "doc_id"
    )
    assert auc_scorecard(scored, "prob_good", "y").collect()[0]["auc"] >= 0.99
