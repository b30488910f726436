"""Distributed logistic-regression quality classifier
(operators/classifier.py): bit-exact numpy twin, partitioning
determinism, learning sanity, and the shuffle-free scoring plan."""

import pytest
from pyspark.sql import functions as F

from ideafast_etl_spark.operators.classifier import (
    doc_features,
    numpy_twin,
    quality_labels,
    score_logreg,
    train_logreg,
)

DIM = 64


@pytest.fixture(scope="module")
def corpus(spark):
    # separable-ish: label-1 docs say "good clean prose", label-0 repeat junk
    rows = []
    for i in range(40):
        if i % 2:
            rows.append((i, f"good clean prose text number {i} flows well", 1))
        else:
            rows.append((i, "zz qq " * (3 + i % 4), 0))
    return rows


def _spark_train(spark, rows, iters=6):
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.select("doc_id", "label")
    w = train_logreg(feats, labels, dim=DIM, iters=iters)
    probs = {
        r.doc_id: r.prob for r in score_logreg(feats, w).collect()
    }
    return w, probs


def test_bit_exact_numpy_twin(spark, corpus):
    w_s, p_s = _spark_train(spark, corpus)
    w_n, p_n = numpy_twin(corpus, dim=DIM, iters=6)
    assert w_s == pytest.approx(w_n, abs=0)  # bit-identical
    assert p_s == p_n


def test_partitioning_determinism(spark, corpus):
    df1 = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    df2 = df1.repartition(13, "text")
    f1, f2 = doc_features(df1, dim=DIM), doc_features(df2, dim=DIM)
    lab = df1.select("doc_id", "label")
    assert train_logreg(f1, lab, dim=DIM, iters=4) == train_logreg(
        f2, lab, dim=DIM, iters=4
    )


def test_learns_separable_labels(spark, corpus):
    _, probs = _spark_train(spark, corpus, iters=12)
    good = [probs[i] for i in range(40) if i % 2]
    bad = [probs[i] for i in range(40) if not i % 2]
    assert min(good) > max(bad)  # fully separates the two clusters


def test_scoring_is_shuffle_free(spark, corpus):
    df = spark.createDataFrame(corpus, ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM).persist()
    feats.count()
    plan = score_logreg(feats, [0.1] * (DIM + 1))._jdf.queryExecution().executedPlan().toString()
    # nothing after the cached features may shuffle
    assert "Exchange" not in plan.split("InMemoryTableScan")[0]
    feats.unpersist()


def test_quality_labels_threshold(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over a lazy dog near the river bank today"),
         (1, "!!!! ???? ....")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.label for r in quality_labels(df).collect()}
    assert got[0] == 1 and got[1] == 0


def test_train_and_score_matches_composed(spark, corpus):
    """The fused train+score operator (one cache across the training
    join and the scoring pass, doc count folded into the first gradient
    job) must return exactly what the composed form returns — on a small
    corpus so the check stays in the fast profile."""
    from ideafast_etl_spark.operators.classifier import train_and_score_logreg

    df = spark.createDataFrame(corpus[:12], ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.select("doc_id", "label")
    w = train_logreg(feats, labels, dim=DIM, iters=3)
    composed = {
        (r.doc_id, r.prob, r.predicted)
        for r in score_logreg(feats, w).collect()
    }
    fused = {
        (r.doc_id, r.prob, r.predicted)
        for r in train_and_score_logreg(
            feats, labels, dim=DIM, iters=3
        ).collect()
    }
    assert fused == composed


def test_train_and_score_returns_labelled_docs_only(spark, corpus):
    """With labels for half the docs, train_and_score_logreg scores
    exactly the labelled population — by default and inside
    no_checkpoints(), where the audited plan is built."""
    from ideafast_etl_spark.operators.classifier import train_and_score_logreg
    from ideafast_etl_spark.plan_audit import no_checkpoints

    df = spark.createDataFrame(corpus[:12], ["doc_id", "text", "label"])
    feats = doc_features(df, dim=DIM)
    labels = df.filter("doc_id % 2 = 0").select("doc_id", "label")
    want = list(range(0, 12, 2))

    def scored_ids():
        out = train_and_score_logreg(feats, labels, dim=DIM, iters=2)
        return sorted(r.doc_id for r in out.collect())

    assert scored_ids() == want
    with no_checkpoints():
        assert scored_ids() == want


def test_missing_bias_row_raises(spark, corpus):
    """A feats relation without the idx == dim bias entry must fail loudly
    instead of training on n = 0 into all-zero weights."""
    df = spark.createDataFrame(corpus[:6], ["doc_id", "text", "label"])
    no_bias = doc_features(df, dim=DIM).select(
        "doc_id", F.filter("feats", lambda s: s["idx"] < DIM).alias("feats")
    )
    with pytest.raises(ValueError, match="bias"):
        train_logreg(no_bias, df.select("doc_id", "label"), dim=DIM, iters=2)


def test_empty_labels(spark):
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    feats = doc_features(df, dim=DIM)
    w = train_logreg(
        feats, df.select("doc_id").withColumn("label", F.lit(1)).limit(0),
        dim=DIM, iters=3,
    )
    assert w == [0.0] * (DIM + 1)
