"""Hashed linear quality classifier: distributed-vs-numpy parity, learning
on separable corpora, scoring plan shape, and feature determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gensor_spark.operators.classifier import (
    hashed_features,
    numpy_reference_fit,
    score_quality,
    train_quality_classifier,
)

D = 1 << 14  # small grid keeps the reference fit cheap
GOOD = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "scientists published a detailed study of the climate record today",
    "she walked through the quiet library reading titles on the shelves",
    "the committee approved the budget after a long public discussion",
    "a gentle rain fell over the valley as the farmers finished work",
    "the museum opened a new exhibit about early navigation at sea",
]
BAD = [
    "buy cheap pills now click here buy cheap pills now click here",
    "win win win free money casino jackpot win free money casino",
    "cheap viagra cheap viagra best price best price click click",
    "free crypto airdrop claim now free crypto airdrop claim now",
    "hot singles near you click now hot singles near you click now",
    "limited offer act now limited offer act now limited offer now",
]


def _corpus():
    rows = []
    for i, t in enumerate(GOOD):
        rows.append((i, t, 1))
    for i, t in enumerate(BAD):
        rows.append((100 + i, t, 0))
    return rows


@pytest.fixture(scope="module")
def fitted(spark):
    rows = _corpus()
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    ).repartition(4)
    labels = spark.createDataFrame(
        [(i, y) for i, _, y in rows], "doc_id long, label int")
    feats = hashed_features(docs, n_features=D)
    w, b = train_quality_classifier(
        feats, labels, n_features=D, iters=25, lr=2.0, l2=1e-6)
    return feats, w, b


def test_matches_numpy_reference(spark, fitted):
    """The distributed full-batch GD equals the single-process numpy fit —
    same model, same iterations — to float-sum reordering tolerance."""
    feats, w, b = fitted
    w_ref, b_ref = numpy_reference_fit(_corpus(), n_features=D,
                                       iters=25, lr=2.0, l2=1e-6)
    np.testing.assert_allclose(w, w_ref, rtol=1e-9, atol=1e-12)
    assert abs(b - b_ref) <= 1e-9 * max(1.0, abs(b_ref))


def test_separates_good_from_bad(spark, fitted):
    """On the separable corpus every training doc scores on the right side
    of 0.5 and the margin orders good above bad."""
    feats, w, b = fitted
    probs = {r.doc_id: r.prob for r in score_quality(feats, w, b).collect()}
    good_p = [probs[i] for i in range(len(GOOD))]
    bad_p = [probs[100 + i] for i in range(len(BAD))]
    assert min(good_p) > 0.5 > max(bad_p)
    assert min(good_p) > max(bad_p) + 0.2


def test_generalizes_to_unseen_docs(spark, fitted):
    """Held-out docs built from the same vocabularies score correctly —
    the classifier learned the grams, not the doc ids."""
    feats, w, b = fitted
    unseen = spark.createDataFrame(
        [
            (500, "the fox walked near the quiet river reading the record"),
            (501, "click now win free casino money cheap pills airdrop now"),
        ],
        "doc_id long, text string",
    )
    probs = {r.doc_id: r.prob
             for r in score_quality(hashed_features(unseen, n_features=D),
                                    w, b).collect()}
    assert probs[500] > 0.5 > probs[501]


def test_scoring_plan_has_no_exchange(spark, fitted):
    """The corpus-sweep contract: scoring is broadcast + row-local —
    no shuffle anywhere in the physical plan."""
    feats, w, b = fitted
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id")).alias("text"))
    plan = (
        score_quality(hashed_features(docs, n_features=D), w, b)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_features_deterministic_and_normalized(spark):
    """Same text → same slots/vals at any parallelism; vals L2-normalized;
    empty/NULL docs yield empty arrays (mask-don't-crash)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string")
    a = {r.doc_id: (list(r.slots), list(r.vals))
         for r in hashed_features(docs, n_features=D).collect()}
    b = {r.doc_id: (list(r.slots), list(r.vals))
         for r in hashed_features(docs.repartition(3),
                                  n_features=D).collect()}
    assert a == b
    slots, vals = a[1]
    # "alpha beta alpha" → grams: alpha×2, beta, "alpha beta", "beta alpha"
    assert len(slots) == len(set(slots)) == len(vals)
    assert abs(sum(v * v for v in vals) - 1.0) < 1e-12
    assert a[2] == ([], []) and a[3] == ([], [])


def test_empty_label_join_raises(spark):
    docs = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    labels = spark.createDataFrame([(99, 1)], "doc_id long, label int")
    with pytest.raises(ValueError, match="no labeled"):
        train_quality_classifier(hashed_features(docs, n_features=D),
                                 labels, n_features=D, iters=1)


@pytest.mark.parametrize("fail_in", ["join", "loop"])
def test_training_failure_releases_its_caches(spark, monkeypatch, fail_in):
    """An exception after the training set is cached — an empty join, or a
    failing gradient pass — leaves no training cache pinned."""
    import gensor_spark.operators.classifier as clf

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    rows = _corpus()
    docs = spark.createDataFrame([(i, t) for i, t, _ in rows],
                                 "doc_id long, text string")
    labels = spark.createDataFrame(
        [(i + (1000 if fail_in == "join" else 0), y) for i, _, y in rows],
        "doc_id long, label int")
    feats = hashed_features(docs, n_features=D)

    def boom(bc):
        raise RuntimeError("gradient pass failed")

    monkeypatch.setattr(clf, "_logreg_grad", boom)
    before = persisted()
    with pytest.raises((ValueError, RuntimeError)):
        train_quality_classifier(feats, labels, n_features=D, iters=2)
    assert persisted() == before
