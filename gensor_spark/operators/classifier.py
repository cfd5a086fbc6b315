"""Hashed linear quality classifier — the discriminative corpus filter.

The CCNet / LLaMA / GPT-3 data pipelines all gate web documents with a
*trained* linear classifier over hashed bag-of-n-gram features (fastText
`supervised` in CCNet, logistic regression over tf-hashed grams in GPT-3's
"quality filtering" appendix) — a capability the rule presets
(``operators/qualityfilter.py``) and the generative LM scores
(``operators/quality.py``) deliberately don't cover: rules are static, LM
perplexity is label-free. This module trains the discriminative model
*distributed* and scores the corpus with zero shuffles.

Design (Spark-first, deterministic):

- **Features** (``hashed_features``): unigram + bigram counts hashed onto
  ``n_features`` slots (hashing trick, Weinberger et al. 2009), L2-normal-
  ized. One batched Arrow kernel, row-local — no shuffle, no vocabulary
  (the point of the trick: the feature space is fixed at web scale).
  Hash = ``zlib.crc32`` (stable across processes/platforms, C speed).
- **Training** (``train_quality_classifier``): full-batch logistic
  regression by gradient descent. Each iteration broadcasts the weight
  vector (``n_features`` float64 — 2 MB at the 2^18 default) to a batched
  Arrow kernel that computes every margin ROW-LOCALLY and emits per-slot
  gradient partials; ONE groupBy(slot) shuffle of at most
  (partitions × active slots) tiny rows reduces them, and the driver takes
  the K-length weight update (the only driver-side math — O(n_features)).
  Full-batch GD is chosen over SGD deliberately: the gradient is a pure
  sum over docs, so the computation is order-independent and
  reproducible — same data, same answer, at any parallelism (floating-
  point addition order varies across partitionings; tests pin rtol 1e-9
  against a single-process numpy reference).
- **Scoring** (``score_quality``): broadcast weights → row-local margins.
  No shuffle at all — the plan a 100 TB corpus sweep needs.

At 10^12-doc scale each iteration is one map pass + one bounded shuffle
(gradient rows are capped by slots, not docs), and labeled training sets
are small (CCNet used ~10^5-10^6 seed docs) — train on the sample, score
everything.
"""

from __future__ import annotations

import math
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gensor_spark.plans.caching import cache_scope, pooled_cache

__all__ = [
    "hashed_features",
    "train_quality_classifier",
    "score_quality",
    "numpy_reference_fit",
]

_FEAT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("slots", T.ArrayType(T.IntegerType()), False),
    T.StructField("vals", T.ArrayType(T.DoubleType()), False),
])


def _doc_features(text: str, n_features: int) -> tuple[np.ndarray, np.ndarray]:
    """Hashed unigram+bigram L2-normalized counts for one document."""
    toks = text.lower().split()
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    if not grams:
        return np.empty(0, np.int32), np.empty(0, np.float64)
    slots = np.fromiter(
        (zlib.crc32(g.encode("utf-8")) % n_features for g in grams),
        dtype=np.int64, count=len(grams),
    )
    uniq, counts = np.unique(slots, return_counts=True)
    vals = counts.astype(np.float64)
    vals /= math.sqrt(float((vals * vals).sum()))
    return uniq.astype(np.int32), vals


def hashed_features(
    docs: DataFrame,
    n_features: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text) → sparse hashed feature rows
    ``(doc_id, slots array<int>, vals array<double>)``. Row-local Arrow
    kernel — zero shuffles; empty/NULL docs yield empty feature arrays."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _doc_features(t if isinstance(t, str) else "", n_features)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({
                "doc_id": pdf[id_col].values,
                "slots": [s for s, _ in feats],
                "vals": [v for _, v in feats],
            })

    return docs.select(id_col, text_col).mapInPandas(run, _FEAT_SCHEMA)


def _sigmoid(z: np.ndarray) -> np.ndarray:
    # numerically-stable split form (exp never sees a large positive arg)
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


_GRAD_SCHEMA = T.StructType([
    T.StructField("slot", T.IntegerType(), False),   # -1 = bias
    T.StructField("g", T.DoubleType(), False),
])


def _logreg_grad(bc):
    """``mapInPandas`` body of one gradient pass under the broadcast
    ``(w, b)``: one partial-gradient row per slot (plus the bias as slot
    -1) per task."""

    def grad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv, bv = bc.value
        dense = np.zeros(len(wv), dtype=np.float64)  # per-worker partial
        bias_g = 0.0
        for pdf in batches:
            # CSR-shaped batch kernel: margins = X @ w + b and the
            # partial grad = X.T @ r as two bincount segment-sums over
            # the flattened (cols, data) arrays — O(nnz) numpy, no
            # per-doc Python loop
            lens = np.fromiter((len(s) for s in pdf["slots"]),
                               dtype=np.int64, count=len(pdf))
            cols = (np.concatenate(list(pdf["slots"])).astype(np.int64)
                    if lens.sum() else np.empty(0, np.int64))
            data = (np.concatenate(list(pdf["vals"]))
                    .astype(np.float64)
                    if lens.sum() else np.empty(0, np.float64))
            seg = np.repeat(np.arange(len(pdf)), lens)
            margins = bv + np.bincount(
                seg, weights=wv[cols] * data, minlength=len(pdf))
            r = _sigmoid(margins) - pdf["y"].to_numpy(np.float64)
            bias_g += float(r.sum())
            dense += np.bincount(
                cols, weights=data * r[seg], minlength=len(wv))
        nz = np.nonzero(dense)[0]
        yield pd.DataFrame({
            "slot": np.concatenate([nz, [-1]]).astype(np.int32),
            "g": np.concatenate([dense[nz], [bias_g]]),
        })

    return grad


def train_quality_classifier(
    feats: DataFrame,
    labels: DataFrame,
    n_features: int = 1 << 18,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
    label_col: str = "label",
) -> tuple[np.ndarray, float]:
    """Full-batch logistic regression over hashed features, distributed.

    ``feats`` is ``hashed_features`` output; ``labels`` is
    ``(doc_id, label∈{0,1})`` for the (small) seed set. Returns
    ``(weights[n_features], bias)``. Per iteration: one broadcast of the
    weights, one row-local gradient map, ONE slot-grain shuffle, one
    O(n_features) driver update. Loss = mean log-loss + (l2/2)·‖w‖².
    """
    spark = feats.sparkSession
    # size the cached seed set's partitioning to the LABEL count, not the
    # corpus: the training loop launches one job per iteration over this
    # frame, and inheriting the corpus partitioning means (corpus
    # partitions) near-empty tasks AND that many dense per-worker gradient
    # partials per iteration — pure scheduling + shuffle overhead. ~20k
    # seed docs per partition keeps a CCNet-sized (10^5-10^6) seed set
    # parallel while a bench-sized one trains in single-task iterations.
    # (Column pruning cuts this count to a doc_id scan; the label column's
    # lineage runs once, inside the join.)
    n_labels = labels.count()
    n_parts = max(1, -(-n_labels // 20_000))
    with cache_scope():
        train = pooled_cache(
            feats.join(F.broadcast(labels.select("doc_id", label_col)), "doc_id")
            .select("slots", "vals", F.col(label_col).cast("double").alias("y"))
            .repartition(n_parts)
        )
        n_docs = train.count()  # materializes the cache; also the 1/n factor
        if n_docs == 0:
            raise ValueError("no labeled training docs after the join")

        w = np.zeros(n_features, dtype=np.float64)
        b = 0.0
        for _ in range(iters):
            bc = spark.sparkContext.broadcast((w, b))
            try:
                rows = (
                    train.mapInPandas(_logreg_grad(bc), _GRAD_SCHEMA)
                    .groupBy("slot").agg(F.sum("g").alias("g"))
                    .collect()
                )
            finally:
                bc.unpersist()
            g = np.zeros(n_features, dtype=np.float64)
            bias_g = 0.0
            for r in rows:
                if r.slot == -1:
                    bias_g = r.g
                else:
                    g[r.slot] = r.g
            w -= lr * (g / n_docs + l2 * w)
            b -= lr * (bias_g / n_docs)
    return w, b


def score_quality(
    feats: DataFrame,
    weights: np.ndarray,
    bias: float,
) -> DataFrame:
    """Score every document: ``(doc_id, logit, prob)``. Broadcast weights,
    row-local margins — ZERO shuffles (the corpus-sweep plan)."""
    spark = feats.sparkSession
    bc = spark.sparkContext.broadcast((weights, float(bias)))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("logit", T.DoubleType(), False),
        T.StructField("prob", T.DoubleType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv, bv = bc.value
        for pdf in batches:
            # same CSR-shaped kernel as the trainer: one bincount
            # segment-sum over the flattened arrays, no per-doc Python
            lens = np.fromiter((len(s) for s in pdf["slots"]),
                               dtype=np.int64, count=len(pdf))
            cols = (np.concatenate(list(pdf["slots"])).astype(np.int64)
                    if lens.sum() else np.empty(0, np.int64))
            data = (np.concatenate(list(pdf["vals"])).astype(np.float64)
                    if lens.sum() else np.empty(0, np.float64))
            seg = np.repeat(np.arange(len(pdf)), lens)
            logits = bv + np.bincount(
                seg, weights=wv[cols] * data, minlength=len(pdf))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "logit": logits,
                "prob": _sigmoid(logits),
            })

    return feats.mapInPandas(run, schema)


def numpy_reference_fit(
    docs: list[tuple[int, str, int]],
    n_features: int = 1 << 18,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
) -> tuple[np.ndarray, float]:
    """Single-process reference: the IDENTICAL model on (id, text, label)
    triples — the parity oracle for the distributed trainer."""
    X = [_doc_features(t, n_features) for _, t, _ in docs]
    y = np.array([lab for _, _, lab in docs], dtype=np.float64)
    n = len(docs)
    w = np.zeros(n_features, dtype=np.float64)
    b = 0.0
    for _ in range(iters):
        margins = np.array(
            [b + (w[s] @ v if len(s) else 0.0) for s, v in X])
        r = _sigmoid(margins) - y
        g = np.zeros(n_features, dtype=np.float64)
        for (s, v), ri in zip(X, r):
            np.add.at(g, s, v * ri)
        w -= lr * (g / n + l2 * w)
        b -= lr * (float(r.sum()) / n)
    return w, b
