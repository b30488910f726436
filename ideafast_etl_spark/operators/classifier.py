"""Distributed linear quality classifier (SURVEY.md §2.13 — LLM-pipeline
extension): hashed bag-of-words logistic regression, trained by full-batch
gradient descent as pure DataFrame algebra.

This is the fasttext-style quality-classifier shape used by GPT-3/LLaMA/
CCNet-descended pipelines (train a cheap linear model on "good vs bad"
examples, score the whole corpus, keep the high-probability tail) —
re-expressed Spark-first:

- Features: hashing trick — token → ``stable_bucket(token, D)`` (sha256-
  derived, engine- and version-portable, same primitive the shard
  manifests use), integer token counts per bucket, plus a bias feature.
  One explode + one keyed agg, computed ONCE and cached across iterations.
- Training: T full-batch GD steps. Each step is one distributed pass:
  per-doc margin ``w·x`` (a left fold over the doc's index-sorted feature
  array — fixed summation order), per-doc error ``σ(margin) − y``, then a
  per-FEATURE gradient aggregation keyed on the bucket id. The only data
  reaching the driver per step is the D+1-row gradient vector
  (MLlib-style; D is a config constant, not data-sized).
- Determinism (REPRO.md): per-doc gradient contributions are quantized to
  fixed-point longs before the cross-doc sum — an associative integer
  reduction, so the trained weights are bit-identical under any
  partitioning, and a single-process numpy twin reproduces them exactly.
- Scoring: broadcast the D+1 weights, one map-side fold per doc — no
  shuffle at all.

At 100 TB: the cached feature table is the only shuffle (keyed on doc id);
each GD step scans it once and aggregates D rows; scoring is shuffle-free.

Reference parity: no classifier exists in the reference
(``ideafast_etl/``); this is part of the mandated training-data extension
surface alongside dedup/similarity/clustering.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plan_audit import cached, checkpoint
from .packing import stable_bucket

_FP = 1_000_000_000  # fixed-point grid for gradient quantization
_SALT = "qclf"


def doc_features(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, feats) where feats is an index-SORTED array of
    struct(idx int, cnt int) hashed-bag-of-words features; idx ``dim`` is
    the always-on bias feature. Sorting fixes the fold order for every
    later dot product."""
    from ..functions.text import norm_text

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
    )
    counts = (
        toks.withColumn("idx", stable_bucket("tok", dim, _SALT).cast("int"))
        .groupBy(id_col, "idx")
        .agg(F.count(F.lit(1)).cast("int").alias("cnt"))
    )
    return counts.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx"), F.col("cnt")))
        ).alias("feats")
    ).withColumn(
        "feats",
        F.concat(
            F.col("feats"),
            F.array(F.struct(F.lit(dim).cast("int").alias("idx"),
                             F.lit(1).cast("int").alias("cnt"))),
        ),
    )


def _margin(weights: list[float]) -> F.Column:
    """w·x as a left fold over the index-sorted feature array — the
    summation order is the array order, identical at any parallelism."""
    warr = F.array(*[F.lit(float(w)) for w in weights])
    return F.aggregate(
        F.col("feats"),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(warr, s["idx"] + 1) * s["cnt"].cast("double"),
    )


def _labelled(
    feats: DataFrame, labels: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """(id, feats, y): the training population ``feats ⋈ labels`` — the
    one relation both training and fused scoring read."""
    return feats.join(labels, id_col).select(
        id_col, "feats", F.col(label_col).cast("double").alias("y")
    )


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 256,
    iters: int = 10,
    lr: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> list[float]:
    """T full-batch GD steps; returns the D+1 trained weights.

    Each step: join features to labels (broadcastable or co-keyed on the
    doc id), compute the per-doc error, explode features, quantize each
    per-doc per-feature contribution to a fixed-point long, aggregate by
    feature index (D+1 result rows), apply the step on the driver. The
    loss is standard logistic loss; the gradient for feature j is
    Σ_docs (σ(w·x) − y)·x_j / n."""
    with cached(_labelled(feats, labels, id_col, label_col)) as joined:
        return _gd_loop(joined, dim, iters, lr)


def _gd_loop(joined: DataFrame, dim: int, iters: int, lr: float) -> list[float]:
    """The GD steps over a cached (…, feats, y) relation — shared by
    :func:`train_logreg` and :func:`train_and_score_logreg` so the fused
    form can score off the SAME cached relation.

    r13 job shave (VERDICT r12 #5): the doc count used to be its own job
    before the gradient loop. Every feature array from
    :func:`doc_features` ends with the always-on bias feature at
    idx==dim (and stable_bucket maps real tokens into [0, dim), so
    nothing collides with it) — the FIRST gradient pass therefore
    carries n as the per-idx doc count at the bias row, one aggregate
    column on a job that runs anyway. iters+1 jobs -> iters jobs;
    weights unchanged (same gradient rows, same arithmetic). A ``feats``
    relation without the bias row therefore raises instead of training
    on n = 0; an empty training population returns zero weights."""
    n = 0
    w = [0.0] * (dim + 1)
    for it in range(iters):
        err = (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(w))) - F.col("y")
        )
        aggs = [F.sum("g").alias("g")]
        if it == 0:
            aggs.append(F.count(F.lit(1)).alias("c"))
        grad_rows = (
            joined.withColumn("err", err)
            .select(F.explode("feats").alias("s"), "err")
            .select(
                F.col("s.idx").alias("idx"),
                F.round(
                    F.col("err") * F.col("s.cnt").cast("double") * _FP
                ).cast("long").alias("g"),
            )
            .groupBy("idx")
            .agg(*aggs)
            .collect()
        )
        if it == 0:
            if not grad_rows:
                return w
            n = next((r["c"] for r in grad_rows if r["idx"] == dim), 0)
            if n == 0:
                raise ValueError(
                    f"feats has no bias feature at idx == {dim}: build it "
                    "with doc_features(dim=...) using the same dim"
                )
        for r in grad_rows:
            w[r["idx"]] -= lr * (r["g"] / _FP) / n
    return w


def train_and_score_logreg(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 256,
    iters: int = 10,
    lr: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """Train then score the training population ``feats ⋈ labels``
    (the labelled docs — all docs in the declared query) with the
    feature relation computed ONCE, scoring off the SAME cached relation
    the trainer iterates on.

    Composed separately, ``feats`` (tokenize + explode + two keyed
    aggregations — the query's heaviest subtree) is derived twice: once
    materializing the training join's cache and once again by the scoring
    pass (r12's grid-star/minhash root cause: nothing re-uses the exchange
    across the two consumers). The first r13 attempt persisted ``feats``
    itself IN ADDITION to the trainer's ``joined`` cache — measured 1.26×
    SLOWER at 40× (two corpus-scale caches + the second cache's write cost
    exceed the one saved derivation). This form instead carries ``id_col``
    into the single training cache and scores from it: one corpus
    derivation and one cache total. The doc-count-sized scored result
    (n × 3 narrow columns — the ccnet ``scored`` checkpoint class) is
    eagerly checkpointed before the cache is released. Weights and scores
    are bit-identical to :func:`train_logreg` + :func:`score_logreg` over
    the same population. The plan audit sees the same join it executes.
    """
    with cached(_labelled(feats, labels, id_col, label_col)) as joined:
        w = _gd_loop(joined, dim, iters, lr)
        return checkpoint(score_logreg(joined, w, id_col=id_col))


def score_logreg(
    feats: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, prob, predicted) — shuffle-free: the D+1 weights ride the plan
    as a literal array; one fold per row."""
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(weights)))
    return feats.select(
        F.col(id_col),
        F.round(prob, 6).alias("prob"),
        (prob >= 0.5).alias("predicted"),
    )


# --------------------------------------------------------------------------
# single-process twin (bit-exact: same hashing, same fold order, same
# fixed-point gradient quantization) — the REPRO.md verification pattern
# --------------------------------------------------------------------------


def numpy_twin(
    docs: list[tuple[int, str, int]],
    dim: int = 256,
    iters: int = 10,
    lr: float = 0.5,
) -> tuple[list[float], dict[int, float]]:
    """Reference implementation over (id, text, label) rows. Returns
    (weights, {id: prob}) — must equal the distributed result bit-for-bit."""
    import hashlib
    import re

    def buckets(text: str) -> list[tuple[int, int]]:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        cnt: dict[int, int] = {}
        for tok in norm.split(" "):
            h = hashlib.sha256((tok + _SALT).encode()).hexdigest()
            idx = int(h[:15], 16) % dim
            cnt[idx] = cnt.get(idx, 0) + 1
        return sorted(cnt.items()) + [(dim, 1)]

    rows = [(i, buckets(t), y) for i, t, y in docs]
    w = np.zeros(dim + 1)
    n = len(rows)
    for _ in range(iters):
        g = {}
        for _i, fs, y in rows:
            m = 0.0
            for idx, c in fs:
                m += w[idx] * float(c)
            e = 1.0 / (1.0 + math.exp(-m)) - float(y)
            for idx, c in fs:
                x = e * float(c) * _FP
                # Spark ROUND is HALF_UP (ties away from zero), not
                # banker's — match it exactly
                q = int(math.floor(x + 0.5)) if x >= 0 else -int(
                    math.floor(-x + 0.5)
                )
                g[idx] = g.get(idx, 0) + q
        for idx, gq in g.items():
            w[idx] -= lr * (gq / _FP) / n
    probs = {}
    for i, fs, _y in rows:
        m = 0.0
        for idx, c in fs:
            m += w[idx] * float(c)
        probs[i] = round(1.0 / (1.0 + math.exp(-m)), 6)
    return list(w), probs


def quality_labels(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Self-supervised labels from the heuristic quality score (the
    bootstrap a real pipeline does before human labels exist): label 1
    iff quality_score >= 0.6 — same threshold as the quality_filter
    query."""
    from ..functions import text as T

    return df.select(
        F.col(id_col),
        (F.round(T.quality_score(F.col(text_col)), 4) >= 0.6)
        .cast("int")
        .alias("label"),
    )
