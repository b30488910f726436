"""Caches and checkpoints are value-free: every operator that routes a
materialization through ``plan_audit.cached``/``plan_audit.checkpoint``
must return the same rows by default as inside ``no_checkpoints()``,
where both helpers are no-ops and the full lazy lineage runs (REPRO.md
same-values discipline). Fixtures stay tiny because the lazy form
recomputes lineage per loop iteration."""

import random

import pytest

from pyspark.sql import functions as F

from ideafast_etl_spark.operators import (
    classifier,
    clustering,
    dedup,
    ivfpq,
    pq,
    similarity,
)
from ideafast_etl_spark.plan_audit import no_checkpoints


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _parity(build):
    """(default rows, no_checkpoints rows) of the DataFrame ``build()``
    returns; the lazy result is collected inside the context."""
    cached = _rows(build())
    with no_checkpoints():
        lazy = _rows(build())
    return cached, lazy


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"the quick brown fox jumps over lazy dog {i % 4}")
            for i in range(16)]
    rows += [(100 + i, f"completely different text body num{i} tok{i} "
                       f"it{i} th{i} ex{i} mo{i}") for i in range(6)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def vecs(spark):
    """A planted near-identical cluster (ids 0-11) plus spread vectors."""
    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(8)]
    rows = [(i, [v + rnd.uniform(-1e-4, 1e-4) for v in base])
            for i in range(12)]
    rows += [(100 + i, [rnd.uniform(-1, 1) for _ in range(8)])
             for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("candidates", ["all", "star"])
def test_minhash_cached_matches_lazy(docs, candidates):
    """The shingle and per-doc signature caches of
    minhash_near_dup_pairs (both candidate postures)."""
    cached, lazy = _parity(lambda: dedup.minhash_near_dup_pairs(
        docs, threshold=0.3, candidates=candidates))
    assert cached == lazy
    assert len(cached) > 0


def test_simhash_cached_matches_lazy(docs):
    """The fingerprint-relation cache of simhash_near_dup_pairs."""
    cached, lazy = _parity(
        lambda: dedup.simhash_near_dup_pairs(docs, max_hamming=3))
    assert cached == lazy
    assert len(cached) > 0


def test_grid_star_cached_matches_lazy(vecs):
    """The grid-star representative cache: the planted cluster exercises
    the intra leg, the spread vectors the cross leg."""
    cached, lazy = _parity(lambda: similarity.grid_near_dup_pairs(
        vecs, threshold=0.95, candidates="star"))
    assert cached == lazy
    assert len(cached) >= 11  # the planted cluster's intra pairs exist


def test_kmeans_and_pq_trainers_cached_match_lazy(vecs):
    """The trainers' point caches (kmeans_fit, pq_train): same
    assignment, same centroids, same codebooks."""
    def fit():
        assign, cent = clustering.kmeans_fit(vecs, k=3, iters=1)
        return assign.unionByName(
            cent.selectExpr("cid AS vec_id", "pos AS cluster_id",
                            "CAST(icval AS double) AS sim")
        )

    cached, lazy = _parity(fit)
    assert cached == lazy
    cached, lazy = _parity(lambda: pq.pq_train(vecs, m=2, k=4, iters=1))
    assert cached == lazy


def test_ivfpq_hotsplit_cached_matches_lazy(vecs):
    """The hot-member cache of the IVF-PQ hot-cell split, with a cap
    small enough that the planted cluster's cell splits: same member
    assignment, same sub-centroids."""
    from pyspark.sql import functions as F

    assign, coarse = clustering.kmeans_fit(vecs, k=3, iters=1)
    cells = assign.select(
        F.col("vec_id").alias("__id"), F.col("cluster_id").alias("cell")
    )
    pts = clustering._pos_exploded(vecs, "vec_id", "embedding")

    def split():
        cells2, fcent = ivfpq._split_hot_cells(
            pts, cells, coarse, max_cell_size=4, split_iters=1
        )
        return cells2.selectExpr("__id", "cell", "sub", "0 AS pos").unionByName(
            fcent.selectExpr("icval AS __id", "cell", "sub", "pos")
        )

    cached, lazy = _parity(split)
    assert cached == lazy
    assert max(r[2] for r in cached) > 0  # a hot cell actually split


def test_classifier_cached_matches_lazy(docs):
    """train_and_score_logreg's single training cache."""
    feats = classifier.doc_features(docs, dim=16)
    labels = docs.selectExpr("doc_id", "CAST(doc_id < 100 AS int) AS label")
    cached, lazy = _parity(lambda: classifier.train_and_score_logreg(
        feats, labels, dim=16, iters=2))
    assert cached == lazy
    assert len(cached) == 22


def test_cc_labels_are_component_minimum(spark):
    """Min-label propagation with the in-projection change flag
    (labels are monotone, so new != old iff neighbour_min < old) on a
    fixture whose pair graph takes multiple rounds — a template cluster
    plus satellite dups: every template doc resolves to min id 0, in
    both candidate postures."""
    template = " ".join(f"w{i}" for i in range(40))
    rows = [(i, f"{template} u{i}a u{i}b") for i in range(24)]
    rows += [
        (200 + i, "totally unrelated prose block "
                  f"num{i} top{i} it{i} th{i} ex{i} mo{i} wo{i} he{i}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        mode: _rows(dedup.near_dup_clusters(
            docs, threshold=0.5, candidates=mode))
        for mode in ("all", "star")
    }
    assert got["all"] == got["star"]
    assert [p for p in got["all"] if p[0] < 200] == [
        (i, 0) for i in range(24)
    ]


def test_cc_output_schema_drops_change_flag(spark):
    """The internal __chg column must never leak into the operator's
    output schema."""
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.near_dup_clusters(docs, threshold=0.5)
    assert out.columns == ["doc_id", "cluster_id"]
