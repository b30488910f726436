"""Product quantization (PQ) for embedding compression + ANN search
(Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
Search").

The vector space is split into ``m`` contiguous subspaces; each subspace
gets its own ``k``-centroid codebook (k-means in that subspace); a vector
is stored as ``m`` small codes (m bytes for k<=256) instead of ``dim``
floats — a 32x compression at dim=64/m=4/float32 — and queries rank
candidates with the ADC (asymmetric distance computation) trick: one
m x k inner-product lookup table per query, then each candidate's score
is ``sum(table[sub][code[sub]])`` — no per-pair float math at all.

Distributed design (same discipline as :mod:`operators/clustering`):

- **All m codebooks train in ONE set of distributed jobs**: the subspace
  index rides the exploded point relation as a key column, so assignment
  and update group by ``(sub, cid)`` instead of looping a driver-side
  k-means per subspace. Iteration count is the only driver loop.
- **Every cross-row sum is fixed-point**: components quantised to
  ``round(v * 10^6)`` longs; distances and inner products are exact
  integer sums, so training, codes, and ADC scores are bit-identical
  under any partitioning / AQE re-plan (verified by a numpy twin test).
- **Only the codebook is broadcast** (m·k·subdim rows); the corpus never
  shuffles except the keyed aggregations. At 100 TB the encode pass is a
  map-side join + one aggregation keyed by the uniform vector id, and
  the ADC query pass touches each code row once.

Inputs are unit-normalised first (spherical convention shared with
clustering/similarity), so ADC inner product ranks identically to L2 at
recall-relevant scales; like IVF/LSH this is an approximate path whose
exact twin is ``brute_force_topk`` — recall < 1 by construction.

Reference analog: the reference has no ANN surface; this extends the
similarity-search leg (SURVEY.md §2.13) alongside LSH and IVF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import cached
from .clustering import _pos_exploded

_SCALE = 1_000_000

PQ_M = 4  # subspaces
PQ_K = 16  # centroids per subspace
PQ_ITERS = 4


def _sub_points(
    df: DataFrame, id_col: str, vec_col: str, subdim: int
) -> DataFrame:
    """(id, sub, spos, ival) — unit-normalised, fixed-point-quantised
    components keyed by subspace and within-subspace position."""
    return _pos_exploded(df, id_col, vec_col).select(
        "__id",
        (F.col("pos") / subdim).cast("int").alias("sub"),
        (F.col("pos") % subdim).alias("spos"),
        "ival",
    )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int | None = None,
) -> DataFrame:
    """Train the m codebooks; returns (sub, cid, spos, icval).

    Seeding is data-derived and order-free: the k lowest-id vectors seed
    every subspace's codebook (their subvectors differ per subspace, so
    the codebooks diverge immediately). A centroid that loses all its
    members disappears — assignments fall to the nearest survivor.
    """
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    # Persist the sub-point relation across training (r12, the kmeans_fit
    # discipline): train_from_pts consumes it 2·iters+1 times through its
    # eager per-iteration checkpoints, and its final statement IS an eager
    # checkpoint, so every consumption completes before the unpersist.
    # (The residual IVF-PQ caller persists its own rpts the same way.)
    # Values unchanged — fixed-point sums are partitioning-independent.
    with cached(_sub_points(df, id_col, vec_col, subdim)) as pts:
        seed_ids = (
            df.select(F.col(id_col).alias("__id"))
            .orderBy("__id")
            .limit(k)
            .withColumn(
                "cid", F.row_number().over(Window.orderBy("__id")) - F.lit(1)
            )
        )
        return train_from_pts(pts, seed_ids, iters)


def train_from_pts(
    pts: DataFrame, seed_ids: DataFrame, iters: int
) -> DataFrame:
    """Codebook training over a pre-built (id, sub, spos, ival) relation —
    shared by raw-vector PQ and residual IVF-PQ (operators/ivfpq.py).
    ``seed_ids`` is (__id, cid); the seeds' subvectors initialise every
    subspace's codebook."""
    cent = (
        pts.join(F.broadcast(seed_ids), "__id")
        .select("sub", "cid", "spos", F.col("ival").alias("icval"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        best = _assign(pts, cent)
        cent = (
            pts.join(best, ["__id", "sub"])
            .groupBy("sub", "cid", "spos")
            .agg(F.sum("ival").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "sub",
                "cid",
                "spos",
                F.round(F.col("s").cast("double") / F.col("n"))
                .cast("long")
                .alias("icval"),
            )
            .localCheckpoint(eager=True)  # m·k·subdim rows
        )
    return cent


def _assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """Argmin-L2 subspace assignment: (id, sub, cid) via exact integer
    squared distances; ties break on the lower cid."""
    d2 = (
        pts.join(F.broadcast(cent), ["sub", "spos"])
        .groupBy("__id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("ival") - F.col("icval"))
                * (F.col("ival") - F.col("icval"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("__id", "sub").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("__id", "sub", "cid")
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    m: int = PQ_M,
) -> DataFrame:
    """Encode each vector as its m-code array: (id_col, codes array<int>).
    The array is sub-ordered, so ``codes[sub]`` is that subspace's code."""
    if dim is None:
        dim = df.select(F.size(vec_col)).first()[0]
    pts = _sub_points(df, id_col, vec_col, dim // m)
    best = _assign(pts, codebook)
    return (
        best.groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda s: s["cid"],
            ).alias("codes")
        )
        .select(F.col("__id").alias(id_col), "codes")
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    n_centroids: int = PQ_K,
    iters: int = PQ_ITERS,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: train (or reuse) a codebook, encode the corpus once, and
    rank candidates per query by the summed inner-product table lookups.

    Plan shape at scale: the corpus is touched twice (encode + score);
    both passes are broadcast joins against the m·k codebook / per-query
    table plus one aggregation keyed by the vector id. Candidate scoring
    is integer adds — the float math is m·k dot products per query.
    """
    dim = df.select(F.size(vec_col)).first()[0]
    if codebook is None:
        codebook = pq_train(
            df, vec_col, id_col, m=m, k=n_centroids, iters=iters, dim=dim
        )
    subdim = dim // m
    codes = (
        pq_encode(df, codebook, vec_col, id_col, dim=dim, m=m)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode("codes").alias("sub", "cid"),
        )
    )
    q_pts = _sub_points(
        queries.select(F.col(id_col).alias("qid"), vec_col), "qid", vec_col, subdim
    ).withColumnRenamed("__id", "qid")
    # per-query ADC table: exact integer inner products vs every centroid
    table = (
        q_pts.join(F.broadcast(codebook), ["sub", "spos"])
        .groupBy("qid", "sub", "cid")
        .agg(F.sum(F.col("ival") * F.col("icval")).alias("ip"))
    )
    scored = (
        codes.join(F.broadcast(table), ["sub", "cid"])
        .groupBy("qid", "neighbor_id")
        .agg(
            F.round(
                F.sum("ip").cast("double") / (_SCALE * _SCALE), 6
            ).alias("approx_sim")
        )
        .filter(F.col("neighbor_id") != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"), "neighbor_id", "approx_sim", "rank"
        )
    )
