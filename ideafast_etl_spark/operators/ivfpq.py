"""IVF-PQ: inverted-file ANN with product-quantized RESIDUALS — the
composite index structure (Jégou et al. 2011 §IV; the FAISS `IVFx,PQy`
workhorse) assembled from this repo's deterministic primitives:

  1. **Coarse quantizer**: the fixed-point spherical k-means
     (:func:`operators.clustering.kmeans_fit`) partitions the corpus
     into cells; at scale the corpus is *stored* partitioned by cell.
  2. **Residual encoding**: each vector's integer residual against its
     cell centroid (exact long subtraction — no float) is product-
     quantized with the shared codebook trainer
     (:func:`operators.pq.train_from_pts`), m codes per vector.
  3. **Query**: rank cells by exact integer inner product, probe the
     top ``n_probe``; score candidates as ``q·c_cell + Σ ADC[sub][code]``
     — the inner-product ADC decomposition q·(c + r̂) = q·c + q·r̂,
     every term an exact integer, divided once at the end.

**Hot-cell sub-split** (r9 verdict #3): on a dup-dense corpus the
coarse k-means drops a near-identical mass into ONE cell; every query
that probes it reranks |hot cell|·m code rows, and the r9 dup-density
sweep measured the 2.1× cost. ``max_cell_size`` applies the
``semantic_dedup`` capping posture to the quantizer itself: cells whose
membership exceeds the cap are re-clustered IN PLACE with a second
fixed-point spherical k-means (k₂ = ⌈size/cap⌉ per hot cell, seeds =
the cell's lowest ids, the exact level-2 discipline of
``kmeans_assign_hierarchical``), and the sub-cells replace the parent:
centroids, residual encoding, probe ranking, and candidate lists all
key on (cell, sub). Uniform corpora are untouched — no cell exceeds
the cap, k₂ ≡ 1 — and the split stays deterministic fixed-point, so
the whole composite remains SQL-replayable.

Everything cross-row is fixed-point, so the whole composite — coarse
clustering, hot-cell sub-split, residual codebooks, probing, ADC
scores — is bit-identical under any partitioning AND fully replayable
by the SQL oracle (unrolled CTEs; REPRO.md pattern 8). Recall < 1 vs
``brute_force_topk`` by construction (that is the point: touch
n_probe/n_cells of the data).

At 100 TB: training touches the corpus coarse_iters + pq_iters times
(keyed aggs + small broadcasts only); a query touches the probed cells'
code rows — with the corpus bucketed by cell id, that is a partition-
pruned scan plus integer adds, and the sub-split caps what one probed
cell can cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plan_audit import cached, checkpoint, checkpoints_enabled
from .clustering import _pos_exploded, kmeans_fit
from .pq import _assign, train_from_pts

_SCALE = 1_000_000
_S2 = _SCALE * _SCALE


def _split_hot_cells(
    pts: DataFrame,
    cells: DataFrame,
    coarse: DataFrame,
    max_cell_size: int,
    split_iters: int,
    max_split: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Sub-cluster every cell whose membership exceeds ``max_cell_size``
    and return (cells', fcent): the member→(cell, sub) assignment and
    the final (cell, sub, pos, icval) centroid set in which each hot
    cell's centroid is REPLACED by its sub-centroids. Non-hot cells pass
    through with sub=0. Level-2 k-means is the
    ``kmeans_assign_hierarchical`` discipline verbatim — fixed-point
    integer sums, half-rounded quantized renormalisation, deterministic
    (sim desc, scid asc) tie-break — keyed by the parent cell so each
    member only ever meets its own cell's sub-centroids.

    The per-iteration :func:`plan_audit.checkpoint` (bounded: ≤
    (n/cap)·dim rows) is a no-op under plan audits like every other
    lineage-truncating operator, so a plan audit sees the full split
    lineage and NO eager job fires during plan construction.

    Degenerate hot cells (every member the zero vector ⇒ every candidate
    sub-centroid renormalises to norm 0 and is filtered) keep their
    PARENT centroid as (cell, 0): the parent anti-join below removes
    only cells that actually produced sub-centroids, and the members'
    ``coalesce(sub, 0)`` fallback then lands on an existing unit instead
    of silently dropping those vectors from the index."""
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("csz"))
    hot = sizes.filter(F.col("csz") > max_cell_size)
    hpts = pts.join(cells, "__id").join(F.broadcast(hot), "cell")
    # r13: the hot-member exploded relation feeds SIX corpus-scale passes
    # (seed-centroid build, assign+update per split iteration, final
    # assign) and each re-derived the full pts explode + both joins from
    # scratch — the same re-derivation shape the r12 kmeans_fit/pq_train
    # fixes measured at 0.65-0.70x (OPTIMIZATION_r12 §9) and the bulk of
    # the documented dup-dense hot-split floor. Persist it for the life
    # of the split; every downstream op is fixed-point and partitioning-
    # independent so results are bit-identical (the SQL oracle replays
    # the split exactly).
    with cached(hpts) as hpts:
        # k₂ = min(ceil(size/cap), max_split) seeds per hot cell (its lowest
        # member ids). The k₂ bound matters as much as the cap: a 30 %-hot
        # cell at 100x would otherwise seed ceil(60k/64) ≈ 940 sub-centroids
        # and the flat sub-assign goes O(members·k₂) — the same blowup
        # kmeans_assign_hierarchical exists to avoid (measured: TIMED-OUT
        # > 600 s on the dup-dense 100x harness without the bound). Capped,
        # sub-cell size degrades gracefully to size/max_split while assign
        # work stays O(members·max_split).
        k2 = F.least(
            F.ceil(F.col("csz") / F.lit(float(max_cell_size))).cast("long"),
            F.lit(int(max_split)).cast("long"),
        )
        seed = (
            cells.join(F.broadcast(hot), "cell")
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("cell").orderBy("__id")),
            )
            .filter(F.col("rn") <= k2)
            .select("cell", "__id", (F.col("rn") - 1).cast("int").alias("scid"))
        )
        scent = checkpoint(
            hpts.join(F.broadcast(seed), ["cell", "__id"]).select(
                "cell", "scid", "pos", F.col("ival").alias("icval")
            )
        )  # bounded: ≤ (n/cap)·dim rows
        for _ in range(split_iters):
            sims = (
                hpts.join(F.broadcast(scent), ["cell", "pos"])
                .groupBy("__id", "cell", "scid")
                .agg(
                    (
                        F.sum(F.col("ival") * F.col("icval")).cast("double") / _S2
                    ).alias("sim")
                )
            )
            best = (
                sims.withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("__id").orderBy(
                            F.col("sim").desc(), F.col("scid")
                        )
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("__id", "scid")
            )
            sums = (
                hpts.join(best, "__id")
                .groupBy("cell", "scid", "pos")
                .agg(
                    F.sum(F.col("ival")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .withColumn(
                    "mean", F.col("s").cast("double") / (F.col("n") * _SCALE)
                )
                .withColumn("imean", F.round(F.col("mean") * _SCALE).cast("long"))
            )
            cnorm = F.sqrt(
                F.sum(F.col("imean") * F.col("imean"))
                .over(Window.partitionBy("cell", "scid"))
                .cast("double")
            ) / _SCALE
            scent = checkpoint(
                sums.withColumn("__cnorm", cnorm)
                .filter(F.col("__cnorm") > 0)
                .select(
                    "cell",
                    "scid",
                    "pos",
                    F.round((F.col("imean") / (F.col("__cnorm") * _SCALE)) * _SCALE)
                    .cast("long")
                    .alias("icval"),
                )
            )
        fsims = (
            hpts.join(F.broadcast(scent), ["cell", "pos"])
            .groupBy("__id", "cell", "scid")
            .agg(
                (
                    F.sum(F.col("ival") * F.col("icval")).cast("double") / _S2
                ).alias("sim")
            )
        )
        fbest = (
            fsims.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("__id").orderBy(
                        F.col("sim").desc(), F.col("scid")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("__id", F.col("scid").alias("__scid"))
        )
        # bounded: one row per hot-cell member. Materializing the
        # final sub-assignment here cuts cells2's lineage over the
        # about-to-be-released cache.
        fbest = checkpoint(fbest)
    cells2 = cells.join(fbest, "__id", "left").select(
        "__id",
        "cell",
        F.coalesce(F.col("__scid"), F.lit(0)).cast("int").alias("sub"),
    )
    # Remove a parent centroid ONLY if its cell actually produced
    # sub-centroids; a degenerate hot cell (scent empty after the norm
    # filter) keeps (cell, 0) so its members' coalesce fallback resolves.
    split_cells = scent.select("cell").distinct()
    fcent = (
        coarse.select(F.col("cid").alias("cell"), "pos", "icval")
        .join(F.broadcast(split_cells), "cell", "left_anti")
        .withColumn("sub", F.lit(0).cast("int"))
        .select("cell", "sub", "pos", "icval")
        .unionByName(
            scent.select(
                "cell", F.col("scid").alias("sub"), "pos", "icval"
            )
        )
    )
    return cells2, fcent


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    coarse_iters: int = 4,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | str | None = None,
    split_iters: int = 2,
    max_split: int = 32,
    auto_hot_factor: float = 2.0,
) -> DataFrame:
    """IVF-PQ approximate top-k; returns (query_id, neighbor_id,
    approx_sim, rank). ``max_cell_size`` (opt-in) caps coarse-cell
    membership by sub-splitting oversized cells — see module docstring;
    ``n_probe`` then counts (cell, sub) units, so a probed unit's rerank
    cost is bounded by the cap instead of the hottest cell's mass.
    ``max_split`` bounds each cell's sub-centroid count so the split's
    own assign stage stays O(members · max_split).

    ``max_cell_size="auto"`` is the production posture: the cap scales
    with the corpus — ``ceil(auto_hot_factor · n / n_cells)``, one count
    job — so UNIFORM corpora never split (no cell exceeds ~2× the
    expected size; a fixed absolute cap would split every cell once the
    corpus outgrows it — measured: a pinned cap of 64 at uniform-100×
    split all 8 cells 32-ways and cost 3× the unsplit plan) while a
    dup-dense hot cell still decomposes. Under plan-audit mode the cap
    resolves to 1 without running the count: the audited plan carries
    the full split structure (the hot predicate is data-dependent either
    way) and no eager job fires."""
    dim = df.select(F.size(vec_col)).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    if max_cell_size == "auto":
        if checkpoints_enabled():
            n = df.count()
            max_cell_size = max(1, -(-int(auto_hot_factor * n) // n_cells))
        else:
            max_cell_size = 1  # audit: split structure, no eager count
    elif isinstance(max_cell_size, str):
        raise ValueError(
            f"max_cell_size must be an int, None, or 'auto'; "
            f"got {max_cell_size!r}"
        )

    assign, coarse = kmeans_fit(
        df, vec_col, id_col, k=n_cells, iters=coarse_iters
    )
    cells = assign.select(
        F.col(id_col).alias("__id"), F.col("cluster_id").alias("cell")
    )
    # n rows × 2 columns, bounded (the kmeans_assign_hierarchical
    # discipline). Without it, every downstream consumer — the hot
    # check, each of the split's ~6 member-relation passes, the
    # residual encode inside every PQ training iteration — re-runs
    # the coarse assignment pass (pts ⋈ centroids, n·dim·k rows)
    # from scratch; profiled at 100× as the bulk of the end-to-end
    # cost on BOTH corpus shapes (SCALE.md r12).
    cells = checkpoint(cells)
    pts = _pos_exploded(df, id_col, vec_col)
    do_split = max_cell_size is not None
    if do_split:
        if checkpoints_enabled():
            # ONE keyed agg over the (id, cell) assignment — n rows, two
            # columns — decides whether any cell is actually hot. Without
            # this, a UNIFORM corpus still paid the split machinery's
            # eager checkpoints: each materializes its empty result by
            # scanning the full exploded pts relation, ~3 corpus-scale
            # jobs for nothing (measured at uniform-100x: hotsplit_auto
            # ~163 s vs ~117 s plain with n_probe worth ~+50% rerank —
            # the empty-split overhead was most of the residual). When
            # nothing exceeds the cap the split is the identity
            # (tests: huge-cap/auto-cap identity), so skipping is exact.
            # Under plan-audit mode the full split structure is kept and
            # no job fires (the audited plan carries the real lineage).
            do_split = (
                cells.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("csz"))
                .filter(F.col("csz") > max_cell_size)
                .limit(1)
                .count()
                > 0
            )
    if do_split:
        cells, fcent = _split_hot_cells(
            pts, cells, coarse, max_cell_size, split_iters, max_split
        )
        # Re-spread the split's assignment before the corpus-scale joins
        # (r11 verdict #4, profiled in SCALE.md r12): the split's own
        # relations are small (n rows, narrow), so AQE coalesces its
        # final window/join lineage down to ONE partition — and the
        # residual encode joins the full exploded pts relation against
        # it, leaving rpts and the whole PQ training stage single-task
        # (measured: PQ assign 161-201 s/iteration on one core vs ~8 s
        # spread, the entire dup-dense hot-split "residual"). One cheap
        # n-row shuffle restores parallelism; every downstream op is
        # fixed-point and partitioning-independent, so results are
        # bit-identical (the SQL oracle pins this).
        cells = checkpoint(  # n×3 rows, bounded
            cells.repartition(
                df.sparkSession.sparkContext.defaultParallelism, "__id"
            )
        )
    else:
        cells = cells.withColumn("sub", F.lit(0).cast("int"))
        fcent = coarse.select(
            F.col("cid").alias("cell"),
            F.lit(0).cast("int").alias("sub"),
            "pos",
            "icval",
        )
    # integer residual against the (possibly sub-split) assigned centroid
    rpts = (
        pts.join(cells, "__id")
        .join(F.broadcast(fcent), ["cell", "sub", "pos"])
        .select(
            "__id",
            (F.col("pos") / subdim).cast("int").alias("sub"),
            (F.col("pos") % subdim).alias("spos"),
            (F.col("ival") - F.col("icval")).alias("ival"),
        )
    )
    # the PQ trainer touches rpts 2·pq_iters+1 times (assign + update
    # per iteration, then the code pass); cache the corpus-scale
    # residual relation instead of re-deriving it each time — the
    # minhash shingle-relation discipline (dedup.py). Spilled to disk
    # when it outgrows memory; unpersisted before returning.
    with cached(rpts) as rpts:
        seed_ids = (
            df.select(F.col(id_col).alias("__id"))
            .orderBy("__id")
            .limit(k_codes)
            .withColumn(
                "cid", F.row_number().over(Window.orderBy("__id")) - F.lit(1)
            )
        )
        cb = train_from_pts(rpts, seed_ids, pq_iters)
        codes = _assign(rpts, cb)  # (__id, sub, cid)

        q_pts = _pos_exploded(
            queries.select(F.col(id_col).alias("qid"), vec_col), "qid", vec_col
        ).withColumnRenamed("__id", "qid")
        # probe: exact integer q·centroid per (cell, sub), keep the n_probe best
        qcell = (
            q_pts.join(F.broadcast(fcent), "pos")
            .groupBy("qid", "cell", "sub")
            .agg(F.sum(F.col("ival") * F.col("icval")).alias("qc"))
        )
        wp = Window.partitionBy("qid").orderBy(
            F.desc("qc"), F.asc("cell"), F.asc("sub")
        )
        probed = (
            qcell.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= n_probe)
            .select("qid", "cell", "sub", "qc")
        )
        # ADC table: q (raw, not residual) dotted with every residual codeword
        q_sub = q_pts.select(
            "qid",
            (F.col("pos") / subdim).cast("int").alias("sub"),
            (F.col("pos") % subdim).alias("spos"),
            "ival",
        )
        tab = (
            q_sub.join(F.broadcast(cb), ["sub", "spos"])
            .groupBy("qid", "sub", "cid")
            .agg(F.sum(F.col("ival") * F.col("icval")).alias("ip"))
        )
        cands = probed.join(cells, ["cell", "sub"]).filter(
            F.col("__id") != F.col("qid")
        )
        adc = (
            cands.select("qid", "qc", "__id")
            .join(codes, "__id")
            .join(F.broadcast(tab), ["qid", "sub", "cid"])
            .groupBy("qid", "__id", "qc")
            .agg(F.sum("ip").alias("adc"))
        )
        scored = adc.select(
            F.col("qid").alias("query_id"),
            F.col("__id").alias("neighbor_id"),
            F.round((F.col("qc") + F.col("adc")).cast("double") / _S2, 6).alias(
                "approx_sim"
            ),
        )
        from .similarity import ranked_topk

        result = ranked_topk(
            scored,
            ["query_id"],
            [F.desc("approx_sim"), F.asc("neighbor_id")],
            k,
        ).select("query_id", "neighbor_id", "approx_sim", "rank")
        # materialise (≤ |queries|·k rows) before releasing the cache —
        # the minhash pattern: the caller gets a small checkpointed
        # relation, not lineage over an unpersisted cache
        return checkpoint(result)
