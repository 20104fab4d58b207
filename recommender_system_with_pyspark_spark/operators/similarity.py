"""Similarity search over embedding columns (north-star extension).

- ``cosine_topk``      — THE exact top-k: the query side collects into a
                         broadcast anchor matrix, every candidate partition
                         scores it with one numpy GEMM per Arrow batch and
                         keeps a partial top-k per anchor; one window
                         reduces the survivors. ``pos_col`` turns it into
                         exact hard-negative mining. Oracle-testable.
- ``hard_negatives_indexed`` — the same GEMM scorer over a prebuilt,
                         cell-partitioned IVF index (``write_ivf_index``):
                         the one indexed probe, for mining and ALS serving.
- ``lsh_topk``         — BucketedRandomProjectionLSH on L2-normalized
                         vectors (Euclidean on the unit sphere is monotone
                         in cosine): the approximate scale path — candidate
                         generation via bucket join, exact re-rank after.
- ``ivf_topk``         — IVF-style: k-means coarse centroids, probe the
                         nearest ``n_probe`` cells, exact re-rank inside —
                         classic ANN partitioning expressed as two joins.
- ``embedding_near_dup`` — cosine-threshold near-duplicate pairs (native
                         pair join within blocks); ``_blocked`` is the
                         distributed-exact block-matrix path.

Join-based paths score with native folds (``zip_with`` + ``aggregate``) —
JVM-side, no Python serde per row; the GEMM paths run numpy in
``mapInPandas``. Every top-k rounds sims to 6 dp and ranks by
(desc sim, asc neighbor_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpointing import local_ckpt_ser


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns (native fold —
    same sequential summation order as the DuckDB oracle)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared top-k contract: per query_id, rank by (desc sim, asc
    neighbor_id) and keep ranks 1..k as (query_id, neighbor_id, sim, rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    pos_col: "str | None" = None,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    The query side collects into an L2-normalized anchor matrix and
    broadcasts (ANN workloads have |Q| ≪ |C|); each candidate partition
    scores ``batch @ Q.T`` with one numpy GEMM per Arrow batch, masks
    excluded pairs, and keeps its per-batch top-k per anchor, so the final
    (desc sim, asc neighbor_id) window reduces anchors × batches × k
    survivors instead of every scored pair. Sims are rounded to 6 dp, so
    the brute-force SQL oracle attaches. Cost is |Q|·|C| multiply-adds at
    BLAS speed and one candidate scan for the whole query batch.

    ``exclude_self`` drops pairs whose ids are equal; pass False when
    queries and candidates live in different id spaces. ``pos_col`` makes
    this contrastive HARD-NEGATIVE mining: only candidates whose label
    DIFFERS from the query's are ranked (NULL is distinct from every
    label but not from NULL — IS DISTINCT FROM semantics). These
    near-miss negatives are what contrastive / triplet objectives learn
    boundaries from; random negatives (``sampling.negative_sample``) are
    too easy by the first epoch.

    The anchor matrix broadcasts, so more than ``max_broadcast_rows``
    query rows raise instead of OOM-ing the executors: shard the anchors,
    or mine a full training set through ``hard_negatives_ann`` (ANN
    over-fetch), ``ivf_topk_exact`` (exact, cell-pruned) or
    ``hard_negatives_indexed`` (prebuilt index). An empty query frame
    raises too."""
    q_ids, q_mat, q_code, codes = _collect_anchor_matrix(
        queries, id_col, vec_col, pos_col, max_broadcast_rows,
        "shard the anchors, or mine at training-set scale with "
        "hard_negatives_ann (ANN over-fetch), ivf_topk_exact (exact, "
        "cell-pruned) or hard_negatives_indexed (prebuilt index)",
    )
    score = _gemm_partial_topk_scorer(
        queries.sparkSession.sparkContext.broadcast(
            (q_ids, q_mat, q_code, codes, None, exclude_self)
        ),
        k,
    )
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if pos_col is not None:
        cols.append(F.col(pos_col).alias("_p"))
    # the output keeps each side's id type (ALS factor ids are int)
    q_type, c_type = (df.schema[id_col].dataType.simpleString() for df in (queries, candidates))
    partial = _as_double(candidates.select(*cols), "_v").mapInPandas(
        score, f"query_id {q_type}, neighbor_id {c_type}, sim double"
    )
    return _rank_topk(partial, k)


def hard_negatives_ann(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_col: str = "label",
    k: int = 10,
    overfetch: int = 4,
    method: str = "ivf",
    **ann_kwargs,
) -> DataFrame:
    """Hard-negative mining at TRAINING-SET scale — the ANN over-fetch
    path the ``cosine_topk`` guard points at: generate the top
    ``k·overfetch`` approximate neighbors per query (``ivf_topk`` /
    ``lsh_topk`` — bucketed candidate generation, never all-pairs), join
    labels back on the bounded |Q|·k·overfetch candidate set, drop
    same-label pairs (null-safe, IS DISTINCT FROM semantics), re-rank,
    keep ``k``. Same output contract as ``cosine_topk(pos_col=...)``:
    (query_id, neighbor_id, sim, rank), round-to-6 sims, neighbor-id
    tie-break.

    Cost shape: candidate generation is the ANN join (IVF probes
    ``n_probe/n_cells`` of the candidates per query; LSH probes hash
    buckets) and everything after runs on ≤ |Q|·k·overfetch rows — the
    label joins shuffle ids, never vectors, and AQE broadcasts the query
    side of the label join when it is small. Mining 1M anchors is 1M
    bucket probes, not 1M catalog scans. Recall vs brute force is
    measured by the ``hard_negative_mining_ann`` recall-report entry
    (the ``ann_recall_report`` pattern); raise ``overfetch`` when probed
    neighborhoods are label-pure. For a provably exact answer with cell
    pruning use ``ivf_topk_exact(pos_col=...)``.

    DEPLOYMENT NOTE (measured, SCALING.md round 10): with ``method='ivf'``
    the k-means fit runs INSIDE this call — 1068 s of 1097 at sf100 was
    index build. At catalog scale build the index once with
    ``write_ivf_index(extra_cols=(pos_col,))`` and mine through
    ``hard_negatives_indexed`` (pure partition-pruned probe, label filter
    inside the probe scoring, no over-fetch slack); this function remains
    the zero-setup form for one-shot batches."""
    if overfetch < 1:
        raise ValueError("overfetch must be >= 1")
    if method == "ivf":
        ann = ivf_topk(queries, candidates, id_col, vec_col, k=k * overfetch, **ann_kwargs)
    elif method == "lsh":
        ann = lsh_topk(queries, candidates, id_col, vec_col, k=k * overfetch, **ann_kwargs)
    else:
        raise ValueError(f"unknown method {method!r} (use 'ivf' or 'lsh')")
    q_labels = queries.select(
        F.col(id_col).alias("query_id"), F.col(pos_col).alias("_qp")
    )
    c_labels = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(pos_col).alias("_cp")
    )
    negs = (
        ann.join(q_labels, "query_id")
        .join(c_labels, "neighbor_id")
        .filter(~F.col("_qp").eqNullSafe(F.col("_cp")))
    )
    return _rank_topk(negs, k)


def _collect_anchor_matrix(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    pos_col: "str | None",
    max_broadcast_rows: int,
    advice: str,
):
    """Driver-side anchor prep shared by the GEMM paths: ids,
    L2-normalized float64 matrix, and FACTORIZED label codes (the
    same-label mask is then a vectorized int64 comparison instead of an
    object-dtype Python-level one — measured 100x on a (chunk x anchors)
    mask; one shared code for all NULLs implements eqNullSafe exactly).
    ``pos_col=None`` (no label exclusion) returns ``q_code=None`` — the
    scorer skips the label mask entirely. Guarded by
    ``max_broadcast_rows`` — the anchor matrix broadcasts; ``advice``
    completes the error message."""
    import numpy as np
    import pandas as pd

    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if pos_col is not None:
        cols.append(F.col(pos_col).alias("_p"))
    q = _as_double(queries.select(*cols), "_v").toPandas()
    n_q = len(q)
    if n_q > max_broadcast_rows:
        raise ValueError(
            f"{n_q} anchors exceed the broadcast ceiling ({max_broadcast_rows}); {advice}"
        )
    if n_q == 0:
        raise ValueError("empty anchor frame")
    q_ids = q["_id"].to_numpy()
    q_mat = np.stack(q["_v"].to_numpy()).astype("float64")
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    codes: dict = {}
    if pos_col is None:
        return q_ids, q_mat, None, codes
    q_code = np.array(
        [
            codes.setdefault(v if not pd.isna(v) else None, len(codes))
            for v in q["_p"].to_numpy(dtype=object)
        ],
        dtype=np.int64,
    )
    return q_ids, q_mat, q_code, codes


def _gemm_partial_topk_scorer(b, k: int):
    """mapInPandas scorer shared by ``cosine_topk`` (full candidate scan)
    and ``hard_negatives_indexed`` (partition-pruned index scan):
    per Arrow batch, one numpy GEMM against the broadcast anchor matrix,
    -inf masking of self pairs and same-label pairs (null-safe via
    factorized codes); then a per-batch top-k per anchor (argpartition),
    so the global window reduces anchors x batches x k survivors instead
    of every scored pair.

    With a cell mask present, the batch is grouped by candidate cell and
    each group GEMMs ONLY against the anchors that probed that cell —
    compute is then ~n_probe/n_cells of the full users×catalog product,
    matching the scan fraction. (The index is partitioned by cell, so
    Arrow batches are single-cell and the grouping is free.) The first
    implementation computed the FULL dense product and -inf-masked the
    unprobed pairs afterwards: correct, and fine for localized mining
    batches, but for a diverse serving batch it made the "pruned" probe
    COST the whole GEMM — measured at sf100 (round 13): 15k users × 20M
    items at n_probe=4/64 took 979.5 s, SLOWER than MLlib's exact 522 s,
    where the grouped product does ~1/16 of that work. Masking a product
    you already computed saves nothing; don't compute it.

    Broadcast payload:
    ``(ids, mat, q_code, code_of, cell_mask, exclude_self)`` with
    ``cell_mask`` either None or a (n_cells x n_anchors) bool array
    (when set, batches must carry a ``_cell`` column), ``q_code`` None
    to skip the label mask entirely (pure ANN serving — batches then
    need no ``_p`` column), and ``exclude_self`` False for cross-modal
    probes (query and candidate ids in different spaces — ALS user
    factors probing the item-factor index — where an id collision is
    NOT a self pair).

    ANCHOR_TILE bounds the per-batch GEMM buffer (the strip-tiled pattern
    from embedding dedup): an Arrow batch of ~10k rows against ALL anchors
    at once allocates rows x anchors x 8B per worker — 640 MB/batch at 8k
    anchors x 32 workers thrashes; tiling holds it at ~80 MB regardless of
    anchor count."""
    import numpy as np
    import pandas as pd

    ANCHOR_TILE = 1024

    def score(batches):
        ids, mat, qc, code_of, cell_mask, exclude_self = b.value
        for chunk in batches:
            C = np.stack(chunk["_v"].to_numpy()).astype("float64")
            C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
            c_ids = chunk["_id"].to_numpy()
            # unseen chunk labels get -1: never equal to any anchor code
            c_code = None
            if qc is not None:
                c_code = np.array(
                    [
                        code_of.get(v if not pd.isna(v) else None, -1)
                        for v in chunk["_p"].to_numpy(dtype=object)
                    ],
                    dtype=np.int64,
                )
            c_cell = (
                chunk["_cell"].to_numpy(dtype=np.int64) if cell_mask is not None else None
            )
            # deterministic boundary tie-break: sims are rounded to 6dp, so
            # equal values at the kth boundary are realistic (duplicate /
            # replicated embeddings), and argpartition alone would keep an
            # arbitrary tied candidate — not the (desc sim, asc neighbor_id)
            # one the global window's contract ranks into the top-k. Perturb
            # the selection key by the batch-local id ordinal, scaled so the
            # total perturbation stays < 5e-7: distinct rounded sims differ
            # by >= 1e-6, so distinct sims never reorder, while ties resolve
            # to the smallest neighbor_id — consistent with the global
            # order, which makes per-batch top-k a superset of the global
            # top-k even on tie-heavy corpora. Output carries the ORIGINAL
            # rounded sims; only the truncation key is perturbed.
            id_rank = np.empty(len(c_ids), dtype=np.float64)
            id_rank[np.argsort(c_ids, kind="stable")] = np.arange(len(c_ids))
            tie_all = id_rank * (5e-7 / max(len(c_ids), 1))
            # group candidate rows by cell and score each group ONLY
            # against the anchors that probed it (cell-partitioned index
            # files make batches single-cell, so this loop runs once);
            # anchors that did not probe a group are never multiplied —
            # identical output to the old -inf masking (masked entries
            # were dropped by the isfinite keep), at n_probe/n_cells of
            # the compute
            if cell_mask is not None:
                groups = [
                    (np.flatnonzero(cell_mask[int(cell)]),
                     np.flatnonzero(c_cell == cell))
                    for cell in np.unique(c_cell)
                ]
            else:
                groups = [(np.arange(len(ids)), np.arange(len(c_ids)))]
            outs = []
            for sel, ridx in groups:
                if sel.size == 0 or ridx.size == 0:
                    continue
                Cg = C[ridx]
                g_ids = c_ids[ridx]
                g_code = c_code[ridx] if c_code is not None else None
                tie = tie_all[ridx][:, None]
                for s in range(0, sel.size, ANCHOR_TILE):
                    t_sel = sel[s : s + ANCHOR_TILE]
                    t_ids = ids[t_sel]
                    sims = np.round(Cg @ mat[t_sel].T, 6)  # (n_group, tile)
                    # exclusions -> -inf: same-label pairs (null-safe);
                    # self pairs
                    if g_code is not None:
                        sims[g_code[:, None] == qc[t_sel][None, :]] = -np.inf
                    if exclude_self:
                        sims[g_ids[:, None] == t_ids[None, :]] = -np.inf
                    kk = min(k, sims.shape[0])
                    top = np.argpartition(-(sims - tie), kk - 1, axis=0)[:kk]
                    qcol = np.broadcast_to(np.arange(sims.shape[1]), top.shape)
                    svals = sims[top, qcol]
                    keep = np.isfinite(svals)
                    outs.append(
                        pd.DataFrame(
                            {
                                "query_id": t_ids[qcol[keep]],
                                "neighbor_id": g_ids[top[keep]],
                                "sim": svals[keep],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs)

    return score


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via BucketedRandomProjectionLSH on
    L2-normalized vectors. Bucket join generates candidates; exact cosine
    re-ranks. Recall is tunable via bucket_length / num_hash_tables.

    The re-rank recomputes cosine on the ORIGINAL arrays with the native
    fold (the oracle's sequential summation) and the round-to-6 of
    ``cosine_topk`` — so whenever the bucket join achieves full candidate
    recall, the output is hash-identical to brute force, and the
    brute-force SQL oracle attaches to this operator
    (the `minhash_near_dup` trick, operators/dedup.py:101). Deriving sim
    from the LSH Euclidean distance (1 - d²/2 on unit vectors) is monotone-
    equivalent but differs in final-ulp rounding; never use it for output."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, label: str) -> DataFrame:
        v = _as_double(df.select(F.col(id_col).alias(label), F.col(vec_col).alias("_arr")), "_arr")
        v = v.withColumn("_n", F.greatest(_norm(F.col("_arr")), F.lit(1e-30)))
        v = v.withColumn("_vec", array_to_vector("_arr"))
        return Normalizer(inputCol="_vec", outputCol="_nvec", p=2.0).transform(v)

    qp, cp = prep(queries, "query_id"), prep(candidates, "neighbor_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_nvec", outputCol="_hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(cp)
    # Threshold 2.0 = the unit-sphere diameter: the bucket join alone decides
    # the candidate set; the distance filter never rejects.
    pairs = model.approxSimilarityJoin(qp, cp, 2.0, distCol="_dist").filter(
        F.col("datasetA.query_id") != F.col("datasetB.neighbor_id")
    )
    scored = pairs.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("datasetA._arr"), F.col("datasetB._arr"))
            / (F.col("datasetA._n") * F.col("datasetB._n")),
            6,
        ).alias("sim"),
    )
    return _rank_topk(scored, k)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 1,
    max_iter: int = 20,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer → assign candidates to cells →
    probe the n_probe nearest cells per query → exact cosine re-rank inside.

    At 100 TB the candidate table is written partitioned by cell id, so a
    probe touches only n_probe/n_cells of the data (partition pruning) —
    and the quantizer is FIT ONCE at index-build time, not per query
    batch. When this function is called end-to-end (fit + probe in one
    plan), ``max_iter`` bounds the index-build constant: coarse cells
    only need to be balanced, not converged, so a handful of Lloyd
    iterations is the production setting."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    cand = _as_double(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")), "_cv"
    ).withColumn("_vec", array_to_vector("_cv"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="_vec", predictionCol="_cell", maxIter=max_iter)
    model = km.fit(cand)
    cand_cells = model.transform(cand).select("neighbor_id", "_cv", "_cell")

    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    centers_df = queries.sparkSession.createDataFrame(centers, "cell int, center array<double>")

    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")), "_qv"
    )
    # rank cells per query by centroid cosine, keep n_probe
    qc = q.crossJoin(F.broadcast(centers_df)).withColumn(
        "_csim", cosine(F.col("_qv"), F.col("center"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cell"))
    probed = qc.withColumn("_r", F.row_number().over(wq)).filter(F.col("_r") <= n_probe).select(
        "query_id", "_qv", F.col("cell").alias("_cell")
    )
    pairs = probed.join(cand_cells, "_cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    return _rank_topk(scored, k)


def _euclid(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x)
    )


def ivf_topk_exact(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 1,
    sim_slack: float = 1e-6,
    pos_col: str | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """EXACT top-k with IVF pruning — k-means cells plus a triangle-
    inequality radius bound, so the output provably equals brute force
    while still skipping cells that cannot matter.

    Geometry is done on L2-normalized copies (Euclidean order on the unit
    sphere == cosine order). Two phases:

    1. Probe the ``n_probe`` nearest cells per query (by centroid
       distance); exact-score those candidates; take the provisional
       k-th best cosine ``s_k``.
    2. For every unprobed cell, the best possible member similarity is
       bounded by ``1 - max(0, d(q,centroid) - radius)² / 2`` where
       ``radius = max_member ||x - centroid||`` (triangle inequality).
       Probe exactly the cells whose bound reaches ``s_k - sim_slack``;
       everything else provably cannot displace the provisional top-k,
       even after the output's round-to-6 (values > 1e-6 apart never
       round equal, so tie-breaks cannot be disturbed).

    With clustered data phase 2 probes few extra cells and the plan reads
    ~``n_probe/n_cells`` of the candidates; with adversarial (uniform
    random) data it degrades gracefully toward a full scan — but never
    toward a wrong answer. This is the FAISS-style exact-search bound
    re-expressed as two joins; at 100 TB the cell assignment is a
    partition key (see ``write_ivf_index``) so skipped cells are skipped
    *file reads*, not just skipped comparisons.

    Output schema/tie-breaks/rounding are identical to ``cosine_topk``,
    which is what lets the brute-force SQL oracle attach.

    With ``pos_col`` set, pairs whose labels match (null-safe equality,
    both engines' IS DISTINCT FROM) are excluded from BOTH phases — this
    is exact hard-negative mining with cell pruning (the scale path of
    ``cosine_topk(pos_col=...)``). The radius bound stays sound under the
    extra filter: ``bound_sim`` upper-bounds the similarity of ANY cell member, hence of
    any different-label member, so a pruned cell still provably cannot
    displace the provisional different-label top-k.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    cand_cols = [F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")]
    if pos_col is not None:
        cand_cols.append(F.col(pos_col).alias("_cp"))
    cand = (
        _as_double(candidates.select(*cand_cols), "_cv")
        .withColumn("_cn", F.greatest(_norm(F.col("_cv")), F.lit(1e-30)))
        .withColumn("_cnv", F.transform(F.col("_cv"), lambda x: x / F.col("_cn")))
        .withColumn("_vec", array_to_vector("_cnv"))
    )
    km = KMeans(
        k=n_cells, seed=seed, featuresCol="_vec", predictionCol="_cell", maxIter=max_iter
    )
    model = km.fit(cand)
    cand_keep = ["neighbor_id", "_cv", "_cn", "_cnv", "_cell"] + (
        ["_cp"] if pos_col is not None else []
    )
    cand_cells = model.transform(cand).select(*cand_keep)

    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    centers_df = queries.sparkSession.createDataFrame(centers, "_cell int, _center array<double>")

    radii = (
        cand_cells.join(F.broadcast(centers_df), "_cell")
        .groupBy("_cell")
        .agg(F.max(_euclid(F.col("_cnv"), F.col("_center"))).alias("_radius"))
    )

    q_cols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")]
    if pos_col is not None:
        q_cols.append(F.col(pos_col).alias("_qp"))
    q = (
        _as_double(queries.select(*q_cols), "_qv")
        .withColumn("_qn", F.greatest(_norm(F.col("_qv")), F.lit(1e-30)))
        .withColumn("_qnv", F.transform(F.col("_qv"), lambda x: x / F.col("_qn")))
    )
    qc = (
        q.crossJoin(F.broadcast(centers_df))
        .withColumn("_dc", _euclid(F.col("_qnv"), F.col("_center")))
        .join(F.broadcast(radii), "_cell")
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("_dc"), F.asc("_cell"))
    q_keep = ["query_id", "_qv", "_qn", "_qnv", "_cell", "_dc", "_radius", "_rcell"] + (
        ["_qp"] if pos_col is not None else []
    )
    qc = qc.withColumn("_rcell", F.row_number().over(wq)).select(*q_keep)

    raw_sim = _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    pair_ok = F.col("query_id") != F.col("neighbor_id")
    if pos_col is not None:
        pair_ok = pair_ok & ~F.col("_qp").eqNullSafe(F.col("_cp"))

    probed1 = qc.filter(F.col("_rcell") <= n_probe)
    pairs1 = (
        probed1.join(cand_cells, "_cell")
        .filter(pair_ok)
        .select("query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .withColumn("_s", raw_sim)
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc("neighbor_id"))
    kth = (
        pairs1.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .groupBy("query_id")
        .agg(F.min("_s").alias("_sk"), F.count("*").alias("_nc"))
        .withColumn("_sk", F.when(F.col("_nc") < k, F.lit(float("-inf"))).otherwise(F.col("_sk")))
        .select("query_id", "_sk")
    )

    bound_sim = 1.0 - F.pow(F.greatest(F.col("_dc") - F.col("_radius"), F.lit(0.0)), 2) / 2.0
    # LEFT join + -inf default: a query whose probed cells held NO other
    # candidate has no kth row, and an inner join would silently skip its
    # phase-2 probes — returning zero rows instead of the true top-k
    extra_cells = (
        qc.join(F.broadcast(kth), "query_id", "left")
        .withColumn("_sk", F.coalesce(F.col("_sk"), F.lit(float("-inf"))))
        .filter((F.col("_rcell") > n_probe) & (bound_sim >= F.col("_sk") - sim_slack))
    )
    pairs2 = (
        extra_cells.join(cand_cells, "_cell")
        .filter(pair_ok)
        .select("query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .withColumn("_s", raw_sim)
    )

    scored = pairs1.unionByName(pairs2).withColumn("sim", F.round(F.col("_s"), 6))
    return _rank_topk(scored, k)


def _block_pair_scorer(threshold: float):
    """Cogroup scorer shared by the block-matrix near-dup paths: one BLAS
    matmul per (block_i, block_j) cell/chunk pair, emitting (id_a, id_b,
    sim) with id_a < id_b and sim >= threshold. Left frame columns
    (ci, cj, _id, _v); right frame (_rci, _rcj, _rid, _rv)."""
    import numpy as np
    import pandas as pd

    def score(key: tuple, lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        ci, cj = key
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "sim": pd.Series(dtype="float64")})
        a = np.stack(lpdf["_v"].to_numpy()).astype("float64")
        b = np.stack(rpdf["_rv"].to_numpy()).astype("float64")
        a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-30)
        b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-30)
        aid = lpdf["_id"].to_numpy()
        bid = rpdf["_rid"].to_numpy()
        # tile the matmul in left-row strips so the similarity buffer stays
        # bounded (~16M f64 cells ≈ 128 MB) no matter how fat a hash block
        # gets — an untiled 50k×50k block is a 20 GB buffer that OOM-kills
        # the Python worker (seen at the sf10 census, SCALING.md round 8);
        # strip-wise BLAS GEMM has the same throughput
        strip = max(1, 16_000_000 // max(len(bid), 1))
        ia_parts, ib_parts, s_parts = [], [], []
        for s0 in range(0, len(aid), strip):
            sims = np.round(a[s0 : s0 + strip] @ b.T, 6)
            ii, jj = np.where(sims >= threshold)
            ia_parts.append(aid[s0 + ii])
            ib_parts.append(bid[jj])
            s_parts.append(sims[ii, jj])
        ia = np.concatenate(ia_parts)
        ib = np.concatenate(ib_parts)
        s = np.concatenate(s_parts)
        if ci == cj:
            # same block on both sides: keep each unordered pair once
            mask = ia < ib
            ia, ib, s = ia[mask], ib[mask], s[mask]
        else:
            # disjoint blocks: normalize order (self-pairs impossible)
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "sim": s})

    return score


def embedding_near_dup_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_chunks: int = 8,
) -> DataFrame:
    """EXACT cosine-threshold near-dup pairs, fully distributed — the
    scale-safe default (no driver collect, no broadcast ceiling).

    Block-matrix decomposition: vectors are hashed into ``n_chunks`` chunks;
    every chunk pair (ci ≤ cj) becomes one cogroup task that computes the
    chunk×chunk similarity block with one BLAS matmul (Arrow-batched
    ``applyInPandas``) and emits pairs above threshold. Work is
    O(n²d / C²) per task over C(C+1)/2 tasks; communication is O(n·C)
    vector replications — at 100 TB pick C ≈ sqrt(cluster cores) so blocks
    fit executor memory, or pre-filter candidates with lsh_topk/ivf_topk.

    Returns (id_a, id_b, sim) with id_a < id_b, sim >= threshold."""
    base = _as_double(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), "_v"
    )
    chunked = base.withColumn(
        "_c", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_chunks)).cast("int")
    )
    spark = df.sparkSession
    chunk_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_chunks) for j in range(i, n_chunks)], "ci int, cj int"
    )
    # distinct column names per side: both frames share the `chunked`
    # lineage, and cogroup's analyzer cannot disambiguate same-named
    # attributes across a self-referencing pair
    left = chunked.join(F.broadcast(chunk_pairs), chunked["_c"] == chunk_pairs["ci"]).select(
        "ci", "cj", "_id", "_v"
    )
    right = chunked.join(F.broadcast(chunk_pairs), chunked["_c"] == chunk_pairs["cj"]).select(
        F.col("ci").alias("_rci"),
        F.col("cj").alias("_rcj"),
        F.col("_id").alias("_rid"),
        F.col("_v").alias("_rv"),
    )

    return (
        left.groupby("ci", "cj")
        .cogroup(right.groupby("_rci", "_rcj"))
        .applyInPandas(_block_pair_scorer(threshold), "id_a long, id_b long, sim double")
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine-threshold near-duplicate pairs (id_a < id_b, sim >= threshold),
    as a pure-native pair join with precomputed norms.

    Exact within blocks; at scale use ``embedding_near_dup_blocked`` or
    ``semantic_dedup_pairs``, or generate candidates with
    lsh_topk/ivf_topk first and verify here."""
    base = _as_double(
        df.select(
            F.col(id_col).alias("_id"),
            *( [F.col(block_col).alias("_blk")] if block_col else [] ),
            F.col(vec_col).alias("_v"),
        ),
        "_v",
    )
    base = base.withColumn("_n", _norm(F.col("_v")))
    a = base.select(F.col("_id").alias("id_a"), *( [F.col("_blk").alias("_ba")] if block_col else [] ), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = base.select(F.col("_id").alias("id_b"), *( [F.col("_blk").alias("_bb")] if block_col else [] ), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("_ba") == F.col("_bb"))
    return (
        a.join(b, cond)
        .withColumn("sim", F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def write_ivf_index(
    candidates: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 1,
    extra_cols: "tuple[str, ...]" = (),
    max_iter: int = 20,
) -> list[list[float]]:
    """Materialize the IVF index: assign each candidate to its nearest
    KMeans cell and write parquet PARTITIONED BY cell — the physical layout
    that turns a probe into a partition-pruned scan (read n_probe/n_cells
    of the data; at 100 TB that is the difference between touching 100 TB
    and ~6 TB). Returns the coarse centroids (n_cells × dim — driver-small
    by construction) for :func:`ivf_probe` / :func:`hard_negatives_indexed`.

    The centroids are ALSO persisted inside the index as an
    underscore-prefixed sidecar (``{path}/_centers`` — parquet readers
    skip underscore paths, so the data scan never sees it): the index is
    self-contained, and a probe-side process needs only the path. This is
    the fit-ONCE half of the IVF contract — every probe/mining call
    against the same path amortizes this one KMeans fit, instead of
    re-clustering the catalog per call (measured at sf100: the in-one-plan
    ANN mining call was 1068 s, index-build dominated).

    ``extra_cols`` are carried into the index rows verbatim — pass the
    label/split columns a downstream miner filters on, so mining probes
    never join back to the catalog.

    FRESHNESS CONTRACT: the corpus fingerprint (row count + an
    order-insensitive xxhash64 xor over id/vector/extra columns) is
    persisted as a second underscore sidecar (``{path}/_fingerprint``).
    A production probe has no oracle to catch a regenerated-in-place
    corpus silently served by a stale index — ``validate_ivf_index``
    recomputes the fingerprint against the live corpus and callers
    (``queries_round11._ensure_index``) rebuild on mismatch. The sidecar
    ALSO records the BUILD parameters (n_cells, seed, extra_cols): a
    config change with an unchanged corpus is just as stale — an index
    built at the old geometry would otherwise keep serving probes while
    recall rows report the new n_cells constant (ADVICE r12). A
    pre-r13 sidecar without the parameter columns reports stale — the
    rebuild direction is always safe."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cand = _as_double(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            *[F.col(c) for c in extra_cols],
        ),
        "_cv",
    )
    n_rows, fp = _corpus_fingerprint(cand, "neighbor_id", "_cv", extra_cols)
    cand = cand.withColumn("_vec", array_to_vector("_cv"))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_vec", predictionCol="cell", maxIter=max_iter
    ).fit(cand)
    (
        model.transform(cand)
        .select("neighbor_id", F.col("_cv").alias("embedding"), *extra_cols, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    spark = candidates.sparkSession
    (
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_centers")
    )
    (
        spark.createDataFrame(
            [(n_rows, fp, int(n_cells), int(seed), list(extra_cols))],
            "n_rows long, fp long, n_cells int, seed long, extra_cols array<string>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_fingerprint")
    )
    _VALIDATE_MEMO.clear()  # a rebuild invalidates any memoized verdicts for the path
    return centers


def _corpus_fingerprint(
    cand: DataFrame, id_col: str, vec_col: str, extra_cols: "tuple[str, ...]" = ()
) -> "tuple[int, int]":
    """(row count, order-insensitive content hash) of an index corpus —
    one aggregate scan, no shuffle beyond the final combine. The hash is
    ``bit_xor(xxhash64(id, vector, extras))``: insertion order and
    partitioning cannot change it, any row edit does. (xor cancels an
    exact-duplicate row PAIR — the row count catches the common case and
    the residual collision odds are fingerprint-appropriate.) Column names
    are backtick-quoted, not spliced into SQL text — a caller-supplied
    extra column named ``a.b`` or ``top k`` must resolve as the literal
    field, never parse as a nested path or break the expression
    (ADVICE r12)."""
    cols = [_quoted(c) for c in (id_col, vec_col, *extra_cols)]
    row = cand.agg(
        F.count(F.lit(1)).alias("_n"),
        F.bit_xor(F.xxhash64(*cols)).alias("_fp"),
    ).first()
    return int(row["_n"]), int(row["_fp"] or 0)


def _quoted(name: str) -> Column:
    """Column by its LITERAL name: backtick-quoted so dots never parse as
    nested-field paths and embedded backticks stay escaped."""
    return F.col("`" + name.replace("`", "``") + "`")


_VALIDATE_MEMO: "dict[tuple, bool]" = {}


def validate_ivf_index(
    spark,
    path: str,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: "tuple[str, ...]" = (),
    n_cells: "int | None" = None,
    seed: "int | None" = None,
    memo_token: "object | None" = None,
) -> bool:
    """True iff the index at ``path`` was built from EXACTLY this corpus
    WITH this configuration: recomputes the corpus fingerprint and
    compares it — plus the recorded build parameters — to the
    ``_fingerprint`` sidecar ``write_ivf_index`` persisted. An index
    without the sidecar, or with a pre-r13 sidecar lacking the parameter
    columns, reports stale — rebuild is the safe direction.

    Parameter check (ADVICE r12): pass the ``n_cells`` / ``seed`` /
    ``extra_cols`` the caller is ABOUT to build with; a corpus-identical
    index built at a different geometry (or without a label column a
    probe needs) is stale — without this, a config bump would keep
    serving the old layout while recall rows report the new constant.
    ``None`` skips that parameter's comparison (corpus-only check).

    Cost: one aggregate over the corpus per validation. ``memo_token``
    (VERDICT r12 #7) amortizes repeated probes in one session: pass any
    hashable token that changes whenever the corpus COULD have changed —
    e.g. an (mtime, size) stat summary of the corpus files — and the
    (path, token, params) verdict is memoized process-wide, so the
    corpus aggregate runs once per session instead of once per query
    run. ``write_ivf_index`` clears the memo on every rebuild. A
    deployment that cannot afford even the first aggregate should key
    freshness on its ingest pipeline's own versioning instead."""
    key = None
    if memo_token is not None:
        key = (path, memo_token, n_cells, seed, tuple(extra_cols))
        if key in _VALIDATE_MEMO:
            return _VALIDATE_MEMO[key]
    ok = _validate_ivf_index_uncached(
        spark, path, candidates, id_col, vec_col, extra_cols, n_cells, seed
    )
    if key is not None:
        _VALIDATE_MEMO[key] = ok
    return ok


def _validate_ivf_index_uncached(
    spark, path, candidates, id_col, vec_col, extra_cols, n_cells, seed
) -> bool:
    try:
        meta_df = spark.read.parquet(f"{path}/_fingerprint")
        meta = meta_df.first()
    except Exception:
        return False
    if meta is None:
        return False
    # pre-r13 sidecar: no parameter columns -> cannot prove the config
    # matches -> stale (the rebuild rewrites the sidecar in full form)
    for col in ("n_cells", "seed", "extra_cols"):
        if col not in meta_df.columns:
            return False
    if n_cells is not None and int(meta["n_cells"]) != int(n_cells):
        return False
    if seed is not None and int(meta["seed"]) != int(seed):
        return False
    if tuple(meta["extra_cols"] or ()) != tuple(extra_cols):
        return False
    cand = _as_double(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            *[F.col(c) for c in extra_cols],
        ),
        "_cv",
    )
    n_rows, fp = _corpus_fingerprint(cand, "neighbor_id", "_cv", extra_cols)
    return int(meta["n_rows"]) == n_rows and int(meta["fp"]) == fp


def read_ivf_centers(spark, path: str) -> list[list[float]]:
    """Load the coarse centroids persisted by :func:`write_ivf_index` —
    cell-ordered, driver-small (n_cells × dim) by construction."""
    rows = spark.read.parquet(f"{path}/_centers").orderBy("cell").collect()
    return [list(r["center"]) for r in rows]


def hard_negatives_indexed(
    spark,
    path: str,
    queries: DataFrame,
    centers: "list[list[float]] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_col: "str | None" = "label",
    k: int = 10,
    n_probe: int = 4,
    max_broadcast_rows: int = 2_000_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Hard-negative mining against a PREBUILT IVF index — the deployment
    shape the sf100 numbers demand (round-10 measurement: in-one-plan ANN
    mining was 1068 s, 97% of it the per-call KMeans fit; the GEMM scan of
    the same catalog was 29.2 s — so mining must amortize ONE index build
    across every probe batch). The index is written once with the label
    column carried (``write_ivf_index(extra_cols=(pos_col,))``); each
    mining call is then a pure probe.

    Plan shape — the ``cosine_topk`` GEMM scorer fused with
    partition pruning (the first, expression-fold implementation of this
    probe measured 510.6 s for 1000 anchors at the sf100 catalog: a
    64-key cell join shuffled the scan and the top-k window sorted every
    scored pair — both costs this shape deletes):

    1. anchors collect to the driver (the ``max_broadcast_rows`` guard of
       ``cosine_topk``) and cell ranking runs as ONE numpy matmul against the
       sidecar centroids — no crossJoin, no ranking window;
    2. the index scan carries a literal ``IN`` over the UNION of probed
       cells — a PartitionFilter, so unprobed cells are unlistened file
       reads;
    3. each Arrow batch GEMMs against the broadcast anchor matrix with a
       (cell × anchor) bool mask zeroing pairs the anchor did not probe,
       plus the null-safe same-label and self masks, then keeps its
       per-batch top-k per anchor — the global window reduces
       anchors × batches × k survivors, never all scored pairs.

    No over-fetch parameter: the label filter runs BEFORE ranking, so
    ``k`` means ``k`` and recall loss comes only from unprobed cells —
    raise ``n_probe`` to trade scan fraction for recall; at
    ``n_probe = n_cells`` the output provably equals ``cosine_topk``
    brute force (the ``hard_negative_mining_indexed_full`` oracle entry
    hash-checks exactly that through this plan). Recall of the pruned
    deployment is measured by ``hard_negative_mining_indexed``.
    Anchor batches beyond the broadcast ceiling: shard the anchors — each
    shard re-probes only its own cells, so sharding composes with the
    pruning (unlike ``cosine_topk``, where every shard pays a whole
    catalog scan).

    ``pos_col=None`` + ``exclude_self=False`` is the pure ANN-serving
    mode: no label mask, no self mask — the configuration the
    MIPS-reduced ALS recommend path (``models.recommend_topk_ann``) and
    its ``als_recommend_ann`` recall report probe with, where query ids
    (users) and index ids (items) live in different id spaces and an id
    collision is not a self pair."""
    import numpy as np

    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    if centers is None:
        centers = read_ivf_centers(spark, path)
    q_ids, q_mat, q_code, codes = _collect_anchor_matrix(
        queries, id_col, vec_col, pos_col, max_broadcast_rows,
        "shard the anchors and run hard_negatives_indexed per shard (each "
        "shard probes only its own cells)",
    )
    cmat = np.array(centers, dtype="float64")
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30)
    csims = q_mat @ cmat.T  # (n_anchors, n_cells)
    # stable argsort on -sims: exact centroid ties break to the lower cell
    # id, matching ivf_topk's (desc sim, asc cell) ranking
    order = np.argsort(-csims, axis=1, kind="stable")[:, : min(n_probe, len(centers))]
    cell_mask = np.zeros((len(centers), len(q_ids)), dtype=bool)
    cell_mask[
        order.ravel(), np.repeat(np.arange(len(q_ids)), order.shape[1])
    ] = True
    cells = sorted(set(int(c) for c in order.ravel()))

    scan = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    if pos_col is not None and pos_col not in scan.columns:
        raise ValueError(
            f"index at {path} does not carry {pos_col!r}; rebuild with "
            f"write_ivf_index(extra_cols=({pos_col!r},))"
        )
    scan_cols = [
        F.col("neighbor_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.col("cell").alias("_cell"),
    ]
    if pos_col is not None:
        scan_cols.append(F.col(pos_col).alias("_p"))
    scan = _as_double(scan.select(*scan_cols), "_v")
    score = _gemm_partial_topk_scorer(
        spark.sparkContext.broadcast(
            (q_ids, q_mat, q_code, codes, cell_mask, exclude_self)
        ),
        k,
    )
    partial = scan.mapInPandas(score, "query_id long, neighbor_id long, sim double")
    return _rank_topk(partial, k)


def ivf_recall_curve(
    spark,
    path: str,
    anchors: DataFrame,
    centers: "list[list[float]] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_col: str = "label",
    k: int = 10,
    max_broadcast_rows: int = 2_000_000,
) -> list[dict]:
    """The recall-vs-n_probe curve of indexed mining on a held-out anchor
    sample — from ONE exact probe run, not n_cells of them. Key fact: at
    any ``n_probe`` the probe returns every true top-k negative whose
    cell is probed (the label filter runs inside the scoring and exact
    cosine ranks probed candidates), so recall@p is EXACTLY the fraction
    of true top-k pairs whose neighbor cell ranks within the anchor's
    top-p cells. The curve therefore needs only (a) the exact answer
    (``n_probe = n_cells``, one run), (b) each true neighbor's cell (a
    join against the index itself — no corpus access), and (c) the
    per-anchor centroid ranking (one driver-side matmul, same float64
    semantics as ``hard_negatives_indexed``'s probe).

    Returns ``[{"n_probe": p, "recall": r}, ...]`` for p = 1..n_cells —
    recall is measured on the sample, monotone, and reaches 1.0 at
    ``n_cells`` by construction."""
    import numpy as np

    if centers is None:
        centers = read_ivf_centers(spark, path)
    n_cells = len(centers)
    exact = hard_negatives_indexed(
        spark, path, anchors, centers=centers, id_col=id_col, vec_col=vec_col,
        pos_col=pos_col, k=k, n_probe=n_cells,
        max_broadcast_rows=max_broadcast_rows,
    )
    cell_of = spark.read.parquet(path).select("neighbor_id", "cell")
    # bounded collect: ≤ |anchors|·k pairs, anchors already behind the guard
    pairs = (
        exact.join(cell_of, "neighbor_id")
        .select("query_id", "cell")
        .collect()
    )
    if not pairs:
        raise ValueError("recall curve needs a non-empty anchor sample with negatives")

    q_ids, q_mat, _, _ = _collect_anchor_matrix(
        anchors, id_col, vec_col, pos_col, max_broadcast_rows,
        "sample fewer held-out anchors for ivf_recall_curve",
    )
    cmat = np.array(centers, dtype="float64")
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30)
    order = np.argsort(-(q_mat @ cmat.T), axis=1, kind="stable")  # (n_anchors, n_cells)
    rank_of = np.empty_like(order)
    rows_idx = np.arange(order.shape[0])[:, None]
    rank_of[rows_idx, order] = np.arange(n_cells)[None, :]
    pos_of_anchor = {qid: i for i, qid in enumerate(q_ids.tolist())}
    needed = np.array(
        [rank_of[pos_of_anchor[r["query_id"]], r["cell"]] + 1 for r in pairs]
    )
    # recall_raw is the UNROUNDED sample recall — selection thresholds
    # must compare against it (a true 0.89996 rounds to the displayed
    # 0.9 and would otherwise satisfy a 0.9 target; ADVICE r12).
    return [
        {
            "n_probe": p,
            "recall": round(float((needed <= p).mean()), 4),
            "recall_raw": float((needed <= p).mean()),
        }
        for p in range(1, n_cells + 1)
    ]


def select_n_probe(
    spark,
    path: str,
    anchors: DataFrame,
    target_recall: float = 0.9,
    centers: "list[list[float]] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_col: str = "label",
    k: int = 10,
    coarse_fraction: float = 0.5,
    max_broadcast_rows: int = 2_000_000,
) -> dict:
    """Pick the smallest ``n_probe`` whose sampled recall meets
    ``target_recall`` — the tuning dial VERDICT r11 #2 asked for: the raw
    recall report (0.56@2/8, 0.78@4/8 at sf0.01) is honest but leaves the
    operator choice to guesswork. Runs ``ivf_recall_curve`` on the
    held-out anchors and returns the chosen operating point plus the full
    curve. ``coarse`` flags an index whose required probe fraction
    exceeds ``coarse_fraction`` of all cells: at that point the "pruned"
    probe reads most of the index anyway — rebuild with more cells
    (finer partitioning) instead of probing wider. The selection always
    exists: recall@n_cells = 1.0 by construction."""
    if centers is None:
        centers = read_ivf_centers(spark, path)
    curve = ivf_recall_curve(
        spark, path, anchors, centers=centers, id_col=id_col, vec_col=vec_col,
        pos_col=pos_col, k=k, max_broadcast_rows=max_broadcast_rows,
    )
    # threshold against the UNROUNDED sample recall (ADVICE r12): the
    # 4dp "recall" field is display-only — selecting on it would accept
    # a point whose true recall is up to 5e-5 below the target
    chosen = next(pt for pt in curve if pt["recall_raw"] >= target_recall)
    n_cells = len(centers)
    return {
        "n_probe": chosen["n_probe"],
        "recall": chosen["recall"],
        "n_cells": n_cells,
        "target": target_recall,
        "coarse": chosen["n_probe"] > coarse_fraction * n_cells,
        "curve": curve,
    }


def ivf_probe(
    spark,
    path: str,
    centers: list[list[float]],
    query_vec: list[float],
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Probe a partitioned IVF index for one query vector: rank cells by
    centroid cosine ON THE DRIVER (centers are tiny), then scan ONLY the
    ``n_probe`` matching partitions — the ``cell IN (...)`` literal filter
    becomes a PartitionFilter, so unprobed partitions are never listed,
    opened, or read (assert via plans.explain / test_plans). Exact cosine
    re-rank inside the probed cells."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(range(len(centers)), key=lambda i: (-cos(query_vec, centers[i]), i))
    probe_cells = ranked[:n_probe]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    scored = scan.withColumn("sim", F.round(cosine(q, F.col("embedding")), 6))
    return (
        scored.orderBy(F.desc("sim"), F.asc("neighbor_id"))
        .limit(k)
        .select("neighbor_id", "sim", "cell")
    )


def mips_max_norm(df: DataFrame, vec_col: str = "embedding") -> float:
    """Max L2 norm over a vector column — the single catalog constant the
    MIPS→cosine reduction needs. One map-side-combined aggregate."""
    base = _as_double(df.select(F.col(vec_col).alias("_v")), "_v")
    row = base.agg(F.max(_norm(F.col("_v"))).alias("_m")).first()
    return float(row["_m"] or 0.0)


def mips_augment_items(
    df: DataFrame,
    max_norm: float,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Item-side MIPS→cosine reduction (Bachrach et al., RecSys 2014 —
    public literature): append ``sqrt(M² − ‖x‖²)`` to each item vector,
    where M = :func:`mips_max_norm` of the catalog. Every augmented item
    then has EXACTLY norm M, so for a fixed query the cosine ordering of
    augmented vectors equals the inner-product (dot) ordering of the
    originals — the transform that lets the cosine IVF index serve
    maximum-inner-product workloads (ALS recommend: score = u·i, NOT
    cosine) without any index-side changes.

    Pure projection (one array concat per row), no shuffle. ``max_norm``
    is caller-supplied so one aggregate serves both the index build and
    any later query batches; the clamp guards float dust when
    ‖x‖ ≈ M."""
    out = out_col or vec_col
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pad = F.sqrt(
        F.greatest(
            F.lit(float(max_norm) ** 2) - _dot(dv, dv), F.lit(0.0)
        )
    )
    return df.withColumn(out, F.concat(dv, F.array(pad)))


def mips_augment_queries(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """Query-side half of the MIPS→cosine reduction: append a literal 0
    — the appended coordinate contributes nothing to the dot product, so
    ``cos(q', i') = (q·i) / (‖q‖·M)`` and the per-query ranking is the
    inner-product ranking. Pure projection."""
    out = out_col or vec_col
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out, F.concat(dv, F.array(F.lit(0.0))))


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "scale",
    out_col: str = "q",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|,
    q_i = round(x_i * scale) ∈ [-127, 127].

    4× smaller vectors and int-SIMD dot products downstream — the standard
    storage/ANN-recall trade at 100 TB embedding scale. Pure projection
    (transform + aggregate over the array), no shuffle, no UDF. Floats are
    cast to double FIRST so both the max|x| reduction and the per-element
    multiply are the same IEEE-754 ops an oracle engine performs on the
    double-cast list."""
    from .text import _bind

    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-30))
    # scale is lambda-bound (text._bind): referencing it directly inside the
    # per-element transform would re-run the max|x| reduction PER ELEMENT
    q = _bind(scale, lambda s: F.transform(dv, lambda x: F.round(x * s).cast("int")))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 8,
    seed: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs, EXACT by construction:
    coarse cells over unit-normalized vectors + a triangle-inequality bound
    that prunes cell pairs which provably cannot contain a qualifying pair,
    then one BLAS matmul per surviving cell-pair block.

    On unit vectors cos(a,b) >= t  <=>  ||a-b|| <= sqrt(2-2t), so a pair
    spanning cells (i, j) can exist only if

        d(c_i, c_j) <= r_i + r_j + sqrt(2-2t)

    (r = max member distance to its centroid). Cell pairs failing the bound
    are dropped BEFORE any pair work; each survivor becomes one cogroup
    task computing its block with a single numpy matmul (the same
    Arrow-batched scorer as ``embedding_near_dup_blocked``). Output EQUALS
    all-pairs brute force — the exact SQL oracle attaches with no
    tuning-to-recall — and with tight clusters and a high threshold the
    work drops from O(k²) blocks toward the O(k) diagonal.

    Cell quality affects ONLY how much the bound prunes, NEVER correctness
    — so the quantizer is deliberately a zero-iteration one: the k members
    with the smallest md5(seed‖id) serve as centers (a deterministic
    random sample, independent of partitioning — unlike MLlib KMeans
    init), and assignment is one vectorized argmax-dot pass (nearest
    center in L2 == max dot on unit vectors). Swapping in converged
    KMeans centroids only tightens radii; an MLlib fit costs ~3 s of
    fixed iteration overhead per call and bought nothing at bench scale.
    The center set is k×d driver-side (same footprint as MLlib's
    clusterCenters()); the cell-pair table is ≤ k² rows, broadcast;
    members shuffle once per side of the block cogroup, keyed by cell —
    never all-pairs.

    Same task as the reference's content dedup would need at corpus scale
    (`datacleaning.py` drops exact-duplicate rows; this is the embedding-
    space generalization). Exactness margin: the block scorer (and the SQL
    oracle) accept pairs whose 6-dp ROUNDED cosine reaches the threshold, so
    a true cosine as low as threshold − 5e-7 still qualifies — the pruning
    radius is therefore derived from (threshold − 5e-7), plus a 1e-9
    float64 slack so a last-ulp underestimate cannot drop a boundary pair
    (ADVICE r5).
    """
    import math

    import numpy as np
    import pandas as pd

    eps_d = math.sqrt(max(0.0, 2.0 - 2.0 * (threshold - 5e-7))) + 1e-9

    base = _as_double(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), "_v"
    ).withColumn("_n", F.greatest(_norm(F.col("_v")), F.lit(1e-30)))
    # zero vectors normalize to the origin (norm floored, not divided by 0);
    # they land in some cell and can never reach any cosine threshold
    unit = base.withColumn(
        "_u", F.transform(F.col("_v"), lambda x: x / F.col("_n"))
    )

    seeds = (
        unit.withColumn(
            "_h", F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col("_id").cast("string")))
        )
        .orderBy("_h", "_id")
        .limit(n_cells)  # TakeOrdered: k rows to the driver, like clusterCenters()
        .select("_u")
        .collect()
    )
    centers_np = np.array([r["_u"] for r in seeds], dtype="float64")  # k x d, driver-tiny

    # Assignment AND radius distance in ONE Arrow-batched pass (round 14,
    # VERDICT r13 #3 — job fusion): the same matmul that argmaxes the cell
    # also yields each member's distance to that center, so the radii need
    # no second distance computation — no k×d centers join (r13 shape), no
    # k×d array literal either (measured round 14: F.lit of a 32×16 nested
    # list costs ~0.28 s of py4j driver time PER CALL, and the element_at
    # fold is interpreted per row). Vectorized numpy per batch, centers in
    # the closure (k×d driver-tiny, like clusterCenters()).
    def _assign_fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf["_u"].to_numpy()).astype("float64")
            cells = np.argmax(mat @ centers_np.T, axis=1)
            diff = mat - centers_np[cells]
            pdf = pdf.drop(columns=["_u"])
            pdf["_cell"] = cells.astype("int32")
            pdf["_dist"] = np.sqrt((diff * diff).sum(axis=1))
            yield pdf

    # members feeds three consumers (radii, left block side, right block
    # side); materialize once so the normalize+assign pass runs once.
    # SERIALIZED level (operators/checkpointing.py): the frame is the full
    # embedding catalog carrying the raw vector per row — exactly the
    # data-scale shape whose spilled deserialized blocks re-promote into
    # the heap at the first tier that spills (the sf100 negative-sample
    # OOM class); lazy, so the size-tiered auto policy cannot measure it
    # and the safe level is pinned. (_u is consumed inside the assign pass
    # and dropped — the checkpoint stores one vector copy, not two.)
    members = local_ckpt_ser(
        unit.select("_id", "_v", "_u").mapInPandas(
            _assign_fn, "_id long, _v array<double>, _cell int, _dist double"
        ),
        eager=False,
    )

    # Radii as ONE k-row aggregate collect over the just-materialized
    # members frame — the same metadata-scale driver footprint as the seed
    # collect above. The cell-pair triangle bound is then k² pure driver
    # arithmetic over numbers ALREADY on the driver, replacing two
    # BroadcastExchange builds (centers⋈radii, ca×cb): 5 jobs → 3 in a
    # fresh session. Conservativeness: numpy's pairwise-summed distance
    # differs from the old _euclid fold only in last ulps (~1e-15
    # relative), far inside the 1e-9 absolute slack already built into
    # eps_d for exactly this class of float dust — and ANY conservative
    # radius set yields the identical final pair set (the bound only
    # drops provably-impossible blocks; oracle hash re-verified).
    radii_rows = (
        members.groupBy("_cell").agg(F.max("_dist").alias("radius")).collect()
    )
    radius = {int(r["_cell"]): float(r["radius"]) for r in radii_rows}

    def _euclid_py(a: "list[float]", b: "list[float]") -> float:
        acc = 0.0  # same sequential left fold as _euclid — identical IEEE ops
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return math.sqrt(acc)

    centers_py = [[float(x) for x in c] for c in centers_np]
    # ≤ k(k+1)/2 unordered blocks; the bound keeps only blocks that can
    # matter. Pair ordering is normalized inside the scorer (id_a < id_b),
    # so unordered blocks lose no cross-cell pair. Empty cells (no member
    # argmaxed to them) have no radius row and drop out, as before.
    pair_rows = sorted(
        (ci, cj)
        for ci in radius
        for cj in radius
        if ci <= cj
        and _euclid_py(centers_py[ci], centers_py[cj])
        <= radius[ci] + radius[cj] + eps_d
    )
    cell_pairs = F.broadcast(
        df.sparkSession.createDataFrame(pair_rows, "ci int, cj int")
    )

    left = members.join(cell_pairs, members["_cell"] == cell_pairs["ci"]).select(
        "ci", "cj", "_id", "_v"
    )
    right = members.join(cell_pairs, members["_cell"] == cell_pairs["cj"]).select(
        F.col("ci").alias("_rci"),
        F.col("cj").alias("_rcj"),
        F.col("_id").alias("_rid"),
        F.col("_v").alias("_rv"),
    )
    return (
        left.groupby("ci", "cj")
        .cogroup(right.groupby("_rci", "_rcj"))
        .applyInPandas(_block_pair_scorer(threshold), "id_a long, id_b long, sim double")
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    seed: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, built to be
    ENGINE-PORTABLE for a fixed iteration count — the property that lets an
    ITERATIVE algorithm be oracle-checked instead of rows-only:

    - init is the deterministic hash sample used across this module: the k
      vectors with the smallest (md5(seed‖id), id), in that order — cluster
      j IS the j-th seed, on any engine, under any partitioning (MLlib
      KMeans' sampled init is partitioning-dependent, so its assignments
      can't be reproduced outside Spark);
    - every centroid (seeds included) is ROUNDED to ``round_to`` dp: float
      sums across engines drift in the last ulps, and quantizing each
      iteration's centroids kills that drift before it can flip an argmin;
      per-dimension means additionally go through DECIMAL(38,28) sums (the
      exact-sum trick from pagerank) so the pre-rounding value is already
      order-independent;
    - assignment ties (equal distance) break to the lowest cluster id.

    Scale shape per iteration: one codegen projection computes all k
    distances (centers are k×d broadcast literals), argmin picks the
    cluster; the centroid update is one map-side-combining (cluster, dim)
    aggregate whose output is k×d rows collected to the driver — the same
    footprint as MLlib's clusterCenters(). Empty clusters keep their
    previous centroid. Returns (id, cluster)."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    seed_rows = (
        base.withColumn(
            "_h", F.md5(F.concat(F.lit(str(seed)), F.lit("|"), F.col("_id").cast("string")))
        )
        .orderBy("_h", "_id")
        .limit(k)
        .select(F.transform("_v", lambda x: F.round(x, round_to)).alias("_c"))
        .collect()
    )
    centers = [list(r["_c"]) for r in seed_rows]

    def assign(ctrs: list[list[float]]):
        # ONE array<array<double>> Literal instead of k CreateArray trees
        # of k·d scalar literals: same per-element IEEE ops in the same
        # order (transform preserves center order), but the expression
        # tree shrinks from ~k·d leaves to a constant size — measured
        # ~0.3 s less Catalyst/codegen time PER ACTION at k=8, d=16
        # (round 13; three actions carry this expression per call).
        # Built via ONE parsed expression rather than F.lit(nested list)
        # (round 14): PySpark's lit() walks the k·d elements through
        # py4j — measured 90 ms per construction at 8×16 vs 0.9 ms for
        # the parse, ×3 constructions per call. repr() round-trips every
        # double exactly and Java's parser is correctly-rounded like
        # Python's, so the Literal holds bit-identical values (verified
        # down to subnormals; ConstantFolding collapses the parsed
        # CreateArrays into the same single Literal).
        def _dlit(v: float) -> str:
            if v != v:  # NaN centroid (pathological data) — keep lit() behavior
                return "CAST('NaN' AS DOUBLE)"
            if v in (float("inf"), float("-inf")):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            return f"{v!r}D"

        cl = F.expr(
            "array(" + ",".join(
                "array(" + ",".join(_dlit(float(x)) for x in c) + ")"
                for c in ctrs
            ) + ")"
        )
        dists = F.transform(
            cl,
            lambda c: F.aggregate(
                F.zip_with(F.col("_v"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    for _ in range(iters):
        assigned = base.withColumn("_c", assign(centers))
        rows = (
            assigned.select("_c", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_c", "_pos")
            .agg(
                F.round(
                    F.sum(F.col("_val").cast("decimal(38,28)")).cast("double")
                    / F.count(F.lit(1)),
                    round_to,
                ).alias("_m")
            )
            .collect()
        )
        new_centers = [list(c) for c in centers]  # empty cluster keeps centroid
        for r in rows:
            new_centers[r["_c"]][r["_pos"]] = r["_m"]
        centers = new_centers

    return base.withColumn("cluster", assign(centers)).select(
        F.col("_id").alias(id_col), "cluster"
    )


def truncate_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 16,
    renormalize: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first ``dim``
    coordinates and (optionally) re-normalize to unit length — the
    standard cheap-tier trade for MRL-trained embeddings (store/search at
    a prefix dimension, re-rank at full width). A pure native projection
    (slice + one aggregate fold); combined with the ANN operators this
    gives a coarse-search-fine-rerank pipeline without ever touching
    Python.

    Raises if ``dim`` exceeds the vector width at runtime? No — slice
    simply returns the shorter vector; callers wanting strictness pair
    this with a dq check. dim must be >= 1."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    out = out_col or vec_col
    sliced = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    if renormalize:
        sliced = _bind_vec(
            sliced,
            lambda v: F.transform(
                v,
                lambda x: x
                / F.sqrt(
                    F.greatest(
                        F.aggregate(v, F.lit(0.0), lambda a, b: a + b * b),
                        F.lit(1e-30),
                    )
                ),
            ),
        )
    return df.withColumn(out, sliced)


def _bind_vec(expr: Column, fn) -> Column:
    """Bind an array expression to a real lambda variable so nested
    lambdas reference it without Catalyst re-inlining (same trick as
    ``text._bind`` — without it the norm fold re-runs once per element)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def nn_distance_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_ids: int = 200,
    round_to: int = 6,
) -> DataFrame:
    """Nearest-neighbor similarity profile — the threshold-calibration
    report every near-dup deployment needs BEFORE picking 0.9-vs-0.95:
    for a deterministic id-prefix sample of vectors, find each one's
    single nearest neighbor (exact cosine) and summarize the NN-similarity
    distribution (min/quartiles/p90/p99/max). Read it as "what similarity
    does a RANDOM item have to its closest catalog neighbor" — the dedup
    threshold must sit well ABOVE this background curve or it will merge
    genuinely distinct items.

    Scale shape: the sample side is broadcast (``sample_ids`` rows by
    construction), candidates stream once through the exact scorer
    (``cosine_topk`` k=1), and the percentile fold runs on the
    sample-sized result. At catalog scale swap the scorer for the
    LSH/IVF operators; the report shape is unchanged.

    Returns one row: (n_sampled, nn_sim_min, nn_sim_p25, nn_sim_p50,
    nn_sim_p75, nn_sim_p90, nn_sim_p99, nn_sim_max)."""
    if sample_ids < 1:
        raise ValueError("sample_ids must be >= 1")
    queries = df.filter(F.col(id_col) < sample_ids)
    nn = cosine_topk(queries, df, id_col, vec_col, k=1)
    pct = lambda p: F.expr(f"percentile(sim, {p})")  # noqa: E731
    return nn.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.round(F.min("sim"), round_to).alias("nn_sim_min"),
        F.round(pct(0.25), round_to).alias("nn_sim_p25"),
        F.round(pct(0.50), round_to).alias("nn_sim_p50"),
        F.round(pct(0.75), round_to).alias("nn_sim_p75"),
        F.round(pct(0.90), round_to).alias("nn_sim_p90"),
        F.round(pct(0.99), round_to).alias("nn_sim_p99"),
        F.round(F.max("sim"), round_to).alias("nn_sim_max"),
    )
