"""Independent references for the similarity top-k operators: a numpy
all-pairs brute force with the operators' contract (sims rounded to 6 dp,
ranked by desc sim then asc neighbor id) and a tie-heavy corpus."""

from __future__ import annotations

import numpy as np


def brute_topk(df, queries, k, exclude_self=True, pos_col=None,
               id_col="vec_id", vec_col="embedding"):
    """Sorted (query_id, neighbor_id, sim, rank) tuples: the exact cosine
    top-k of every ``queries`` row over ``df``. With ``pos_col`` only
    candidates whose label differs from the query's rank (two NULLs are
    not distinct)."""
    cols = [id_col, vec_col] + ([pos_col] if pos_col else [])
    cand = [tuple(r) for r in df.select(*cols).collect()]
    mat = np.array([r[1] for r in cand], dtype="float64")
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    out = []
    for q in queries.select(*cols).collect():
        qv = np.array(q[1], dtype="float64")
        qv /= max(np.linalg.norm(qv), 1e-30)
        ranked = sorted(
            (-s, c[0])
            for c, s in zip(cand, np.round(mat @ qv, 6).tolist())
            if not (exclude_self and c[0] == q[0])
            and not (pos_col and c[2] == q[2])
        )
        out += [(q[0], cid, -neg, r) for r, (neg, cid) in enumerate(ranked[:k], 1)]
    return sorted(out)


def tie_corpus(spark):
    """Tie-heavy corpus spread across partitions: one query (id 900), a
    high-sim trio, plus 57 candidates with IDENTICAL embeddings (sim ties
    at every boundary), ids assigned in DESCENDING order vs insertion so
    per-partition truncation without an id tie-break keeps the wrong
    survivors."""
    rows = [(900, [1.0, 0.0], "q")]
    rows += [(60 + j, [0.99, 0.01], "a") for j in range(3)]  # clear top-3
    rows += [(57 - i, [0.8, 0.6], "b") for i in range(57)]  # ids 57..1, all tied
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    return df.repartition(8)
