"""Round-11 query surface (VERDICT r10 #1: fit once, probe many).

- ``hard_negative_mining_indexed`` — the recall report for mining against
  a PREBUILT partitioned IVF index (``similarity.hard_negatives_indexed``):
  the index is written once per corpus (KMeans fit + labels carried +
  centroid sidecar), every mining call is a pure partition-pruned probe.
  This is the deployment the sf100 numbers demanded: the in-one-plan ANN
  mining call was 1068 s (97% per-call KMeans), the prebuilt-index probe
  amortizes that build away.
- ``hard_negative_mining_indexed_full`` — the SAME prebuilt-index plan
  probed with n_probe = n_cells: every cell is probed, so the output
  provably equals brute force and the all-pairs DuckDB oracle HASH-CHECKS
  the index machinery end to end (partitioned layout, sidecar centroids,
  label-filtered probe scoring, tie-breaks). Recall entries measure the
  approximate deployment; this pins its correctness.
- ``multimodal_mp3_vbr_audit`` (VERDICT r10 #6) — the VBR-aware MP3
  census: MPEG-1/2/2.5 Layer III tables, ID3v2 skip, Xing/Info metadata
  frame parse, per-file version/duration/bitrate/CBR/tag-consistency
  stats over realistic crawled-audio fixtures, every statistic a
  closed-form function of the document text that DuckDB recomputes.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .registry import query

_IDX_CELLS = 8


def _ivf_index_path(sf_dir: str) -> str:
    """Deterministic per-corpus index location: built on first use, reused
    by every later probe in the same container — the fit-once contract,
    made literal. (A real deployment would put this next to the corpus;
    /tmp keeps the driver's read-only sf_dir untouched.)"""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return f"/tmp/spark_graft_ivf/{key}_c{_IDX_CELLS}"


def _fs_token(*paths: str) -> tuple:
    """Filesystem identity of a set of parquet locations: sorted
    (relpath, size, mtime_ns) over every data file under each path. Any
    regeneration — even byte-identical content rewritten in place —
    changes mtimes, so a token match proves the files Spark would scan
    are the ones a previous validation saw. Used ONLY as a memo key for
    ``validate_ivf_index``: a token miss falls back to the full corpus
    fingerprint, never to a silent pass."""
    entries = []
    for p in paths:
        if os.path.isfile(p):
            st = os.stat(p)
            entries.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    entries.append(
                        (os.path.relpath(fp, p), st.st_size, st.st_mtime_ns)
                    )
        else:
            entries.append((p, -1, -1))
    return tuple(sorted(entries))


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    from .operators.similarity import validate_ivf_index, write_ivf_index

    path = _ivf_index_path(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # freshness contract (VERDICT r11 #4 / ADVICE): _SUCCESS markers only
    # prove a COMPLETE index exists, not that it matches the corpus — a
    # tier regenerated in place under the same path would silently serve
    # stale probes (the recall entry has no oracle to catch it). The
    # fingerprint sidecar comparison costs one aggregate over the corpus;
    # mismatch (a pre-contract index without the sidecar, or — ADVICE
    # r12 — a sidecar recording different build parameters) rebuilds.
    # The memo token (VERDICT r12 #7) is the stat identity of the corpus
    # files plus the index sidecar: while neither changes on disk, the
    # session revalidates from the memo instead of re-aggregating the
    # corpus on every probe-entry run.
    token = _fs_token(
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(path, "_fingerprint"),
    )
    fresh = (
        os.path.exists(os.path.join(path, "_SUCCESS"))
        and os.path.exists(os.path.join(path, "_centers", "_SUCCESS"))
        and validate_ivf_index(
            spark, path, emb, "vec_id", "embedding", ("label",),
            n_cells=_IDX_CELLS, seed=1, memo_token=token,
        )
    )
    if not fresh:
        write_ivf_index(
            emb, path, "vec_id", "embedding",
            n_cells=_IDX_CELLS, seed=1, extra_cols=("label",),
        )
    return path


@query("hard_negative_mining_indexed")  # recall measured in-Spark → rows-only
def hard_negative_mining_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of prebuilt-index hard-negative mining vs the brute-force
    answer on the same anchors (the ``ann_recall_report`` pattern —
    approximate operators ship with their accuracy number). The label
    filter runs INSIDE the probe scoring (the index carries labels), so
    there is no over-fetch slack: recall loss is exactly the unprobed-cell
    miss rate, reported per n_probe setting. One row per n_probe, PLUS
    the selected operating point (VERDICT r11 #2): ``select_n_probe``
    samples the full recall-vs-n_probe curve from one exact run and
    picks the smallest n_probe meeting a 0.9 recall target — the
    ``ivf_selected`` row is the dial a production miner reads instead of
    guessing. Rows: (method, k, n_probe, n_cells, n_queries, recall)."""
    from .operators import similarity as S

    path = _ensure_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter((F.col("vec_id") >= 96) & (F.col("vec_id") < 128))
    k = 5

    truth = S.cosine_topk(anchors, emb, k=k, pos_col="label").select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    n_q = anchors.count()
    rows = []
    for n_probe in (2, 4):
        mined = S.hard_negatives_indexed(
            spark, path, anchors, k=k, n_probe=n_probe
        )
        hits = truth.join(
            mined.withColumnRenamed("query_id", "q2"),
            (F.col("query_id") == F.col("q2"))
            & (F.col("true_id") == F.col("neighbor_id")),
            "inner",
        ).count()
        rows.append(
            ("ivf_indexed", k, n_probe, _IDX_CELLS, n_q, round(hits / (k * n_q), 4))
        )
    sel = S.select_n_probe(spark, path, anchors, target_recall=0.9, k=k)
    rows.append(
        (
            "ivf_selected" + ("_coarse" if sel["coarse"] else ""),
            k, sel["n_probe"], sel["n_cells"], n_q, sel["recall"],
        )
    )
    return spark.createDataFrame(
        rows,
        "method string, k int, n_probe int, n_cells int, n_queries long, recall double",
    )


_HN_IDX_ORACLE = """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM e q JOIN e c
          ON q.vec_id >= 128 AND q.vec_id < 160 AND q.vec_id <> c.vec_id
         AND q.label IS DISTINCT FROM c.label
    )
    SELECT query_id, neighbor_id, sim, CAST(rnk AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 5
"""


@query("hard_negative_mining_indexed_full", oracle=_HN_IDX_ORACLE)
def hard_negative_mining_indexed_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hard-negative mining THROUGH the prebuilt-index plan: with
    n_probe = n_cells every cell is probed, so the probe-join + label
    filter + top-k must reproduce brute force bit-for-bit — DuckDB
    recomputes the answer all-pairs and hash-checks it. What this pins
    that ``hard_negative_mining_ivf`` (in-plan k-means) cannot: the
    PHYSICAL index path — partitioned parquet layout, the centroid
    sidecar read, the literal-IN partition filter, the carried label
    column, and the probe scoring conventions — is semantics-preserving.
    A wrong cell assignment, a dropped partition, a stale sidecar, or a
    label-join defect all break the hash."""
    from .operators.similarity import hard_negatives_indexed

    path = _ensure_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter((F.col("vec_id") >= 128) & (F.col("vec_id") < 160))
    return hard_negatives_indexed(
        spark, path, anchors, k=5, n_probe=_IDX_CELLS
    )


# VBR MP3 fixture geometry: 24 frames per document, sample-rate index 0.
_VBR_FRAMES = 24

_VBR_CHAR_LIST = (
    f"[ascii(x) for x in string_split(left(repeat(text, "
    f"CAST(ceil({_VBR_FRAMES}.0 / length(text)) AS INT)), {_VBR_FRAMES}), '')]"
)

_V1_KBPS = "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
_V2_KBPS = "[8,16,24,32,40,48,56,64,80,96,112,128,144,160]"


@query(
    "multimodal_mp3_vbr_audit",
    oracle=f"""
    WITH v AS (
        SELECT doc_id AS media_id, {_VBR_CHAR_LIST} AS cs
        FROM documents
        WHERE length(text) > 0
          AND NOT regexp_matches(text, '[^\\x01-\\x7f]')
    ), b AS (
        SELECT media_id, cs[1] % 3 AS sel, cs[1] AS c0,
               CASE WHEN cs[1] % 3 = 0
                    THEN [{_V1_KBPS}[1 + (c % 14)] for c in cs]
                    ELSE [{_V2_KBPS}[1 + (c % 14)] for c in cs]
               END AS kbps
        FROM v
    )
    SELECT media_id,
           CASE sel WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END AS mpeg_version,
           'III' AS mpeg_layer,
           {_VBR_FRAMES} AS n_frames,
           round({_VBR_FRAMES} * (CASE WHEN sel = 0 THEN 1152 ELSE 576 END) * 1000.0
                 / (CASE sel WHEN 0 THEN 44100 WHEN 1 THEN 22050 ELSE 11025 END),
                 3) AS duration_ms,
           round(list_avg(kbps), 6) AS mean_bitrate_kbps,
           len(list_distinct(kbps)) = 1 AS is_cbr,
           (c0 % 2 = 1) AS has_id3,
           CASE WHEN len(list_distinct(kbps)) = 1 THEN 'Info' ELSE 'Xing' END AS xing_tag,
           {_VBR_FRAMES} AS xing_frames,
           true AS xing_match
    FROM b
    """,
)
def multimodal_mp3_vbr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VBR MP3 corpus census through the general walker (VERDICT r10 #6):
    document bytes become realistic crawled-audio streams — version mixed
    across MPEG-1/2/2.5 (engaging all three bitrate/samplerate tables and
    the 1152-vs-576 samples/frame split), roughly half the files carrying
    a leading ID3v2 tag the walker must SKIP (not refuse), every stream
    opening with a Xing/Info metadata frame whose claimed frame count the
    audit cross-checks against the walked count, and an ID3v1 trailer the
    walk must stop at cleanly. DuckDB recomputes version, duration, mean
    bitrate, CBR flag, ID3 flag, tag name, and the tag-consistency bit in
    closed form: a wrong V2 bitrate row, a 576-sample duration slip, a
    syncsafe-size misread, a side-info-offset error (the Xing tag would
    vanish), or a trailer overrun all break the hash.

    ASCII-only invariant, ENFORCED (ADVICE r11): the oracle derives frame
    specs from CODEPOINTS (DuckDB ascii()/length()) while the fixture
    encoder cycles UTF-8 BYTES — identical only for ASCII text. Both
    sides filter non-ASCII documents with the same predicate, so a future
    non-ASCII corpus shrinks the census instead of silently breaking the
    hash."""
    from .operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & ~F.col("text").rlike("[^\\x01-\\x7f]")
    )
    media = M.text_to_mp3_vbr_media(docs, n_frames=_VBR_FRAMES)
    return M.mp3_vbr_audit(media)
