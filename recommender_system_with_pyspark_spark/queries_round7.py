"""Round-7 query surface (VERDICT r6 items #5/#6).

- ``simhash_family_equivalence`` — pins the JVM-fast xxhash64 SimHash
  path to the md5-portable ★-checked one with a DuckDB-predictable
  equivalence corpus (planted exact clones over salted-disjoint token
  sets), converting the fast path's guarantee from rows-only to
  hash-checked.
- ``multimodal_image_decode`` / ``multimodal_audio_decode`` — REAL codec
  paths (pure-struct BMP, stdlib-wave PCM) behind the Arrow mapInPandas
  plumbing, oracle-checked because the fixture media is synthesized
  deterministically from document text (an external engine recomputes the
  decoded pixel/sample statistics from the text alone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .operators.checkpointing import local_ckpt_ser
from .operators import dedup as D
from .operators import multimodal as M
from .operators import text as X
from .registry import query


@query(
    "simhash_family_equivalence",
    oracle="""
    SELECT doc_id AS id_a,
           doc_id + 1000000 AS id_b,
           true AS in_xxhash64,
           true AS in_md5
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def simhash_family_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side equivalence oracle for the JVM-only xxhash64 SimHash
    twin (VERDICT r6 #5): over an equivalence corpus where BOTH hash
    families must agree exactly, the xxhash64 pair set EQUALS the
    md5-portable ★-checked pair set — and DuckDB predicts that common set
    in closed form.

    Corpus construction: every token is salted with its document id
    (tokens become ``<doc_id>:<token>``), making all documents pairwise
    token-disjoint — SimHash signatures of disjoint token sets are
    independent ~uniform bits, so no cross-document pair lands within
    Hamming 4 of another under EITHER family (P ≈ 4e-9 over the whole
    corpus, deterministic given the fixed hashes). Every 50th document is
    then cloned under id+1,000,000 with IDENTICAL salted text — Hamming 0,
    so pigeonhole banding emits the pair in BOTH families. The only pairs
    either family can emit are the clones; the full-outer join of the two
    outputs must therefore be exactly the clone list with both membership
    flags true. A spurious pair, a missed clone, or any family divergence
    breaks the hash match.

    (On natural text the two families legitimately diverge near the
    radius — measured pair-set Jaccard ~0.14 at sf0.01 — which is why the
    production `simhash_xxhash64_near_dup` entry cannot carry a DuckDB
    oracle directly; this query pins the shared machinery instead:
    signature build, banding, pigeonhole recall, and Hamming verify are
    the same code path in both runs.)"""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salted = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                X.tokens("text"),
                lambda t: F.concat_ws(":", F.col("doc_id").cast("string"), t),
            ),
            " ",
        ).alias("text"),
    )
    clones = salted.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    # corpus-scale rewritten text frame, read by both family runs:
    # serialized level (the sf100 spilled-deserialized-block OOM class)
    docs = local_ckpt_ser(salted.unionByName(clones))  # 2 passes
    xx = D.simhash_near_dup(docs, "text", "doc_id", max_hamming=3, bands=4).select(
        "id_a", "id_b", F.lit(True).alias("in_xxhash64")
    )
    md = D.simhash_near_dup(
        docs, "text", "doc_id", max_hamming=3, bands=4, bits=60,
        hash_expr=X.md5_hash60,
    ).select("id_a", "id_b", F.lit(True).alias("in_md5"))
    return (
        xx.join(md, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a", "id_b",
            F.coalesce("in_xxhash64", F.lit(False)).alias("in_xxhash64"),
            F.coalesce("in_md5", F.lit(False)).alias("in_md5"),
        )
    )


_IMG_W, _IMG_H = 16, 8
_IMG_BYTES = _IMG_W * _IMG_H * 3  # 384

_IMG_BYTE_LIST = (
    f"[ascii(x) for x in string_split(left(repeat(text, "
    f"CAST(ceil({_IMG_BYTES}.0 / length(text)) AS INT)), {_IMG_BYTES}), '')]"
)


@query(
    "multimodal_image_decode",
    oracle=f"""
    WITH px AS (
        SELECT doc_id AS media_id, {_IMG_BYTE_LIST} AS l
        FROM documents WHERE length(text) > 0
    )
    SELECT media_id,
           true AS decoded,
           {_IMG_W} AS width,
           {_IMG_H} AS height,
           round(list_avg(l[1:{_IMG_BYTES}:3]), 6) AS mean_r,
           round(list_avg(l[2:{_IMG_BYTES}:3]), 6) AS mean_g,
           round(list_avg(l[3:{_IMG_BYTES}:3]), 6) AS mean_b,
           round(sqrt(greatest(
               list_avg([x * x for x in l]) - list_avg(l) ^ 2, 0)), 6)
               AS pixel_std
    FROM px
    """,
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow batch path (VERDICT r6 #6):
    document bytes are cycled into a 16×8 RGB raster, container-encoded as
    a genuine 24-bit BMP (operators/multimodal.encode_bmp), then decoded
    back by parsing the BITMAPINFOHEADER and un-flipping the bottom-up BGR
    raster (decode_bmp) — width/height come from the HEADER and the
    channel means from the recovered raster, so a header mis-parse, a
    BGR/RGB swap, or a row-order bug all break the oracle hash. DuckDB
    recomputes every statistic from the text bytes alone. All sums are
    integer-exact in f64 and divisions/sqrt follow the identical op order
    on both engines (E[x²]−E[x]² form), so the 6-dp round is stable."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    media = M.text_to_bmp_media(docs, width=_IMG_W, height=_IMG_H)
    return M.extract_image_features(media)


_N_SAMPLES, _RATE = 256, 8000

_WAV_SAMPLE_LIST = (
    f"[(ascii(x) - 96) * 256 for x in string_split(left(repeat(text, "
    f"CAST(ceil({_N_SAMPLES}.0 / length(text)) AS INT)), {_N_SAMPLES}), '')]"
)


@query(
    "multimodal_audio_decode",
    oracle=f"""
    WITH s AS (
        SELECT doc_id AS media_id, {_WAV_SAMPLE_LIST} AS l
        FROM documents WHERE length(text) > 0
    )
    SELECT media_id,
           true AS decoded,
           {_RATE} AS sample_rate,
           CAST({_N_SAMPLES} AS BIGINT) AS n_samples,
           CAST({_N_SAMPLES} * 1000 // {_RATE} AS BIGINT) AS duration_ms,
           round(sqrt(list_avg([x * x for x in l])), 6) AS rms
    FROM s
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the Arrow batch path (VERDICT r6 #6):
    document bytes become 256 int16 PCM samples ((byte−96)·256), encoded
    as a genuine WAV container (stdlib wave) and decoded back by the same
    module — sample rate and frame count come from the WAV header, RMS
    from the recovered samples. n=256 is a power of two, so every mean is
    an exact f64 division of an exact integer sum and the DuckDB twin is
    bit-identical."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    media = M.text_to_wav_media(docs, n_samples=_N_SAMPLES, sample_rate=_RATE)
    return M.extract_audio_features(media)
