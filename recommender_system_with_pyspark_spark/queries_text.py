"""Text / dedup / similarity / multimodal query surface (north-star
extensions — SURVEY §2.9 note, §7 M5) with DuckDB oracles where the
semantics are SQL-expressible, rows-only otherwise (MinHash/SimHash/LSH use
Spark-specific hash functions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .operators import dedup as D
from .operators import multimodal as M
from .operators import similarity as S
from .operators import text as X
from .registry import query


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER)                                       AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INTEGER) AS n_punct,
           round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                 / greatest(length(text), 1)::DOUBLE, 6)                        AS punct_ratio,
           round(length(regexp_replace(text, '\\s+', '', 'g'))
                 / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE, 6) AS mean_token_len
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation stats per document — pure native
    expressions, no UDF, embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    out = X.add_token_stats(docs, "text")
    return out.select(
        "doc_id", "n_tokens",
        F.col("n_chars").cast("int").alias("n_chars"),
        "n_punct", "punct_ratio", "mean_token_len",
    )


@query(
    "quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               length(text)                                                       AS n_chars,
               len(string_split_regex(trim(lower(text)), '\\s+'))                 AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is)\\b'))   AS sw_hits
        FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(n_chars / 500.0, 1.0)
               + 0.3 * greatest(0.0, 1.0 - (n_punct / greatest(n_chars, 1)::DOUBLE) * 5)
               + 0.3 * least((sw_hits / greatest(n_tokens, 1)::DOUBLE) * 4, 1.0), 6) AS quality
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length sweet-spot + punctuation noise +
    stopword-ratio health, composed as one codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    return X.add_quality_score(docs, "text").select("doc_id", "quality")


_LANG_PROFILES = {
    "sparkish": ("spark", "query", "shuffle", "partition", "window"),
    "dbish": ("table", "row", "column", "scan", "join"),
    "plain": ("the", "a", "value", "data", "fast"),
}


@query(
    "lang_id",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '\\b(spark|query|shuffle|partition|window)\\b')) AS s1,
               len(regexp_extract_all(lower(text), '\\b(table|row|column|scan|join)\\b'))           AS s2,
               len(regexp_extract_all(lower(text), '\\b(the|a|value|data|fast)\\b'))                AS s3
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'sparkish'
                WHEN s2 >= s3 THEN 'dbish'
                ELSE 'plain' END AS lang_pred
    FROM s
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word-profile language ID (n-gram heuristic): per-profile regex
    hit counts → argmax, declaration order breaking ties. Profiles here use
    the synthetic corpus vocabulary; real deployments plug in per-language
    stopword lists."""
    docs = load_table(spark, sf_dir, "documents")
    return X.add_language_id(docs, "text", profiles=_LANG_PROFILES).select("doc_id", "lang_pred")


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint (lowercase → strip non-alnum → md5) —
    the constant-width dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return X.add_fingerprint(docs, "text").select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dupes
    FROM documents GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via canonical-fingerprint groupBy: shuffle the 128-bit
    hash, never the document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs, "text", "doc_id", canonicalize=True)


@query(
    "ngram_jaccard",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1), 6) AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1) >= 0.8
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by language — a ratio
    of integer set sizes, exactly deterministic. The quadratic-within-block
    ground truth that MinHash approximates at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "text", "doc_id", block_col="lang", threshold=0.8, shingle_n=1)


@query(
    "ngram_jaccard_blocked",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
        FROM documents
    ), sb AS (
        SELECT doc_id, lang, toks, len(toks) // 4 AS len_bucket FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1), 6) AS jaccard
    FROM sb a JOIN sb b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1) >= 0.8
    """,
)
def ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs under a COMPOSITE blocking key:
    (lang, 4-token length bucket). The finer key is what makes the
    exact-verify path usable beyond toy blocks — a language alone is
    ~the whole corpus at 100 TB, while language x length-bucket bounds each
    block (cardinality invariant tested in test_text_dedup). Near-dup pairs
    straddling a bucket boundary are excluded by construction on BOTH
    engines, so the oracle hash still matches; at >=0.8 Jaccard, token
    counts differ by <12%, so only boundary-adjacent pairs are affected —
    recover them with the standard two-pass trick (re-run with buckets
    offset by half a width) or use MinHash LSH as the candidate generator."""
    docs = load_table(spark, sf_dir, "documents")
    with_bucket = docs.withColumn(
        "len_bucket",
        F.floor(F.size(F.array_distinct(X.tokens("text"))) / 4),
    )
    return D.jaccard_pairs(
        with_bucket, "text", "doc_id",
        block_col=["lang", "len_bucket"], threshold=0.8, shingle_n=1,
    )


@query(
    "minhash_near_dup",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 3, 0) + 2),
                   i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\\s+'), i, i + 2), ' ')
                 )
               ) AS sh
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
    """,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native MinHash-LSH near-dup pairs (3-word shingles, 32 permutations
    in 8 bands, exact-Jaccard verify) — the 100 TB dedup path: cost ~
    colliding pairs, not |docs|².

    Oracle-checkable because the output is *exact* Jaccard over the
    candidates: when banding achieves full recall on the data (r=4 rows/band
    → collision prob 1-(1-j⁴)⁸ ≈ 0.9999 at j=0.9; verified 25/25 true pairs
    at sf0.01, and the xxhash64 seeds are fixed so the run is deterministic),
    the verified output EQUALS the quadratic all-pairs ground truth the
    DuckDB oracle computes. 16 perms/4 bands missed one j=0.9 pair
    (collision prob 0.986 per band-set); 32/8 costs only ~15% more wall
    time because the explode→min-agg signature stage dominates."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dup(docs, "text", "doc_id", threshold=0.5,
                              num_perm=32, bands=8, shingle_n=3)


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names)
    SELECT a.p_name AS val_a, c.p_name AS val_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS distance
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 3
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs over the distinct part-name space, blocked
    by first token — entity resolution for short strings. distinct() first
    collapses the fact-table multiplicity (quadratic work runs on the value
    space, not the row space)."""
    part = load_table(spark, sf_dir, "part")
    return D.fuzzy_pairs(part, "p_name", max_distance=3)


def _simhash_portable_oracle(bits: int = 60, max_hamming: int = 3) -> str:
    """Exact all-pairs SimHash in DuckDB SQL over the md5-60-bit token
    hash: unnest distinct tokens → per-bit ±1 sums → sign bits → popcount
    of XOR. With bands > max_hamming on the Spark side, banded recall is
    total, so banded output == this quadratic ground truth."""
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)" for i in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, (('0x' || substr(md5(tok), 1, 15))::UBIGINT)::BIGINT AS h
        FROM toks
    ),
    sums AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sig_terms} AS s FROM sums)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
    """


def _simhash_query(bits: int, max_hamming: int, bands: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = D.simhash_near_dup(
            docs, "text", "doc_id",
            max_hamming=max_hamming, bands=bands, bits=bits, hash_expr=X.md5_hash60,
        )
        return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))

    return run


@query("simhash_near_dup", oracle=_simhash_portable_oracle(60, 3))
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with banded blocking (4×15-bit bands over a
    60-bit signature): pigeonhole guarantees recall for Hamming < 4
    without a cross join, so banded output EQUALS exact all-pairs SimHash
    and hash-matches the quadratic DuckDB oracle. The token hash is the
    engine-portable md5-derived 60-bit value (reproducible outside Spark —
    DuckDB recomputes the identical signature from scratch); the faster
    JVM-only xxhash64 signature is registered as
    `simhash_xxhash64_near_dup`."""
    return _simhash_query(60, 3, 4)(spark, sf_dir)


@query("simhash_portable_near_dup", oracle=_simhash_portable_oracle(60, 4))
def simhash_portable_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wider-radius companion to `simhash_near_dup`: max Hamming 4
    under 5×12-bit bands (5 bands > 4 → pigeonhole recall stays total),
    hash-matched against exact all-pairs SimHash recomputed from scratch
    in SQL. Demonstrates the band/radius dial: guaranteed recall at
    distance d needs > d bands, each band join coarser → more candidate
    pairs to verify — the recall/candidate-volume trade documented at
    operators/dedup.py:280."""
    return _simhash_query(60, 4, 5)(spark, sf_dir)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "embedding_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (the ANN correctness baseline):
    broadcast queries, stream candidates, window top-k. Native zip_with/
    aggregate fold — no Python per row."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return S.cosine_topk(queries, emb, "vec_id", "embedding", k=5)


@query(
    "embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact and fully distributed:
    block-matrix cogroup (each chunk-pair block is one BLAS matmul task; no
    driver collect, no broadcast ceiling, scales as O(n²/C²) work × C²
    tasks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # n_chunks=16: 136 block tasks instead of 10 — with 32 cores, 10 fat
    # tasks are straggler-bound (wall-clock = slowest task placement, the
    # sf1 stability study's variance source); many small tasks average out
    # AND cap per-task memory. Output is identical for any chunk count.
    return S.embedding_near_dup_blocked(emb, "vec_id", "embedding", threshold=0.4, n_chunks=16)


def _ann_exact_oracle(max_qid: int, k: int) -> str:
    """Brute-force cosine top-k ground truth (same shape as the
    `embedding_topk` oracle). Attaches to an ANN query whenever the
    approximate candidate set provably covers the true top-k — then the
    exact re-rank makes the output EQUAL brute force."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM e q JOIN e c ON q.vec_id < {max_qid} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, sim, CAST(rnk AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {k}
    """


@query("ann_lsh_topk", oracle=_ann_exact_oracle(10, 5))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH on normalized
    vectors — bucket join for candidates, exact cosine re-rank on the
    original arrays (same fold + rounding as `embedding_topk`).

    numHashTables=12 was tuned with `tools/tune_ann.py` until candidate
    recall@5 is 1.0 at the checked scale (recall hits 1.0 from 8 tables;
    12 adds margin against testdata regeneration), so the output equals
    brute force and the exact SQL oracle applies — any recall loss shows
    up as a hash mismatch, making this the strongest possible check for
    an approximate operator. `ann_recall_report` tracks the recall of
    the deliberately lossier default config."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.lsh_topk(queries, emb, "vec_id", "embedding", k=5,
                      bucket_length=1.0, num_hash_tables=12)


@query("ann_ivf_topk", oracle=_ann_exact_oracle(10, 5))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with a PROVABLE exactness guarantee: coarse k-means
    cells, probe the nearest n_probe per query, then additionally probe
    only cells whose triangle-inequality radius bound could still beat
    the provisional k-th best (`S.ivf_topk_exact`). Output equals brute
    force by construction — no tuning-to-recall needed — so the exact
    SQL oracle attaches while the plan still prunes cells that cannot
    matter. The plain probe-budget variant (`S.ivf_topk`) remains the
    lossy-but-bounded-cost path, measured by `ann_recall_report`."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk_exact(queries, emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=3)


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------

@query(
    "multimodal_bytes",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing: documents as binary blobs + typed
    metadata; byte length and content hash computed on the binary column."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs)
    return media.select(
        "media_id",
        F.length(F.col("media")).cast("long").alias("n_bytes"),
        F.md5(F.col("media")).alias("content_md5"),
    )


@query(
    "multimodal_features",
    oracle="""
    WITH chars AS (
        SELECT doc_id, ascii(c) AS byte
        FROM documents, unnest(string_split(text, '')) AS t(c)
        WHERE length(text) > 0
    ),
    bins AS (
        SELECT doc_id, byte * 16 // 256 AS bin, count(*)::DOUBLE AS cnt
        FROM chars GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.doc_id, g.range AS bin, coalesce(b.cnt, CAST(0 AS DOUBLE)) AS cnt
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN range(16) g
        LEFT JOIN bins b ON b.doc_id = d.doc_id AND b.bin = g.range
    ),
    agg AS (
        SELECT doc_id, sum(cnt) AS total,
               list(CAST(cnt AS BIGINT) ORDER BY bin) AS hist
        FROM grid GROUP BY doc_id
    ),
    ent AS (
        SELECT g.doc_id,
               sum(CASE WHEN g.cnt > 0 THEN -(g.cnt / a.total) * log2(g.cnt / a.total)
                        ELSE CAST(0 AS DOUBLE) END) AS entropy
        FROM grid g JOIN agg a USING (doc_id)
        GROUP BY g.doc_id
    )
    SELECT a.doc_id AS media_id,
           CAST(a.total AS BIGINT) AS n_bytes,
           round(e.entropy, 6) AS byte_entropy,
           to_json(a.hist) AS histogram_json
    FROM agg a JOIN ent e ON a.doc_id = e.doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary media via mapInPandas (Arrow batch
    iterator — the exact plumbing a neural encoder would use; codec stubbed
    per container limits). The histogram is serialized with ``to_json`` so
    the result is hashable row-wise (driver canonicalizer + oracle both
    compare the compact JSON string). Oracle is exact because the synthetic
    corpus is pure ASCII (byte == code point); entropy summation order
    matches at 6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs)
    feats = M.extract_byte_features(media, n_bins=16)
    return feats.select(
        "media_id", "n_bytes", "byte_entropy",
        F.to_json("histogram").alias("histogram_json"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting / scrubbing (training-pipeline ops)
# ---------------------------------------------------------------------------

@query(
    "hash_sample",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE CAST(('0x' || substr(md5(doc_id || ':7'), 1, 8)) AS BIGINT) < 429496729
    """,
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample keyed by md5(doc_id) — the same
    rows survive on every run, partitioning, and engine (the oracle runs
    the IDENTICAL predicate in DuckDB), unlike df.sample(). A projection +
    filter: no shuffle, linear at 100 TB."""
    from .operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return SA.hash_sample(docs, "doc_id", 0.1, seed=7).select("doc_id", "lang", "source")


@query(
    "stable_split",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(doc_id || ':42'), 1, 8)) AS BIGINT) AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 3435973836 THEN 'train'
                WHEN bucket < 3865470566 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM b GROUP BY 1
    """,
)
def stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by md5 key-bucket — the
    replacement for the reference's unseeded randomSplit (M9 quirk,
    `bgrfunctions.py:183`): membership is a pure function of the document
    id, so a re-run months later reproduces yesterday's eval set exactly.
    min/max doc ids per split pin the actual membership, not just sizes."""
    from .operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    split = SA.stable_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "pii_scrub",
    oracle="""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                    text || ' contact user' || doc_id ||
                    '@example.com id 123456789 or https://ex.com/u/' || doc_id
               ELSE text END AS text
        FROM documents
    ), no_url AS (
        SELECT doc_id, text, regexp_replace(text, 'https?://[^\\s]+', '', 'g') AS t1
        FROM injected
    ), no_email AS (
        SELECT doc_id, text, t1,
               regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g') AS t2
        FROM no_url
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INTEGER) AS n_urls,
           CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t2, '[0-9]{7,}')) AS INTEGER) AS n_digits,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g')) AS scrub_md5
    FROM no_email
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (URLs → emails → long digit runs, in that order)
    with per-rule counts. The corpus is synthetic word-salad, so PII is
    INJECTED deterministically on every 7th document (same injection in the
    oracle) — the query then proves the scrubber removes exactly it. Output
    compares the md5 of the scrubbed text so the full redacted body is
    pinned, not just the counts. Pure regexp codegen: linear, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com id 123456789 or https://ex.com/u/"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    scrubbed = X.scrub_pii(injected, "text", out_col="scrubbed")
    return scrubbed.select(
        "doc_id",
        F.col("scrubbed_n_urls").alias("n_urls"),
        F.col("scrubbed_n_emails").alias("n_emails"),
        F.col("scrubbed_n_digits").alias("n_digits"),
        F.md5("scrubbed").alias("scrub_md5"),
    )


@query(
    "domain_mix_sample",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang, source,
               CAST(('0x' || substr(md5(doc_id || ':13'), 1, 8)) AS BIGINT) AS bucket
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 4294967296
                             WHEN 'de' THEN 2147483648
                             WHEN 'fr' THEN 2147483648
                             WHEN 'es' THEN 1073741824
                             ELSE 429496729 END
    GROUP BY lang
    """,
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling — per-stratum keep rates (all English, half
    German/French, a quarter Spanish, 10% of everything else), decided by
    the portable md5 key-bucket so the mix is reproducible across runs and
    engines. One codegen CASE + filter: no shuffle until the reporting agg."""
    from .operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    kept = SA.stratified_hash_sample(
        docs, "doc_id", "lang",
        rates={"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25},
        default_rate=0.1, seed=13,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "training_mix",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               length(text)                                                       AS n_chars,
               len(string_split_regex(trim(lower(text)), '\\s+'))                 AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is)\\b'))   AS sw_hits,
               md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))            AS fp,
               CAST(('0x' || substr(md5(doc_id || ':42'), 1, 8)) AS BIGINT)       AS bucket
        FROM documents
    ), scored AS (
        SELECT *,
               0.4 * least(n_chars / 500.0, 1.0)
             + 0.3 * greatest(0.0, 1.0 - (n_punct / greatest(n_chars, 1)::DOUBLE) * 5)
             + 0.3 * least((sw_hits / greatest(n_tokens, 1)::DOUBLE) * 4, 1.0) AS quality
        FROM t
    )
    SELECT CASE WHEN bucket < 3435973836 THEN 'train'
                WHEN bucket < 3865470566 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
    FROM scored
    WHERE quality >= 0.5
    GROUP BY 1, 2
    """,
)
def training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep composite: quality-score filter
    (>= 0.5) → deterministic 80/10/10 split → per (split, lang) corpus
    accounting (doc count, token budget, distinct-fingerprint count — the
    dedup-aware size). Every stage is the engine's own operator
    (add_quality_score, add_token_stats, add_fingerprint, stable_split)
    composed lazily into TWO shuffles total (the final group-by +
    count-distinct) — filters and projections all pipeline into the scan."""
    from .operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    scored = X.add_quality_score(docs, "text")
    scored = X.add_token_stats(scored, "text")
    scored = X.add_fingerprint(scored, "text")
    kept = scored.filter(F.col("quality") >= 0.5)
    split = SA.stable_split(kept, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("fingerprint").alias("n_unique"),
    )


def _ffd_packing_oracle(budget: int = 128, n_groups: int = 16) -> str:
    """First-fit-decreasing re-run from scratch in DuckDB: a recursive CTE
    walks each group's documents in (tokens DESC, id) order carrying two
    list columns of per-bin state (remaining capacity, token total) —
    first-fit is list_position over a lambda, the update rebuilds the list
    with a positional list_transform over list_zip (NEVER a slice with a
    computed bound: DuckDB 1.0's recursive-CTE executor re-expands computed
    slice bounds exponentially in the iteration count). ``list_position``
    not-found is normalized with NULLIF(…, 0) — 1.0 returns 0, later
    versions NULL. Recursion depth = largest group's doc count. Groups use
    the md5-60-bit hash of the id string (same on both engines); xxhash64
    grouping stays the in-engine fast path."""
    return f"""
    WITH RECURSIVE
    docs0 AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n,
               ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT
                 % {n_groups})::INT) AS g
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n, g,
               row_number() OVER (PARTITION BY g ORDER BY n DESC, doc_id) AS rk
        FROM docs0
    ),
    gcounts AS (SELECT g, count(*) AS cnt FROM ranked GROUP BY g),
    pack(g, step, caps, toks) AS (
        SELECT g, 0::BIGINT, []::BIGINT[], []::BIGINT[] FROM gcounts
        UNION ALL
        SELECT g, step + 1,
               CASE WHEN n >= {budget} THEN list_append(caps, 0::BIGINT)
                    WHEN idx IS NULL THEN list_append(caps, {budget}::BIGINT - n)
                    ELSE list_transform(list_zip(caps, range(1, len(caps) + 1)),
                                        z -> CASE WHEN z[2] = idx THEN z[1] - n
                                             ELSE z[1] END)
               END,
               CASE WHEN n >= {budget} OR idx IS NULL THEN list_append(toks, n)
                    ELSE list_transform(list_zip(toks, range(1, len(toks) + 1)),
                                        z -> CASE WHEN z[2] = idx THEN z[1] + n
                                             ELSE z[1] END)
               END
        FROM (
            SELECT p.g, p.step, p.caps, p.toks, r.n,
                   CASE WHEN r.n < {budget}
                        THEN NULLIF(list_position(
                                 list_transform(p.caps, c -> c >= r.n), true), 0)
                   END AS idx
            FROM pack p
            JOIN ranked r ON r.g = p.g AND r.rk = p.step + 1
        )
    ),
    final AS (
        SELECT p.g, p.toks FROM pack p JOIN gcounts c ON p.g = c.g AND p.step = c.cnt
    ),
    windows AS (SELECT g, unnest(toks) AS wtoks FROM final)
    SELECT w.g AS pack_group,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(any_value(c.cnt) AS BIGINT) AS n_docs,
           round(avg(least(wtoks, {budget})::DOUBLE / {budget}::DOUBLE), 4) AS mean_fill
    FROM windows w JOIN gcounts c ON w.g = c.g
    GROUP BY w.g
    """


@query("sequence_packing", oracle=_ffd_packing_oracle(budget=128, n_groups=16))
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents first-fit-decreasing into
    128-token windows inside deterministic hash groups (Arrow-batched
    applyInPandas; parallelism = groups, packing state never leaves the
    task). Grouping here uses the engine-portable md5-60-bit id hash so
    the ENTIRE packing — group assignment, FFD bin walk, per-group fill
    accounting — hash-matches an independent FFD re-run as a DuckDB
    recursive CTE. Invariants (every doc packed exactly once, no window
    over budget, fill floor) are additionally pytest-enforced."""
    from .operators import packing as P

    docs = load_table(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", F.size(X.tokens("text")).alias("n_tokens")
    )
    packed = P.pack_sequences(
        with_counts, "doc_id", "n_tokens", budget=128, n_groups=16,
        group_hash=lambda c: X.md5_hash60(c.cast("string")),
    )
    return P.packing_stats(packed, budget=128).orderBy("pack_group")


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE s AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 3, 0) + 2),
                   i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\\s+'), i, i + 2), ' ')
                 )
               ) AS toks
        FROM documents
    ),
    -- MATERIALIZED is load-bearing: DuckDB 1.0 inlines CTEs, so the
    -- recursive reach step would otherwise recompute the QUADRATIC pairs
    -- scan on every iteration round (~12 min/round at sf0.1)
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1) >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT a AS node, a AS label FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (
        SELECT node, CAST(min(label) AS BIGINT) AS cluster_id FROM reach GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scale-path dedup pipeline in one query: banded MinHash
    generates candidate pairs (cost ~ colliding pairs, not |docs|²),
    exact 3-shingle Jaccard >= 0.5 verifies them, and DataFrame-native
    min-label propagation (operators/graph.py) folds the transitive
    pairs into duplicate clusters (A≈B, B≈C ⇒ one group of three).

    The edge set is exactly `minhash_near_dup`'s (3-word shingles,
    Jaccard >= 0.5, 32 perms / 8 bands — full banded recall on this
    data, hash-verified against the quadratic ground truth), so the
    verified edges EQUAL the all-pairs edge set the oracle's recursive
    reachability CTE walks.

    r5 change: the edge generator was exact lang-blocked all-pairs
    UNIGRAM Jaccard — doubly wrong at scale: the 2k-doc 'en' block
    became ONE ~2M-comparison task (blocked quadratic ≠ scalable when a
    block is 40% of the corpus; 53 s of 54 s bench time at sf0.1), and
    template-generated docs share near-identical unigram VOCABULARIES,
    so ~30% of all pairs counted as "duplicates" (758 k edges at
    sf0.1) — vocabulary overlap, not duplication. Shingle Jaccard is
    the metric that actually detects copied text, and banded MinHash
    generates its candidates at ~colliding-pair cost."""
    from .operators.graph import dedup_clusters as clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup(docs, "text", "doc_id", threshold=0.5,
                               num_perm=32, bands=8, shingle_n=3)
    return clusters(pairs, "id_a", "id_b")


@query(
    "dedup_keep_best",
    oracle="""
    WITH RECURSIVE s AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(
                 list_transform(
                   range(1, greatest(len(string_split_regex(trim(lower(text)), '\\s+')) - 3, 0) + 2),
                   i -> array_to_string(list_slice(string_split_regex(trim(lower(text)), '\\s+'), i, i + 2), ' ')
                 )
               ) AS toks
        FROM documents
    ),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / greatest(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)), 1) >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
        SELECT a AS node, a AS label FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (
        SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rk,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_chars AS BIGINT) AS kept_n_chars
    FROM ranked WHERE rk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the step after near-dup clustering in
    every training-data pipeline: within each duplicate cluster keep ONE
    document, the highest-quality one (longest text, doc_id tiebreak), drop
    the rest. Composition of existing scale paths: banded MinHash candidate
    pairs → exact shingle-Jaccard verify → min-label connected components →
    per-cluster top-1 window (one shuffle on cluster_id, cluster-bounded
    sort). Emits one row per duplicate cluster with the kept doc."""
    from .operators.graph import dedup_clusters as clusters
    from .operators.relational import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup(docs, "text", "doc_id", threshold=0.5,
                               num_perm=32, bands=8, shingle_n=3)
    comp = clusters(pairs, "id_a", "id_b")
    scored = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    kept = top_k_per_group(scored, "cluster_id", "n_chars", k=1,
                           tie_breaker="doc_id")
    return kept.select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("n_chars").cast("long").alias("kept_n_chars"),
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               127.0::DOUBLE / greatest(list_max(list_transform(v, x -> abs(x))),
                                        1e-30) AS scale
        FROM e
    )
    SELECT vec_id, round(scale, 6) AS scale,
           to_json(list_transform(v, x -> CAST(round(x * scale) AS INTEGER))) AS q_json
    FROM s
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = 127/max|x|): 4× vector
    compression for the ANN index path, as a pure no-shuffle projection.
    Quantized array emitted as JSON (the driver canonicalizer needs hashable
    cells); the double-cast-first discipline makes every float op identical
    IEEE-754 on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb, "embedding", "scale", "q")
    return q.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        F.to_json("q").alias("q_json"),
    )


@query(
    "decontaminate",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, greatest(len(toks) - 5, 0) + 2),
                   i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS sh
        FROM t
    ), bench AS (
        SELECT list_distinct(flatten(list(sh))) AS bsh FROM sh WHERE source = 'src0'
    )
    SELECT s.doc_id,
           CAST(len(list_intersect(s.sh, b.bsh)) AS BIGINT) AS n_overlap,
           len(list_intersect(s.sh, b.bsh)) > 0 AS contaminated
    FROM sh s CROSS JOIN bench b
    WHERE s.source <> 'src0'
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the op every LLM training pipeline runs
    before anything else): docs from source 'src0' act as the held-out
    eval set; every other doc is flagged by its 5-gram overlap with it.
    The benchmark shingle set is distinct-aggregated and broadcast — the
    corpus explodes to (doc, shingle-hash) and semi-joins map-side, so
    nothing corpus-sized ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    cands = docs.filter(F.col("source") != "src0")
    return X.contamination_flags(cands, bench, "text", "doc_id", n=5)


@query(
    "gopher_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 2),
                      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
        FROM t
    ), cnts AS (
        SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2
    ), mx AS (
        SELECT doc_id, max(c) AS top_cnt FROM cnts GROUP BY 1
    ), st AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               list_sum(list_transform(toks, x -> len(x))) AS char_sum,
               len(list_filter(toks, x -> x IN ('a', 'the'))) AS n_stop
        FROM t
    )
    SELECT st.doc_id,
           CAST(st.n_tokens AS INTEGER) AS n_tokens,
           round(n_distinct::DOUBLE / greatest(n_tokens, 1), 6) AS distinct_ratio,
           round(top_cnt::DOUBLE / greatest(n_tokens - 1, 1), 6) AS top_bigram_frac,
           round(char_sum::DOUBLE / greatest(n_tokens, 1), 6) AS mean_word_len,
           round(n_stop::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_frac,
           (n_distinct::DOUBLE / greatest(n_tokens, 1) >= 0.3
            AND top_cnt::DOUBLE / greatest(n_tokens - 1, 1) <= 0.15) AS passes
    FROM st JOIN mx ON st.doc_id = mx.doc_id
    """,
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware quality rules in the Gopher/C4 style: token
    diversity (distinct ratio), dominant-bigram repetition fraction, mean
    word length, stopword fraction, and a composite pass flag. The
    dominant-bigram mode runs as explode → count per (doc, bigram-HASH) →
    max — the shuffle carries 16-byte keys, not bigram strings, and both
    aggregations combine map-side. Everything else is a pure projection."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    st = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.aggregate(F.transform(toks, lambda t: F.length(t)),
                    F.lit(0), lambda acc, x: acc + x).alias("char_sum"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the"))).alias("n_stop"),
    )
    bg = docs.select(
        "doc_id", F.explode(X.ngram_list("text", 2)).alias("bg")
    ).select("doc_id", F.xxhash64("bg").alias("bgh"))
    mx = (
        bg.groupBy("doc_id", "bgh").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("top_cnt"))
    )
    n_tok = F.col("n_tokens")
    distinct_ratio = F.col("n_distinct") / F.greatest(n_tok, F.lit(1))
    top_frac = F.col("top_cnt") / F.greatest(n_tok - 1, F.lit(1))
    return st.join(mx, "doc_id").select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(F.col("char_sum") / F.greatest(n_tok, F.lit(1)), 6).alias("mean_word_len"),
        F.round(F.col("n_stop") / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_frac"),
        ((distinct_ratio >= 0.3) & (top_frac <= 0.15)).alias("passes"),
    )


@query(
    "vocab_topk",
    oracle="""
    WITH tk AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ), c AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY tok
    ), r AS (
        SELECT tok, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS rank
        FROM c
    )
    SELECT tok, cnt, rank FROM r WHERE rank <= 50
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency with a deterministic
    rank (count desc, token asc). explode → count combines map-side (the
    shuffle carries one (token, partial-count) row per distinct token per
    partition); the top-50 slice is TakeOrderedAndProject (per-partition
    top-k + driver merge — a 100 TB corpus vocab, billions of typo/number
    tokens, never sees a vocab-wide sort or single-partition window,
    VERDICT r6 #1), and the rank comes from a window-free 50-row broadcast
    self-join: ranks within the top-50 equal global ranks because every
    excluded token sorts strictly after all of them."""
    from .operators.relational import small_frame_ranks

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        counts.orderBy(F.desc("cnt"), F.col("tok")).limit(50)
        .localCheckpoint(eager=True)  # 50 rows; rank self-join reads it twice
    )
    return small_frame_ranks(
        top, [("cnt", "desc"), ("tok", "asc")], row_number_col="rank"
    ).select("tok", "cnt", "rank")


@query(
    "stratified_fixed_k",
    oracle="""
    WITH b AS (
        SELECT event_id, event_type,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(('0x' || substr(md5(event_id || ':5'), 1, 8)) AS BIGINT),
                            event_id) AS rn
        FROM events
    )
    SELECT event_id, event_type FROM b WHERE rn <= 50
    """,
)
def stratified_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 events per event_type, chosen by content hash — the
    deterministic eval-subset draw (same 50 on every engine/run). One
    shuffle on the stratum; the md5-bucket order is the cross-engine
    contract."""
    from .operators import sampling as SA

    ev = load_table(spark, sf_dir, "events")
    return SA.stratified_fixed_k(ev, "event_type", "event_id", k=50, seed=5).select(
        "event_id", "event_type"
    )


@query(
    "chunk_documents",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, greatest(CAST(ceil((len(toks) - 64) / 32.0) AS BIGINT), 0) + 1),
                   i -> struct_pack(
                       chunk_idx := i,
                       chunk_text := array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 64), ' '),
                       n_tokens := least(len(toks) - i * 32, 64)))) AS ch
        FROM t
    )
    SELECT doc_id,
           CAST(ch.chunk_idx AS INTEGER) AS chunk_idx,
           ch.chunk_text,
           CAST(ch.n_tokens AS INTEGER) AS n_tokens
    FROM c
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token chunks, stride 32 → 50% overlap):
    every document explodes into deterministic train-example windows as a
    pure sequence/slice projection — no UDF, no shuffle, linear at 100 TB.
    The companion to sequence_packing (chunk long docs down, pack short
    ones up)."""
    from .operators.packing import chunk_documents as chunker

    docs = load_table(spark, sf_dir, "documents")
    return chunker(docs, "text", "doc_id", chunk_tokens=64, stride=32)


@query("ann_recall_report")  # measures approx-vs-exact inside Spark → rows-only
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of both ANN paths against the exact brute-force answer on
    the SAME queries — the self-measuring companion to ann_lsh_topk /
    ann_ivf_topk (approximate operators should ship with their accuracy
    number, not just their speed). Seeded LSH planes / k-means cells and
    tie-broken rankings make the report deterministic. One row per
    method: (method, k, n_queries, recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5

    exact = S.cosine_topk(queries, emb, "vec_id", "embedding", k=k)
    truth = exact.select("query_id", F.col("neighbor_id").alias("true_id"))

    lsh = S.lsh_topk(queries, emb, "vec_id", "embedding", k=k)
    ivf = S.ivf_topk(queries, emb, "vec_id", "embedding", k=k, n_cells=8, n_probe=3)

    n_q = queries.count()
    rows = []
    for method, approx in (("lsh", lsh), ("ivf", ivf)):
        hit_count = (
            truth.join(
                approx.withColumnRenamed("query_id", "q2"),
                (F.col("query_id") == F.col("q2"))
                & (F.col("true_id") == F.col("neighbor_id")),
                "inner",
            ).count()
        )
        rows.append((method, k, n_q, round(hit_count / (k * n_q), 4)))
    return spark.createDataFrame(rows, "method string, k int, n_queries long, recall double")


@query("simhash_xxhash64_near_dup")  # xxhash64 is JVM-only → rows-only check
def simhash_xxhash64_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) near-dup pairs on the fast JVM-native xxhash64 token
    hash (4×16-bit bands, pigeonhole recall for Hamming < 4) — the
    production-speed twin of `simhash_near_dup` (~2× cheaper hashing).
    xxhash64 isn't reproducible in DuckDB, so this entry is rows-only;
    the md5-portable form carries the hash-matched oracle, and
    `simhash_family_equivalence` (queries_round7.py) hash-pins the shared
    machinery — signature build, banding, pigeonhole recall, Hamming
    verify — by proving both families produce the identical pair set on a
    DuckDB-predictable equivalence corpus. Banded-blocking invariants are
    additionally pinned in tests/test_text_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup(docs, "text", "doc_id", max_hamming=3, bands=4)
