"""Round-9 query surface (VERDICT r8 items #3/#7/#8).

- ``bpe_train_batched_merges`` — the REAL-VOCAB trainer
  (``text.bpe_train_batched``): up to ``batch_size`` pairwise-disjoint
  merges learned per corpus pass. DuckDB unrolls the SAME two rounds —
  each round's greedy skip-overlap selection is equivalently "iterated
  argmax over pairs disjoint from the accepted set", which unrolls into
  one argmax CTE per batch slot — so the hash pins the per-round counts,
  the disjointness rule, the tie-break, and the batched corpus rewrite.
- ``bpe_encode_large_vocab`` — ``bpe_apply``'s constant-plan-depth
  broadcast-fold path (> ``max_chain`` merges): an 80-entry merge table
  exercises the ``F.aggregate`` fold; DuckDB replays the identical
  replace sequence via ``list_reduce`` over the same table.
- ``training_pipeline_e2e`` — the full LLM-data chain (quality filter →
  exact dedup → decontaminate → stable split → BPE tokenize →
  token accounting) as ONE oracle-checked composite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .registry import query


def _sql_sym(sym: str) -> str:
    """SQL literal for a merge symbol (PUA chars via chr())."""
    parts = [
        f"chr({ord(ch)})" if ord(ch) >= 0xE000 else f"'{ch}'" for ch in sym
    ]
    return " || ".join(parts)


_BB_BATCH = 4  # batch slots per round in the oracle entry (2 rounds x 4)


def _bpe_batched_round_sql(r: int) -> str:
    """CTE block for one batched-BPE round: count pairs of corpus state
    c{r}, then greedy skip-overlap selection unrolled as _BB_BATCH argmax
    CTEs (slot k = argmax over pairs sharing no symbol with slots 0..k-1
    — equivalent to scanning the ranked list and skipping overlaps), then
    the combined rewrite to c{r+1}."""
    base = r * _BB_BATCH
    # MATERIALIZED: each p{r}/s{r}_{k} is referenced by several later CTEs
    # and scalar subqueries; without the hint DuckDB inlines per reference
    # and the round-2 chain re-executes round 1 combinatorially.
    blocks = [
        f"""
    p{r} AS MATERIALIZED (
        SELECT substring(s, CAST(i AS INT), 2) AS pair, count(*) AS c
        FROM c{r}, LATERAL (SELECT unnest(range(1, length(s))) AS i)
        WHERE NOT contains(substring(s, CAST(i AS INT), 2), ' ')
        GROUP BY 1 HAVING count(*) >= 2
    )"""
    ]
    for k in range(_BB_BATCH):
        disjoint = " AND ".join(
            f"""NOT contains(pair, substring((SELECT pair FROM s{r}_{j}), 1, 1))
             AND NOT contains(pair, substring((SELECT pair FROM s{r}_{j}), 2, 1))"""
            for j in range(k)
        )
        where = f"WHERE {disjoint}" if disjoint else ""
        blocks.append(
            f"""
    s{r}_{k} AS MATERIALIZED (
        SELECT pair, c, {base + k} AS step FROM p{r} {where}
        ORDER BY c DESC, pair ASC LIMIT 1
    )"""
        )
    rewrite = "s"
    for k in range(_BB_BATCH):
        rewrite = (
            f"replace({rewrite}, (SELECT pair FROM s{r}_{k}), "
            f"chr({0xE100 + base + k}))"
        )
    blocks.append(f"""
    c{r + 1} AS MATERIALIZED (SELECT {rewrite} AS s FROM c{r})""")
    return ",".join(blocks)


@query(
    "bpe_train_batched_merges",
    oracle=f"""
    WITH c0 AS (SELECT text AS s FROM documents WHERE length(text) > 1),
    {",".join(_bpe_batched_round_sql(r) for r in range(2))}
    SELECT step, pair, CAST(c AS BIGINT) AS pair_count,
           {0xE100} + step AS new_cp
    FROM (
        {" UNION ALL ".join(f"SELECT * FROM s{r}_{k}" for r in range(2) for k in range(_BB_BATCH))}
    ) ORDER BY step
    """,
)
def bpe_train_batched_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-VOCAB BPE training (``text.bpe_train_batched``, 8 merges in 2
    corpus passes, batch_size=4): each round counts pairs ONCE, collects
    only the top candidate rows, and greedily accepts pairwise
    symbol-disjoint pairs — disjointness keeps every accepted count exact
    and lets all four replaces ride one projection, so a 50k vocabulary
    costs ~vocab/batch rounds instead of one round per merge. DuckDB
    unrolls both rounds with the selection expressed as iterated
    disjoint-argmax (provably the same pairs as the skip-scan) and the
    hash pins counts, tie-breaks, disjointness, and the rewritten corpus
    feeding round 2."""
    from .operators.text import bpe_train_batched

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_batched(docs, n_merges=2 * _BB_BATCH, batch_size=_BB_BATCH)
    return spark.createDataFrame(
        [(s, p, c, ord(o)) for s, p, c, o in merges],
        "step int, pair string, pair_count long, new_cp int",
    )


# 80-entry merge table (> bpe_apply's max_chain=64) — exercises the
# broadcast-fold path. First the 10 realistic DEFAULT merges (chained PUA
# sources included), then 70 generated two-letter pairs with fresh PUA
# outputs; fast-path valid by construction.
def _large_vocab_merges() -> "list[tuple[str, str, str]]":
    from .operators.text import DEFAULT_BPE_MERGES

    merges = list(DEFAULT_BPE_MERGES)
    pairs = [
        (a, b)
        for a in "abcdefghij"
        for b in "lmnopqrs"
    ][:70]
    for i, (a, b) in enumerate(pairs):
        merges.append((a, b, chr(0xE800 + i)))
    return merges


_B32 = 1 << 32
_T_TRAIN = int(0.8 * _B32)          # stable_split's cumulative thresholds
_T_VAL = int((0.8 + 0.1) * _B32)    # (same float accumulation as the operator)

# 5-gram shingle list for the contamination stage (DuckDB side), same
# construction as the standalone `decontaminate` oracle
_SH5 = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 5, 0) + 2), "
    "i -> array_to_string(list_slice(toks, i, i + 4), ' ')))"
)


def _e2e_oracle() -> str:
    from .queries_round8 import _bpe_replace_chain_sql

    return f"""
    WITH raw AS (SELECT doc_id, source, text FROM documents),
    q AS MATERIALIZED (
        SELECT doc_id, source, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM raw
    ),
    quality AS MATERIALIZED (
        SELECT doc_id, source, text FROM q
        WHERE len(toks) >= 20
          AND len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) >= 0.3
    ),
    dedup AS MATERIALIZED (
        SELECT doc_id, source, text FROM quality
        WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY text)
    ),
    dsh AS (
        SELECT doc_id, {_SH5} AS sh
        FROM q
        WHERE doc_id IN (SELECT doc_id FROM dedup WHERE source <> 'src0')
    ),
    bench AS MATERIALIZED (
        SELECT list_distinct(flatten(list(sh))) AS bsh
        FROM (SELECT {_SH5} AS sh FROM q WHERE source = 'src0')
    ),
    clean AS MATERIALIZED (
        SELECT d.doc_id, dd.text
        FROM dsh d CROSS JOIN bench b
        JOIN dedup dd ON dd.doc_id = d.doc_id
        WHERE len(list_intersect(d.sh, b.bsh)) = 0
    ),
    split_ AS (
        SELECT CASE
            WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
                 < {_T_TRAIN} THEN 'train'
            WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
                 < {_T_VAL} THEN 'val'
            ELSE 'test' END AS split,
            length(text) AS n_chars,
            length({_bpe_replace_chain_sql()}) AS n_tok
        FROM clean
    ),
    stage AS (
        SELECT (SELECT count(*) FROM raw) AS n_raw,
               (SELECT count(*) FROM quality) AS n_quality,
               (SELECT count(*) FROM dedup) AS n_dedup,
               (SELECT count(*) FROM clean) AS n_clean
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(n_tok) / 1024.0) AS BIGINT) AS packed_bins_1k,
           round(sum(n_chars)::DOUBLE / sum(n_tok), 6) AS chars_per_token,
           CAST(n_raw AS BIGINT) AS n_raw,
           CAST(n_quality AS BIGINT) AS n_quality,
           CAST(n_dedup AS BIGINT) AS n_dedup,
           CAST(n_clean AS BIGINT) AS n_clean
    FROM split_, stage
    GROUP BY split, n_raw, n_quality, n_dedup, n_clean
    """


@query("training_pipeline_e2e", oracle=_e2e_oracle())
def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END LLM training-data pipeline as ONE oracle-checked
    composite — every stage is an existing first-class operator, chained
    the way a production corpus build runs them:

    quality gate (≥20 tokens, ≥0.3 distinct ratio — the Gopher-style
    rules) → exact dedup (min-id survivor per text) → benchmark
    decontamination (drop any doc sharing a 5-gram with the 'src0'
    held-out set; benchmark-source docs are excluded from training
    entirely) → deterministic train/val/test split
    (``sampling.stable_split`` 0.8/0.1/0.1, md5 key buckets) → BPE
    tokenization (``text.bpe_apply``) → per-split packed-token
    accounting (total tokens, GPT-style concatenate-and-chunk bin count
    at budget 1024, chars/token) plus the stage-by-stage funnel counts.

    Scale shape: every stage is linear — the quality gate and split are
    pure projections, dedup shuffles doc-keyed aggregates once, the
    benchmark shingle set broadcasts (eval sets are MBs), tokenization
    rides the scan, and the accounting is a 3-row groupBy. DuckDB
    replays the ENTIRE chain in closed form; the hash pins every stage
    boundary (a doc wrongly dropped/kept at any stage shifts a split's
    token totals)."""
    from .operators.dedup import dedup_exact
    from .operators.sampling import stable_split
    from .operators.text import (
        DEFAULT_BPE_MERGES,
        bpe_apply,
        contamination_flags,
        tokens,
    )

    # NO input spread here (round 14, VERDICT r13 #1): every stage of this
    # pipeline is JVM-codegen work (tokenization filters, md5 fingerprints,
    # shingle hashes, the replace-chain BPE apply) — the r13 full-text
    # shuffle regressed the query 0.67× on the driver and on the clean
    # artifacts (1.54→1.80 s). The five aggregate/join shuffles downstream
    # already distribute the heavy halves; at deployment scale the scan
    # arrives in thousands of splits anyway.
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    quality = docs.filter(
        (F.size(toks) >= 20)
        & (
            (F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)))
            >= 0.3
        )
    )
    survivors = quality.join(
        dedup_exact(quality).select(F.col("keep_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    bench = docs.filter(F.col("source") == "src0")
    cands = survivors.filter(F.col("source") != "src0")
    flags = contamination_flags(cands, bench, "text", "doc_id", n=5)
    clean = cands.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    splits = stable_split(
        clean, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=0
    )
    enc = bpe_apply(splits, DEFAULT_BPE_MERGES)
    acct = enc.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("total_tokens"),
        F.ceil(F.sum("bpe_tokens") / F.lit(1024.0)).cast("long").alias("packed_bins_1k"),
        F.round(F.sum(F.length("text")) / F.sum("bpe_tokens"), 6).alias(
            "chars_per_token"
        ),
    )
    stage = (
        docs.agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .crossJoin(quality.agg(F.count(F.lit(1)).cast("long").alias("n_quality")))
        .crossJoin(survivors.agg(F.count(F.lit(1)).cast("long").alias("n_dedup")))
        .crossJoin(clean.agg(F.count(F.lit(1)).cast("long").alias("n_clean")))
    )
    return acct.crossJoin(F.broadcast(stage))


@query(
    "bpe_encode_large_vocab",
    oracle=f"""
    WITH mt AS (
        SELECT [{", ".join(f"{_sql_sym(l + r)} || chr(1) || {_sql_sym(o)}" for l, r, o in _large_vocab_merges())}] AS merges
    )
    SELECT doc_id,
           CAST(length(enc) AS INT) AS bpe_tokens,
           md5(enc) AS bpe_md5
    FROM (
        SELECT doc_id,
               list_reduce(
                   list_prepend(text, merges),
                   (acc, m) -> replace(acc, string_split(m, chr(1))[1], string_split(m, chr(1))[2])
               ) AS enc
        FROM documents, mt WHERE length(text) > 0
    )
    """,
)
def bpe_encode_large_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization with a LARGE merge table (80 entries — past
    ``max_chain``): ``text.bpe_apply`` switches from the nested codegen
    replace chain to the constant-plan-depth ``F.aggregate`` fold over a
    broadcast (src, out) array — the plan shape that survives 30–50k
    production vocabularies where a nested chain would overflow
    Catalyst's recursive tree transforms. DuckDB replays the identical
    fold with ``list_reduce`` over the same table (built from the same
    Python source of truth), so the hash pins path-equivalence: fold ≡
    rank-ordered sequential replace."""
    from .operators.text import bpe_apply

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    enc = bpe_apply(docs, _large_vocab_merges())
    return enc.select(
        "doc_id",
        F.col("bpe_tokens").cast("int").alias("bpe_tokens"),
        F.md5(F.col("bpe_text").cast("binary")).alias("bpe_md5"),
    )


@query(
    "bpe_encode_cached_docs",
    oracle=f"""
    WITH mt AS (
        SELECT [{", ".join(f"{_sql_sym(l + r)} || chr(1) || {_sql_sym(o)}" for l, r, o in _large_vocab_merges())}] AS merges
    )
    SELECT doc_id,
           CAST(length(enc) AS INT) AS bpe_tokens,
           md5(enc) AS bpe_md5
    FROM (
        SELECT doc_id,
               list_reduce(
                   list_prepend(text, merges),
                   (acc, m) -> replace(acc, string_split(m, chr(1))[1], string_split(m, chr(1))[2])
               ) AS enc
        FROM documents, mt WHERE length(text) > 0
    )
    """,
)
def bpe_encode_cached_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WORD-CACHED greedy encoder (``text.bpe_encode_cached``) on the
    same 80-entry table as ``bpe_encode_large_vocab``, hashed against the
    SAME ``list_reduce`` oracle — a three-way path-equivalence pin:
    replace chain ≡ broadcast fold ≡ word-factorized greedy with
    per-executor memoization. This is the apply path whose cost per
    document is ~O(doc_len) independent of vocabulary size (the fold is
    O(n_merges × doc_len)): split on spaces (sound because merges never
    bridge whitespace), greedy-merge each word lowest-rank-first, memo
    each distinct word's encoding — Zipf does the rest."""
    from .operators.text import bpe_encode_cached

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    enc = bpe_encode_cached(docs, _large_vocab_merges())
    return enc.select(
        "doc_id",
        F.col("bpe_tokens").cast("int").alias("bpe_tokens"),
        F.md5(F.col("bpe_text").cast("binary")).alias("bpe_md5"),
    )


@query(
    "hard_negative_mining",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM e q JOIN e c
          ON q.vec_id < 16 AND q.vec_id <> c.vec_id
         AND q.label IS DISTINCT FROM c.label
    )
    SELECT query_id, neighbor_id, sim, CAST(rnk AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (``similarity.cosine_topk`` with
    ``pos_col="label"``): per query embedding, the 5 most-similar vectors
    with a DIFFERENT class label — the near-miss negatives
    contrastive/triplet training needs (random negatives are too easy
    after the first epoch). Exact brute force with round-to-6 sims, so
    DuckDB recomputes every similarity, the label exclusion (IS DISTINCT
    FROM on both sides), and the ranking in closed form. Catalog-scale
    path: ANN over-fetch + positive filter, same contract."""
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 16), emb, k=5, pos_col="label"
    )


@query(
    "tokenizer_fertility",
    oracle=f"""
    WITH enc AS (
        SELECT source,
               length(text) AS n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_words,
               length(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(text, 't' || 'h', chr(57344)), chr(57344) || 'e', chr(57345)), 'i' || 'n', chr(57346)), 'a' || 'n', chr(57347)), 'e' || 'r', chr(57348)), 'o' || 'n', chr(57349)), 'r' || 'e', chr(57350)), chr(57347) || 'd', chr(57351)), 'o' || 'u', chr(57352)), 's' || 't', chr(57353))) AS n_tokens
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(n_tokens)::DOUBLE / sum(n_words), 6) AS fertility,
           round(sum(n_chars)::DOUBLE / sum(n_tokens), 6) AS chars_per_token,
           round(avg(n_tokens::DOUBLE / n_words), 6) AS mean_doc_fertility
    FROM enc GROUP BY source
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer QUALITY audit (fertility report) — the standard gate
    before committing to a vocabulary: per corpus slice (source), tokens
    per word (fertility — the number a tokenizer paper leads with),
    chars per token (compression), and the per-doc fertility mean.
    High-fertility slices flag domains the vocabulary serves badly
    (wrong language, code, boilerplate) BEFORE a training run prices
    them in. One projection + one partial-aggregating groupBy over
    (source) — rides the corpus scan at any scale. DuckDB replays the
    encode chain and every ratio in closed form."""
    from .operators.text import DEFAULT_BPE_MERGES, bpe_apply

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    enc = bpe_apply(docs, DEFAULT_BPE_MERGES)
    words = F.size(F.split(F.trim("text"), r"\s+"))
    per_doc = enc.select(
        "source",
        F.length("text").alias("n_chars"),
        words.alias("n_words"),
        F.col("bpe_tokens").alias("n_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("n_chars") / F.sum("n_tokens"), 6).alias("chars_per_token"),
        F.round(F.avg(F.col("n_tokens").cast("double") / F.col("n_words")), 6).alias(
            "mean_doc_fertility"
        ),
    )
