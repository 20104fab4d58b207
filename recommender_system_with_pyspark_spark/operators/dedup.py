"""Deduplication operators (north-star extension; SURVEY §7 M5).

Five dedup strategies, each with its 100 TB story:

- exact:          hash-groupBy on a canonical fingerprint — one shuffle on
                  the 128-bit key, near-perfectly balanced.
- n-gram Jaccard: exact pairwise similarity inside blocking groups —
                  quadratic within a block, so only usable with a good
                  blocking key; the oracle-testable ground truth for the
                  approximate methods.
- MinHash LSH:    shingles → MinHash signatures → banded bucket join
                  (native expressions) — the scale path: candidate pairs
                  only, cost ~ |near-duplicates|, not |pairs|.
- SimHash:        64-bit signature + banded blocking on 16-bit sub-keys —
                  one cheap signature pass, Hamming filter on candidates.
- embedding:      cosine near-dup over an embedding column — see
                  operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import spread_small_input
from .text import add_fingerprint, hamming64, shingle_hashes, simhash_signatures, tokens, word_shingles


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    canonicalize: bool = False,
) -> DataFrame:
    """Exact dedup: keep the min-id representative per (canonical) text.

    Returns (keep_id, dupes). One hash aggregate; with ``canonicalize`` the
    group key is the md5 fingerprint (constant-width shuffle key — at 100 TB
    never shuffle raw document bodies, shuffle their hashes)."""
    if canonicalize:
        keyed = add_fingerprint(df, text_col, "_key")
    else:
        keyed = df.withColumn("_key", F.col(text_col))
    return keyed.groupBy("_key").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dupes"),
    ).drop("_key")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | list[str] | None = None,
    threshold: float = 0.5,
    shingle_n: int = 1,
) -> DataFrame:
    """Exact token/shingle-set Jaccard over candidate pairs.

    Pairs are generated within ``block_col`` groups (blocking keeps the
    quadratic blowup bounded — at scale use MinHash LSH to *generate* the
    candidates and this operator only to *verify* them). ``block_col`` may
    be a list — a composite key like (lang, length-bucket) keeps block
    cardinality bounded even when one key alone is near-degenerate (at
    100 TB a single language block is ~the whole corpus; language x
    32-token length bucket is not). Jaccard is a ratio of integer set
    sizes — exactly deterministic, oracle-friendly.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    blocks = [block_col] if isinstance(block_col, str) else list(block_col or [])
    sets = (word_shingles(text_col, shingle_n) if shingle_n > 1
            else F.array_distinct(tokens(text_col)))
    base = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"_blk{i}") for i, c in enumerate(blocks)],
        sets.alias("_set"),
    )
    a = base.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"_blk{i}").alias(f"_blk{i}_a") for i in range(len(blocks))],
        F.col("_set").alias("_set_a"),
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"_blk{i}").alias(f"_blk{i}_b") for i in range(len(blocks))],
        F.col("_set").alias("_set_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for i in range(len(blocks)):
        cond = cond & (F.col(f"_blk{i}_a") == F.col(f"_blk{i}_b"))
    inter = F.size(F.array_intersect("_set_a", "_set_b"))
    union = F.size("_set_a") + F.size("_set_b") - inter
    return (
        a.join(b, cond)
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Native MinHash-LSH near-duplicate pairs — the 100 TB dedup path,
    implemented entirely with codegen expressions (no MLlib VectorUDT):

      1. signature: per permutation i, min(xxhash64(shingle, i)) — one
         projection, embarrassingly parallel;
      2. banding: signature split into ``bands`` sub-signatures; two docs
         with Jaccard j collide on ≥1 band with prob 1-(1-j^r)^b (r rows
         per band) — candidates come from an equi-join on (band, sub-sig),
         cost ~ colliding pairs, not |docs|²;
      3. verify: exact shingle-set Jaccard on the candidates only.

    Measured ~4× faster than MLlib's MinHashLSH route on the same data
    with identical semantics.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    rows_per_band = num_perm // bands
    # Hashed shingles: the whole pipeline (signature, banding, verify)
    # operates on 64-bit shingle hashes — smaller explode rows (8-byte
    # longs, not shingle strings), faster array_intersect in verify, same
    # Jaccard modulo 64-bit collisions. Historical note: an earlier
    # hashed variant measured 3× SLOWER because Catalyst re-tokenized per
    # element_at; text._bind (lambda-variable binding) fixed that and
    # flipped the result to ~30% faster than string shingles.
    sets = (shingle_hashes(text_col, shingle_n) if shingle_n > 1
            else F.array_distinct(F.transform(tokens(text_col), lambda t: F.xxhash64(t))))
    base = df.select(F.col(id_col).alias("_id"), sets.alias("_sh")).filter(
        F.size("_sh") > 0
    )
    # Spread ONLY the signature branch, and only from near-single-split
    # inputs (min_fraction=0.25): it is consumed once and carries the
    # heavy per-row work (explode + num_perm hashes per shingle), so a
    # single-split scan would run it on one core — but the verify joins
    # below must NOT inherit a spread (`base` backs multiple plan
    # branches with different column pruning, so a spread there
    # re-executes its shuffle once per branch), and a JVM-codegen stage
    # that already has a quarter of the session's parallelism loses more
    # to the corpus-text shuffle than idle cores return (measured at
    # sf1, 8-split scan on 32 cores: 2.13 → 2.87 s).
    sig_base = spread_small_input(df, id_col, min_fraction=0.25).select(
        F.col(id_col).alias("_id"), sets.alias("_sh")
    ).filter(F.size("_sh") > 0)
    # explode→hash→min-aggregate: the shingle expression is evaluated ONCE
    # per row (a projection-collapse of per-permutation array_min folds
    # would re-derive the shingle array num_perm times); the min-aggregate
    # combines map-side, so the shuffle carries num_perm longs per doc.
    exploded = sig_base.select("_id", F.explode("_sh").alias("_s"))
    sig = exploded.groupBy("_id").agg(
        *[F.min(F.xxhash64("_s", F.lit(i))).alias(f"_m{i}") for i in range(num_perm)]
    )  # _s is already a long — each permutation is one 8-byte hash
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"_m{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sh_a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    sh_b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    max_distance: int = 3,
    block_fn=None,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs over the DISTINCT value
    space, within blocks — the entity-resolution path for short strings
    (names, titles, SKUs) where token-set Jaccard is too coarse.

    Dedup-first matters at scale: a 100 TB fact table has millions of
    distinct entity names, not billions — `distinct()` is one shuffle of
    the name column, and the quadratic blocked join then runs on the
    value space. ``block_fn`` (default: first whitespace token) bounds each
    block; edits in the blocking token escape the block — standard
    multi-pass blocking (re-run with a second key, union) recovers them.

    Returns (val_a, val_b, distance) with val_a < val_b,
    distance <= max_distance.
    """
    if block_fn is None:
        block_fn = lambda c: F.split_part(c, F.lit(" "), F.lit(1))  # noqa: E731
    names = (
        df.select(F.col(text_col).alias("_v")).distinct()
        .withColumn("_blk", block_fn(F.col("_v")))
    )
    a = names.select(F.col("_v").alias("val_a"), "_blk")
    b = names.select(F.col("_v").alias("val_b"), "_blk")
    return (
        a.join(b, ["_blk"])
        .filter(F.col("val_a") < F.col("val_b"))
        .withColumn("distance", F.levenshtein("val_a", "val_b"))
        .filter(F.col("distance") <= max_distance)
        .select("val_a", "val_b", "distance")
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int | None = None,
    bands: int = 4,
    bits: int = 64,
    hash_expr=None,
) -> DataFrame:
    """SimHash near-duplicate pairs with banded blocking.

    64-bit signatures; split into ``bands`` (64/bands)-bit sub-keys — two
    docs within Hamming distance < bands must share at least one band
    (pigeonhole), so the equi-join on (band_index, band_value) generates all
    candidates for distance < bands without a cross join. Candidates are
    then filtered by true Hamming distance.

    ``max_hamming`` defaults to ``bands - 1``, the largest distance with
    FULL recall under the pigeonhole guarantee. Passing a larger value is
    allowed but explicitly lossy: pairs at distance in [bands, max_hamming]
    are found only if they happen to share a band — raise ``bands`` (finer
    sub-keys → more candidates) to extend guaranteed recall instead.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming is None:
        max_hamming = bands - 1
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    # spread before the per-token signature projection — near-single-split
    # inputs only (min_fraction=0.25, JVM-codegen work; see minhash note)
    sigs = simhash_signatures(
        spread_small_input(df, id_col, min_fraction=0.25),
        text_col, id_col, "simhash", bits, hash_expr
    ).select(F.col(id_col).alias("_id"), "simhash")
    width = bits // bands
    banded = sigs.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_sa"), "band", "key")
    b = banded.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_sb"), "band", "key")
    cand = a.join(b, ["band", "key"]).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "_sa", "_sb"
    ).distinct()
    return (
        cand.withColumn("hamming", hamming64(F.col("_sa"), F.col("_sb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
