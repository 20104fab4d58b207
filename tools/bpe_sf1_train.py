"""Round-9 real-vocab trainer proof: bpe_train_batched at n_merges=256 on
sf1 documents — the VERDICT r8 #3 'bounded wall-clock' evidence run.

Observed: the sf1 corpus FULLY MERGES at 248 merges (every remaining
adjacent pair bridges a word boundary, which classic BPE never crosses) —
the trainer stops at the corpus fixed point, which this script verifies
explicitly. Wall-clock and round count prove the batched scaling; a
1,024-entry merge table (trained prefix + synthetic tail) proves the
constant-plan-depth fold encode/decode roundtrip at real-vocab size."""
import sys, time

sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from recommender_system_with_pyspark_spark.io import load_table
from recommender_system_with_pyspark_spark.operators.text import (
    _validate_bpe_fast_path,
    bpe_apply,
    bpe_decode,
    bpe_table,
    bpe_train_batched,
)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
print(f"docs: {docs.count()} rows at {sf_dir}", flush=True)

t0 = time.time()
seq3 = bpe_train_batched(docs, n_merges=3, batch_size=1)
t_seq3 = time.time() - t0
print(f"sequential 3 merges: {t_seq3:.1f}s  {[(p, c) for _, p, c, _ in seq3]}", flush=True)

t0 = time.time()
table = bpe_train_batched(docs, n_merges=256, batch_size=32)
t_batched = time.time() - t0
print(
    f"batched (batch=32): {len(table)} merges in {t_batched:.1f}s "
    f"(sequential extrapolation ~{t_seq3 / 3 * len(table):.0f}s)",
    flush=True,
)
assert table[0] == seq3[0], (table[0], seq3[0])  # round-1 argmax == sequential #1
triples = bpe_table(table)
assert _validate_bpe_fast_path(triples), "trained table must hit the fast path"

if len(table) < 256:
    # prove the early stop is the corpus fixed point: after applying the
    # learned table, NO word-internal pair occurs twice
    enc = bpe_apply(docs, triples)
    remaining = (
        enc.filter(F.length("bpe_text") > 1)
        .select(
            F.posexplode(F.sequence(F.lit(1), F.length("bpe_text") - 1)).alias("_p", "_i"),
            F.col("bpe_text").alias("_s"),
        )
        .select(F.col("_s").substr(F.col("_i"), F.lit(2)).alias("pair"))
        .filter(~F.col("pair").contains(" "))
        .groupBy("pair").count().filter(F.col("count") >= 2).count()
    )
    print(f"fixed point check: {remaining} repeated word-internal pairs remain", flush=True)
    assert remaining == 0, "trainer stopped early but corpus not exhausted"

# >=1k-merge roundtrip through the broadcast-fold path: trained prefix +
# synthetic fresh-output tail (fast-path valid; unseen pairs are no-ops for
# encode but still exercise the full fold depth both directions)
alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
tail = []
cp = 0xE400
for a in alpha:
    for b in alpha:
        if len(triples) + len(tail) >= 1024:
            break
        tail.append((a, b, chr(cp)))
        cp += 1
    if len(triples) + len(tail) >= 1024:
        break
big = triples + tail
assert len(big) >= 1024 and _validate_bpe_fast_path(big)
t0 = time.time()
enc = bpe_apply(docs, big)
dec = bpe_decode(enc, big)
bad = dec.filter(F.col("decoded_text") != F.col("text")).count()
stats = enc.agg(
    F.sum("bpe_tokens").alias("tok"), F.sum(F.length("text")).alias("chars")
).collect()[0]
print(
    f"{len(big)}-merge fold encode+decode roundtrip: {time.time()-t0:.1f}s, "
    f"mismatches={bad}, chars/token={stats['chars']/stats['tok']:.3f}",
    flush=True,
)
assert bad == 0
print("ALL OK", flush=True)
