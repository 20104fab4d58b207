"""Does ``recommendForAllUsers``' blockSize change the emitted top-k?

blockSize batches the user x item factor GEMM inside recommendForAllUsers
(default 4096). Question: does changing it alter the emitted top-k (tie
order inside the per-user bounded priority queue), and does it buy time?
Method: ONE flagship model (``flagship.fit_flagship_als``, seed 1, the
package's block layout), ``ml.models.recommend_for_all_users(k)`` at
several block sizes, exact row-set comparison (scores compared RAW, not
rounded) plus wall-clock per setting. Read-only: no engine change. The
same row-set comparison checks that a change to the fit keeps the exact
recommendations.

Usage: SPARK_GRAFT_SF_DIR=/path/to/sf0.1 python tools/als_blocksize_r14.py
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from recommender_system_with_pyspark_spark.session import get_spark
from recommender_system_with_pyspark_spark.flagship import fit_flagship_als
from recommender_system_with_pyspark_spark.ml.models import recommend_for_all_users

spark = get_spark(app_name="als_blocksize")
model, id_maps = fit_flagship_als(spark, SF)

def recs_rows(bs, k=5):
    model.setBlockSize(bs)
    df = recommend_for_all_users(model, k, id_maps)
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    t = time.time() - t0
    rows = {(r["user_id"], r["rank"], r["item_id"], r["score"]) for r in df.collect()}
    return rows, t

base, tbase = recs_rows(4096)
print(f"blockSize=4096 (default): {tbase:.3f}s  rows={len(base)}")
for bs in (1024, 2048, 8192, 16384):
    rows, t = recs_rows(bs)
    same = rows == base
    print(f"blockSize={bs}: {t:.3f}s  identical_to_default={same}"
          + ("" if same else f"  DIFFERS ({len(rows ^ base)} sym-diff rows)"))

# fair re-measure after warmup: default again, then the candidates twice
for bs in (4096, 8192, 4096, 8192, 2048, 4096):
    rows, t = recs_rows(bs)
    print(f"warm blockSize={bs}: {t:.3f}s identical={rows == base}")
