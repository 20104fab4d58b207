"""The benchmark workloads, built only from the package's public calls.

Each workload has:
  setup(seed)     build or load the inputs and fill caches (run several times)
  teardown()      drop what setup cached
  warmup()        optional: untimed work after set-up, counted in setup_s
  calls()         the timed calls of one pass, as (name, fn) pairs
  traced_calls(tracer)  the same calls with a span per layer
  trace_extras()  per-layer values read after the traced pass
  check()         correctness gates after timing: {call name: problem}
  quality()       model quality and other facts for the run record
"""

from __future__ import annotations

import json
import math
import os
import random
from contextlib import contextmanager

from pyspark.sql import functions as F

import games
from recommender_system_with_pyspark_spark.domain import bgg, golden
from recommender_system_with_pyspark_spark.ml import models
from recommender_system_with_pyspark_spark.operators import relational
from recommender_system_with_pyspark_spark.testing import spark_result_hash

HERE = os.path.dirname(os.path.abspath(__file__))

# The paper's published test metrics for the ALS grid winner (rank 20,
# regParam 0.1), and the band the repo's golden tests allow around them.
# On the synthetic corpus ranks 20 and 30 are a near-tie, so the gate holds
# the grid to the winner's regParam.
REF_RMSE, REF_R2, BAND = 1.1024, 0.4225, 0.05
REF_REG_PARAM = 0.1

# Headline queries timed by query_suite, in the order of bench.HEADLINE:
# one per operator family (relational, pruning, window, cleaning,
# temporal, dedup, streaming), each with a deterministic result and no
# nested output columns. The full headline takes about a minute per warm
# pass on 4 cores, more than a run of this benchmark can spend.
QUERIES = [
    "pricing_summary", "prune_sparse", "topk_per_group", "iqr_outlier",
    "sessionize", "dedup_exact", "stream_tumbling_counts",
]
# The sf0.01 tables these queries read, and each query's (rows,
# order-independent content hash) on them as its DuckDB oracle gives it.
TESTDATA = os.path.join(HERE, "testdata")
with open(os.path.join(HERE, "expected_hashes.json")) as _fh:
    EXPECTED = {name: tuple(v) for name, v in json.load(_fh).items()}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


@contextmanager
def _switch_on_entry(tracer, targets, returned: dict):
    """While open, a call to ``module.attr`` first switches the tracer to
    ``span`` and stores its return value in ``returned[span]``. This puts
    span boundaries inside one package call (the package looks these names
    up at call time) without changing the package."""
    saved = [(module, attr, getattr(module, attr)) for module, attr, _ in targets]
    for (module, attr, fn), (_, _, span) in zip(saved, targets):
        def wrapper(*args, _fn=fn, _span=span, **kwargs):
            tracer.switch(_span)
            returned[_span] = _fn(*args, **kwargs)
            return returned[_span]
        setattr(module, attr, wrapper)
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)
        tracer.close()


class AlsGrid:
    """E2: ``bgg.als_workflow`` with the reference's TVS grid, top-10 for
    every user forced by one aggregate over its rows, scores and names
    (which also gives the gate its row counts without a second run).

    The corpus has the reference's popularity shape (72% of the ratings on
    a head of games, ``golden.REF_HEAD_FRAC``) and about 47 ratings per
    user. The game threshold is the reference's 1000 scaled by head-game
    ratings (about 4.5k in the reference), so the prune drops most tail
    games as ``als.py`` does. maxIter is 10 as in the golden grid test.

    The warm-up fits one model of the grid on a small corpus. It moves
    class loading and most JIT compilation out of the timed pass, which
    makes that pass steadier from run to run; a warm-up with the whole grid
    would steady it more but costs twice as long."""

    # (ratings, users, games, head games, min game ratings, min user ratings, maxIter)
    SIZES = {"full": (100_000, 1_800, 1_100, 150, 106, 10, 10),
             "tiny": (6_000, 150, 120, 30, 30, 5, 2)}
    WARMUP_SIZE = (5_000, 100, 60, 20, 10, 2, 10)

    def __init__(self, spark, scale: str):
        self.spark, self.scale = spark, scale
        self.size = self.SIZES[scale]
        self.input_rows = self.size[0]
        self.result = None
        self.returned = {}

    def _corpus(self, size, seed: int):
        n, users, items, head, *_ = size
        ratings, games_df = golden.synthetic_bgg_corpus(
            self.spark, n, users, items, head_frac=golden.REF_HEAD_FRAC, head_items=head,
            seed=seed,
        )
        ratings, games_df = ratings.cache(), games_df.cache()
        ratings.count()
        games_df.count()
        return ratings, games_df

    def setup(self, seed: int) -> None:
        self.ratings, self.games = self._corpus(self.size, seed)

    def warmup(self) -> None:
        ratings, games_df = self._corpus(self.WARMUP_SIZE, 0)
        self._workflow(ratings, games_df, self.WARMUP_SIZE, tune=False, ranks=(20,),
                       reg_params=(0.1,))
        ratings.unpersist()
        games_df.unpersist()

    def teardown(self) -> None:
        self.ratings.unpersist()
        self.games.unpersist()

    def _workflow(self, ratings, games_df, size, **grid):
        *_, min_game, min_user, max_iter = size
        recs, res = bgg.als_workflow(
            ratings, games_df, min_game_ratings=min_game, min_user_ratings=min_user,
            k=10, max_iter=max_iter, seed=1, **grid,
        )
        counts = recs.agg(F.count(F.lit(1)), F.count("Name"), F.sum("score")).first()
        return counts[0], counts[1], res

    def _run(self) -> None:
        self.result = self._workflow(self.ratings, self.games, self.size, tune=True,
                                     ranks=(20, 30), reg_params=(0.1, 0.01))

    def calls(self):
        return [("als_workflow", self._run)]

    def traced_calls(self, tracer):
        targets = [(relational, "prune_sparse_entities", "relational.prune"),
                   (models, "als_prediction", "models.als_fit"),
                   (models, "recommend_for_all_users", "models.recommend")]

        def run():
            with _switch_on_entry(tracer, targets, self.returned):
                tracer.switch("bgg.index")
                self._run()

        return [("als_workflow", run)]

    def trace_extras(self) -> dict[str, float]:
        res = self.result[2]
        return {"models.als_fit.rmse": res.metrics["rmse"], "models.als_fit.r2": res.metrics["r2"],
                "relational.prune.rows_kept_ratio":
                    self.returned["relational.prune"].count() / self.input_rows}

    def check(self) -> dict[str, str]:
        if self.result is None:
            return {"als_workflow": "no result"}
        rows, named, res = self.result
        problems = []
        if self.scale == "full":
            if res.best_params["regParam"] != REF_REG_PARAM:
                problems.append(f"grid picked {res.best_params}")
            for name, ref in (("rmse", REF_RMSE), ("r2", REF_R2)):
                if abs(res.metrics[name] - ref) > BAND:
                    problems.append(f"{name} {res.metrics[name]:.4f} outside {ref}±{BAND}")
        users = res.model.userFactors.count()
        if rows != users * 10 or named != rows:
            problems.append(f"{rows} recommendation rows ({named} named) for {users} users")
        return {"als_workflow": "; ".join(problems)} if problems else {}

    def quality(self) -> dict:
        if self.result is None:
            return {}
        res = self.result[2]
        return {**res.metrics, "best_params": res.best_params}


class ContentLogreg:
    """E1 -> E3: ``clean_complete_database`` -> ``encode_complete`` ->
    ``content_features`` (Username one-hot, numeric columns, MinMax, PCA 15)
    -> ``logistic_regression`` (TVS over regParam x maxIter {50, 100}).

    Ratings come from the golden corpus, games from ``games.py``. The label
    threshold is 7, the paper's value (the reference code's 4 would put
    almost every synthetic rating in one class). Users stay at a few
    hundred: PCA builds and decomposes a Gramian of the one-hot width
    squared on the driver."""

    SIZES = {"full": (20_000, 400, 200), "tiny": (3_000, 100, 60)}
    THRESHOLD = 7.0
    PCA_K = 15

    def __init__(self, spark, scale: str):
        self.spark, self.scale = spark, scale
        self.n_ratings, self.n_users, self.n_games = self.SIZES[scale]
        self.input_rows = self.n_ratings
        self.out: dict[str, object] = {}

    def setup(self, seed: int) -> None:
        ratings, _ = golden.synthetic_bgg_corpus(
            self.spark, self.n_ratings, self.n_users, self.n_games,
            head_frac=None, head_items=None, seed=seed,
        )
        self.ratings = ratings.cache()
        avg = {r[0]: r[1] for r in self.ratings.groupBy("BGGId").agg(F.avg("Rating")).collect()}
        rows = games.games_rows(seed, self.n_games, avg)
        self.games = self.spark.createDataFrame(rows, games.SCHEMA).cache()
        self.games.count()

    def teardown(self) -> None:
        self.ratings.unpersist()
        self.games.unpersist()

    def _clean(self):
        self.out["clean"] = bgg.clean_complete_database(self.games)

    def _encode(self):
        self.out["encode"] = bgg.encode_complete(self.out["clean"])

    def _features(self):
        labelled = bgg.discretize_ratings(bgg.clean_user_ratings(self.ratings), self.THRESHOLD)
        self.out["features"], _ = bgg.content_features(
            self.out["encode"], labelled, pca_k=self.PCA_K)

    def _fit(self):
        self.out["fit"] = models.logistic_regression(
            self.out["features"], label_col="buckets", seed=1)

    def calls(self):
        return [("clean_complete", self._clean), ("encode", self._encode),
                ("content_features", self._features), ("logreg_fit", self._fit)]

    def traced_calls(self, tracer):
        spans = {"clean_complete": "bgg.clean_complete", "encode": "bgg.encode",
                 "content_features": "features.content", "logreg_fit": "models.logreg_fit"}

        def traced(name, fn):
            def run():
                with tracer.span(spans[name]):
                    fn()
            return run

        return [(name, traced(name, fn)) for name, fn in self.calls()]

    def _kept_ratio(self) -> float:
        return self.out["clean"].count() / self.n_games

    def trace_extras(self) -> dict[str, float]:
        return {"bgg.clean_complete.rows_kept_ratio": self._kept_ratio(),
                "models.logreg_fit.auc": self.out["fit"].metrics["areaUnderROC"]}

    def check(self) -> dict[str, str]:
        if "fit" not in self.out:
            return {"logreg_fit": "no result"}
        problems = {}
        kept = self._kept_ratio()
        if kept < 0.5:
            problems["clean_complete"] = f"cleaning kept {kept:.2f} of the games"
        res = self.out["fit"]
        classes = {r[0] for r in res.predictions.select("buckets").distinct().collect()}
        if classes != {0.0, 1.0}:
            problems["logreg_fit"] = f"test split has label classes {sorted(classes)}"
        elif res.metrics["areaUnderROC"] <= 0.5:
            problems["logreg_fit"] = f"auc {res.metrics['areaUnderROC']:.4f} <= 0.5"
        return problems

    def quality(self) -> dict:
        if "fit" not in self.out:
            return {}
        return {**self.out["fit"].metrics, "rows_kept_ratio": self._kept_ratio()}


class QuerySuite:
    """Headline queries of the library over the sf0.01 test tables, all in
    one session. The tables are fixed, so ``--seed`` only shuffles the order
    of the queries in a pass.

    Each query is forced by the package's row count and order-independent
    content hash of its result (one aggregate over every output column), so
    the gate checks the very results that were timed: every pass must give
    the (rows, hash) its DuckDB oracle gives, recorded in
    ``expected_hashes.json``."""

    def __init__(self, spark, scale: str):
        from recommender_system_with_pyspark_spark import registry

        registry.load_all_queries()
        self.spark = spark
        self.queries = {name: registry.QUERIES[name] for name in QUERIES}
        self.order = list(QUERIES)
        self.hashes: dict[str, set[tuple[int, int]]] = {}
        self.input_rows = 0

    def setup(self, seed: int) -> None:
        """Open each table through the package's loader, which checks its
        schema, and read its row count from the Parquet footer."""
        import pyarrow.parquet as pq

        from recommender_system_with_pyspark_spark.io import load_table

        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.input_rows = 0
        for f in sorted(os.listdir(TESTDATA)):
            load_table(self.spark, TESTDATA, f[:-len(".parquet")])
            self.input_rows += pq.ParquetFile(os.path.join(TESTDATA, f)).metadata.num_rows

    def teardown(self) -> None:
        pass

    def _query(self, name: str):
        def run():
            df = self.queries[name](self.spark, TESTDATA)
            self.hashes.setdefault(name, set()).add(spark_result_hash(df))
        return run

    def calls(self):
        return [(name, self._query(name)) for name in self.order]

    def traced_calls(self, tracer):
        def traced(name):
            def run():
                with tracer.span(f"queries.{name}"):
                    self._query(name)()
            return run

        return [(name, traced(name)) for name in self.order]

    def trace_extras(self) -> dict[str, float]:
        return {}

    def check(self) -> dict[str, str]:
        problems = {}
        for name in QUERIES:
            got = self.hashes.get(name, set())
            if got != {EXPECTED[name]}:
                problems[name] = f"(rows, hash) {sorted(got)} != oracle {EXPECTED[name]}"
        return problems

    def quality(self) -> dict:
        return {"tables": "sf0.01", "order": self.order}


class Chain:
    """Several workload parts in one session, run one after the other in
    each pass."""

    def __init__(self, *parts):
        self.parts = parts
        self.input_rows = 0

    def setup(self, seed: int) -> None:
        for p in self.parts:
            p.setup(seed)
        self.input_rows = sum(p.input_rows for p in self.parts)

    def teardown(self) -> None:
        for p in self.parts:
            p.teardown()

    def calls(self):
        return [c for p in self.parts for c in p.calls()]

    def traced_calls(self, tracer):
        return [c for p in self.parts for c in p.traced_calls(tracer)]

    def _merged(self, method: str) -> dict:
        return {k: v for p in self.parts for k, v in getattr(p, method)().items()}

    def trace_extras(self) -> dict[str, float]:
        return self._merged("trace_extras")

    def check(self) -> dict[str, str]:
        return self._merged("check")

    def quality(self) -> dict:
        return {type(p).__name__: p.quality() for p in self.parts}


def content_queries(spark, scale: str) -> Chain:
    """The content model, then the query slice: the two paths made of many
    short jobs, whose time is mostly the per-job driver floor."""
    return Chain(ContentLogreg(spark, scale), QuerySuite(spark, scale))


WORKLOADS = {"als_grid": AlsGrid, "content_queries": content_queries}
