"""Cleaning operators (SURVEY §2.2 P5-P13, §2.4 A3-A7).

The reference performs all of these with driver-local pandas
(`bgrfunctions.py:79-140,369-393`, `datacleaning.py:15-88`) — a hard scale
ceiling (the whole table must fit on the driver). Every operator here is a
pure DataFrame→DataFrame transform: distributed, lazy, Catalyst-optimizable,
and shuffle-free unless noted.

Scale notes (100 TB):
- Imputation fills (mean/mode) compute one small aggregate and attach it as
  a literal — one extra aggregate over all the filled columns, no shuffle
  of the fact table.
- ``iqr_outlier_filter`` uses ``approxQuantile`` (single pass,
  Greenwald-Khanna sketch) by default; ``exact=True`` switches to the exact
  ``percentile`` aggregate for oracle-testable semantics.
- All row filters compose into a single scan → one WholeStageCodegen span;
  predicates push down to parquet.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_null_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """P7 — drop rows with any null (`datacleaning.py:17` ``dropna()``)."""
    return df.na.drop(subset=list(subset) if subset else None)


def null_audit(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """A6 — per-column null counts (`datacleaning.py:33-47` isna().sum()).

    Returns one row, one column per input column, named ``<col>_nulls``.
    Single partial+final aggregate — one pass, no shuffle of rows.
    """
    cols = list(columns) if columns else df.columns
    return df.select(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
            for c in cols
        ]
    )


def sentinel_to_null(df: DataFrame, sentinels: Mapping[str, object]) -> DataFrame:
    """P8 — replace sentinel values with null.

    Reference: `datacleaning.py:77-78` (``GoodPlayers=='[]'`` and
    ``BestPlayers==0`` → NaN) done with pandas ``.loc`` on the driver.
    """
    out = df
    for c, sentinel in sentinels.items():
        out = out.withColumn(
            c, F.when(F.col(c) == F.lit(sentinel), F.lit(None)).otherwise(F.col(c))
        )
    return out


def fill_const(df: DataFrame, values: Mapping[str, object]) -> DataFrame:
    """P9 — constant null fill (`bgrfunctions.py:107` Family→'No family')."""
    return df.na.fill(dict(values))


def fill_mean(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P10 — mean-impute nulls (`bgrfunctions.py:110-111`); see
    :func:`fill_mean_mode`."""
    return fill_mean_mode(df, columns, ())


def fill_mode(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P11 — most-frequent-value imputation (`bgrfunctions.py:27-32,114-124`);
    see :func:`fill_mean_mode`."""
    return fill_mean_mode(df, (), columns)


def fill_mean_mode(
    df: DataFrame, mean_columns: Sequence[str], mode_columns: Sequence[str]
) -> DataFrame:
    """P10 + P11 — fill the nulls of ``mean_columns`` with their means and
    those of ``mode_columns`` with their most frequent values.

    One aggregate action computes every fill at once (not one per column —
    the v1 reference bug of filling LanguageEase with ComAgeRec's mean,
    `functions.py:97`, is structurally impossible here). Null rows are
    excluded from both; a mode tie goes to the lowest value
    (``mode(deterministic=True)``), which is the count desc, value asc
    rule. A column with no non-null value is left as it is. The two lists
    must not overlap: every fill is computed on ``df`` as given.
    """
    aggs = [F.avg(c).alias(c) for c in mean_columns]
    aggs += [F.mode(c, deterministic=True).alias(c) for c in mode_columns]
    if not aggs:
        return df
    fills = df.agg(*aggs).first().asDict()
    fills = {c: v for c, v in fills.items() if v is not None}
    return df.na.fill(fills) if fills else df


def positive_filter(df: DataFrame, columns: Sequence[str], threshold: float = 0) -> DataFrame:
    """P5 — keep rows where every listed column > threshold
    (`bgrfunctions.py:98-104`; the YearPublished>1970 variant `:389`).

    All predicates fold into one conjunctive filter → a single scan with
    full parquet pushdown.
    """
    pred = None
    for c in columns:
        p = F.col(c) > F.lit(threshold)
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def iqr_outlier_filter(
    df: DataFrame,
    columns: Sequence[str],
    k: float = 1.0,
    exact: bool = False,
    relative_error: float = 0.001,
) -> DataFrame:
    """P6 — per-column IQR band filter (`bgrfunctions.py:369-393`).

    Keeps rows with ``Q1 - k*IQR < col < Q3 + k*IQR``. NB the reference uses
    **k=1**, not the textbook 1.5 (PDF p.10) — reproduced as the default,
    exposed as a parameter.

    Like the reference, bounds are computed per column *sequentially* on the
    progressively-filtered frame (order-sensitive, non-fixpoint — see
    `bgrfunctions.py:380-391` where each iteration filters ``dataframe``
    in place). ``exact=True`` uses the exact ``percentile`` aggregate
    (matches DuckDB ``quantile_cont``); the default is a one-pass GK sketch
    via ``approxQuantile`` — the only choice at 100 TB.
    """
    out = df
    for c in columns:
        if exact:
            row = out.agg(
                F.expr(f"percentile({c}, 0.25)").alias("q1"),
                F.expr(f"percentile({c}, 0.75)").alias("q3"),
            ).first()
            q1, q3 = row["q1"], row["q3"]
        else:
            qs = out.approxQuantile(c, [0.25, 0.75], relative_error)
            if len(qs) < 2:  # no non-null values left in this column
                continue
            q1, q3 = qs
        if q1 is None or q3 is None:
            continue
        iqr = q3 - q1
        out = out.filter((F.col(c) > q1 - k * iqr) & (F.col(c) < q3 + k * iqr))
    return out


def zero_variance_prune(df: DataFrame, columns: Sequence[str] | None = None, eps: float = 1e-10) -> DataFrame:
    """P13 — drop numeric columns with stddev <= eps (`bgrfunctions.py:133-138`).

    One aggregate computes every stddev simultaneously (the reference's
    pandas ``df.std()`` equivalent), then a metadata-only ``drop``.
    """
    numeric = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float", "short", "byte", "decimal")
    ]
    cols = [c for c in (columns or numeric) if c in numeric]
    if not cols:
        return df
    stds = df.agg(*[F.stddev(c).alias(c) for c in cols]).first()
    dead = [c for c in cols if stds[c] is not None and stds[c] <= eps]
    return df.drop(*dead) if dead else df


def round_column(df: DataFrame, column: str, scale: int = 1) -> DataFrame:
    """F1 — round a column in place (`als.py:29,50`, `bgrfunctions.py:16-19`)."""
    return df.withColumn(column, F.round(F.col(column), scale))


def discretize_label(
    df: DataFrame,
    column: str = "Rating",
    label: str = "buckets",
    threshold: float = 4.0,
) -> DataFrame:
    """F2 — binarize: ``label = column < threshold ? 0.0 : 1.0``
    (`bgrfunctions.py:22-24`).

    The code uses threshold 4 while the PDF (pp.5,24) says 7 — code is
    ground truth; the threshold is a parameter.
    """
    return df.withColumn(
        label,
        F.when(F.col(column) < F.lit(threshold), F.lit(0.0)).otherwise(F.lit(1.0)),
    )


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P12 — bulk rename (`functions.py:22-28` strips '.' from names)."""
    return df.withColumnsRenamed(dict(mapping))


def strip_chars_from_names(df: DataFrame, chars: str = ".") -> DataFrame:
    """P12 — the reference's ``remove_points``: drop given chars from all
    column names (metadata-only, no job)."""
    table = str.maketrans("", "", chars)
    return df.toDF(*[c.translate(table) for c in df.columns])


def cast_columns(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """F5 — explicit casts (`bgrfunctions.py:145-148`)."""
    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def quantile_bins(
    df: DataFrame,
    column: str,
    n_bins: int = 10,
    out_col: str = "bin",
    tiebreak: Sequence[str] = (),
    descending: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Equal-FREQUENCY binning with EXACT ntile semantics, distributed.

    Output is bit-identical to ``ntile(n_bins) OVER (ORDER BY column
    [DESC], *tiebreak)`` — bucket sizes differ by at most one, larger
    buckets first — but no row ever flows through a single-partition
    window. Construction (the sketch-cut-point plan the old docstring only
    described):

    1. approxQuantile cut points on ``column`` range-group the rows into
       ``n_groups`` disjoint, ORDERED groups (pure broadcast projection;
       sketch error only skews group sizes, never correctness).
    2. ``row_number`` over ``Window.partitionBy(group)`` gives local ranks
       — n_groups-way parallel, each group sorts only its slice.
    3. Exact per-group counts (one tiny aggregate, collected — bounded by
       n_groups, same driver-size class as the sketch itself) convert
       local → global 0-based rank r via prefix-sum offsets.
    4. ntile is then pure arithmetic: with base = n // n_bins and
       rem = n % n_bins, bucket = r // (base+1) + 1 for the first
       rem*(base+1) rows, else rem + (r - rem*(base+1)) // base + 1.

    ``tiebreak`` columns make the order total (required for cross-engine
    parity; an undefined tie order means unstable training features). Equal
    key values always land in the same range group, so ties never straddle
    an offset boundary. Nulls in ``column`` sort first (Spark ASC default;
    last under ``descending``), matching the window form.

    Scale shape: one sketch pass + one count shuffle (group-cardinality
    output) + one n_groups-way window shuffle. Skewed keys degrade only
    load balance (a mega-tie shares one group), never results."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if n_groups is None:
        n_groups = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    key = F.col(column).cast("double")
    if descending:
        key = -key
    kdf = df.withColumn("_qb_key", key)
    cuts = sorted(set(
        kdf.stat.approxQuantile(
            "_qb_key",
            [i / n_groups for i in range(1, n_groups)],
            1.0 / (4.0 * max(n_groups, 1)),
        )
    ))
    grp = F.lit(0)
    for c in cuts:
        grp = grp + (F.col("_qb_key") > F.lit(c)).cast("int")
    # nulls form their own first (ASC) / last (DESC) group, matching the
    # window form's NULLS FIRST / DESC NULLS LAST Spark defaults
    null_grp = len(cuts) + 1 if descending else -1
    grp = F.when(F.col("_qb_key").isNull(), F.lit(null_grp)).otherwise(grp)
    gdf = kdf.withColumn("_qb_grp", grp)
    counts = {r["_qb_grp"]: r["n"] for r in
              gdf.groupBy("_qb_grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    offsets, acc = {}, 0
    for g in sorted(counts):
        offsets[g] = acc
        acc += counts[g]
    if not offsets:  # empty input: keep the plan valid (no rows evaluate it)
        offsets = {0: 0}
    w = (Window.partitionBy("_qb_grp")
         .orderBy(F.col("_qb_key").asc_nulls_first(),
                  *[F.col(c) for c in tiebreak]))
    off_map = F.create_map(*[F.lit(v) for g, o in offsets.items() for v in (g, o)])
    r = F.element_at(off_map, F.col("_qb_grp")) + F.row_number().over(w) - 1  # global 0-based rank
    base, rem = divmod(total, n_bins) if total else (0, 0)
    head = rem * (base + 1)
    if base:
        bucket = F.when(r < head, F.floor(r / (base + 1))).otherwise(
            rem + F.floor((r - head) / base)) + 1
    else:  # fewer rows than bins: ntile gives each row its own bucket
        bucket = r + 1
    return gdf.withColumn(out_col, bucket.cast("int")).drop("_qb_key", "_qb_grp")


def equal_width_bins(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    out_col: str = "bin",
) -> DataFrame:
    """Equal-WIDTH binning with explicit floor arithmetic (not
    F.width_bucket — the explicit form is bit-reproducible on any engine
    that follows IEEE-754, which is the oracle contract). Values below lo
    → bin 0, at/above hi → n_bins+1, else 1 + floor((x-lo)/(hi-lo)*n) —
    a pure projection, embarrassingly parallel."""
    x = F.col(column).cast("double")
    body = (F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo)) * n_bins) + 1).cast("int")
    return df.withColumn(
        out_col,
        F.when(x < lo, F.lit(0))
        .when(x >= hi, F.lit(n_bins + 1))
        .otherwise(body),
    )


def robust_scale(
    df: DataFrame,
    columns: Sequence[str],
    round_to: int | None = None,
) -> DataFrame:
    """Median/IQR scaling: (x − median) / (Q3 − Q1), with EXACT
    linear-interpolation percentiles (`percentile`, the same definition as
    ANSI percentile_cont / DuckDB quantile_cont — so an oracle can restate
    it verbatim). MLlib's RobustScaler computes the same transform from
    approxQuantile sketches; this native form is the deterministic,
    engine-portable twin (the ML pipeline form stays available for vector
    columns).

    Scale shape: ONE aggregate pass for all columns' three quantiles (exact
    percentile is a two-stage sort-based aggregate; for 100 TB swap in
    approx_percentile and accept sketch error), broadcast back as a 1-row
    frame. A constant column (IQR 0) scales to null rather than ±inf.
    """
    stats = df.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.lit(q)).alias(f"_{tag}_{c}")
            for c in columns
            for tag, q in (("q1", 0.25), ("med", 0.5), ("q3", 0.75))
        ]
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in columns:
        iqr = F.col(f"_q3_{c}") - F.col(f"_q1_{c}")
        scaled = F.when(
            iqr > 0, (F.col(c).cast("double") - F.col(f"_med_{c}")) / iqr
        )
        if round_to is not None:
            scaled = F.round(scaled, round_to)
        out = out.withColumn(f"{c}_scaled", scaled)
    return out.drop(*[f"_{tag}_{c}" for c in columns for tag in ("q1", "med", "q3")])


def winsorize(
    df: DataFrame,
    columns: Sequence[str],
    lower: float = 0.01,
    upper: float = 0.99,
    round_to: int | None = None,
) -> DataFrame:
    """Winsorization: clip each column to its [lower, upper] exact
    linear-interpolation percentiles — the outlier treatment that KEEPS
    the row (unlike the IQR/MAD FILTERS in this module, which drop it):
    regression-style models want the observation with its tail influence
    capped, not a smaller dataset. Percentiles use the same ANSI
    ``percentile_cont`` definition as ``robust_scale``, so an oracle
    restates them verbatim.

    One aggregate pass computes every column's two cut points together
    (tiny 1-row frame, broadcast back); the clip itself is a pure
    projection. Null values pass through untouched."""
    if not 0 <= lower < upper <= 1:
        raise ValueError("need 0 <= lower < upper <= 1")
    aggs = []
    for c in columns:
        aggs.append(F.expr(f"percentile({c}, {lower})").alias(f"_lo_{c}"))
        aggs.append(F.expr(f"percentile({c}, {upper})").alias(f"_hi_{c}"))
    cuts = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(cuts))
    for c in columns:
        clipped = F.least(
            F.greatest(F.col(c).cast("double"), F.col(f"_lo_{c}")),
            F.col(f"_hi_{c}"),
        )
        if round_to is not None:
            clipped = F.round(clipped, round_to)
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), clipped))
    return out.drop(*[f"_lo_{c}" for c in columns], *[f"_hi_{c}" for c in columns])
