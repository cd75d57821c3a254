"""Distribution-drift checks vs a baseline profile (north rule: "KS /
chi-squared distribution-drift checks against a baseline profile table").

Every check reduces the big table to a tiny aggregate (category counts,
per-value counts or a quantile sketch) FIRST, then computes the statistic
on the tiny side — the table is touched by exactly one aggregation each,
and no check persists anything.

- categorical: Pearson chi-squared (and PSI) over per-category
  proportions, computed relationally from two count tables joined on
  category.
- numeric, approximate: two-sample Kolmogorov–Smirnov statistic from
  ``approx_percentile`` sketches (D = max ECDF gap over the merged
  quantile grid) — the standard scale-out approximation.
- numeric, exact: :func:`numeric_drift_ks_exact` counts each distinct
  value on both sides in one union + ``groupBy`` and takes the ECDF gap in
  one range-partitioned pass over that value grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "categorical_counts",
    "categorical_drift",
    "categorical_drift_psi",
    "numeric_drift_psi",
    "numeric_quantile_profile",
    "numeric_drift_ks",
    "numeric_drift_ks_exact",
]


def categorical_counts(df: DataFrame, col: str) -> DataFrame:
    """Category → count (the baseline-profile row for a categorical column)."""
    return df.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def categorical_drift(
    current: DataFrame,
    baseline_counts: DataFrame,
    col: str,
    *,
    broadcast_baseline: bool = True,
) -> DataFrame:
    """Chi-squared statistic of ``current[col]`` vs baseline category counts.

    Returns one row: ``(statistic, dof, n_current, drifted_categories)`` where
    statistic = Σ (obs − exp)² / exp with expected counts scaled from baseline
    proportions. Categories absent from the baseline get expected 0.5 (Haldane
    correction) so novel categories register as drift instead of dividing by
    zero.
    """
    cur = categorical_counts(current, col).alias("cur")
    base = baseline_counts.alias("base")
    if broadcast_baseline:
        base = F.broadcast(base)
    joined = cur.join(base, on="category", how="full_outer").select(
        F.col("category"),
        F.coalesce(F.col("cur.cnt"), F.lit(0)).alias("obs"),
        F.coalesce(F.col("base.cnt"), F.lit(0)).alias("base_cnt"),
    )
    totals = joined.agg(
        F.sum("obs").alias("n_cur"), F.sum("base_cnt").alias("n_base")
    )
    j = joined.crossJoin(F.broadcast(totals))
    per_cat = j.select(
        "category",
        "obs",
        F.when(
            F.col("base_cnt") > 0,
            F.col("base_cnt") / F.col("n_base") * F.col("n_cur"),
        )
        .otherwise(F.lit(0.5))
        .alias("expected"),
    )
    return per_cat.agg(
        F.sum(
            (F.col("obs") - F.col("expected")) ** 2 / F.col("expected")
        ).alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.sum("obs").alias("n_current"),
    )


def psi_term(
    obs: Column, base_cnt: Column, n_cur: Column, n_base: Column,
    epsilon: float,
) -> Column:
    """One category's PSI contribution with the standard epsilon floor —
    THE smoothing/statistic definition, shared by the batch checks and
    :func:`..streaming.psi_per_window` so the two can never drift apart."""
    p_cur = F.greatest(obs / n_cur, F.lit(epsilon))
    p_base = F.greatest(base_cnt / n_base, F.lit(epsilon))
    return (p_cur - p_base) * F.log(p_cur / p_base)


def categorical_drift_psi(
    current: DataFrame,
    baseline_counts: DataFrame,
    col: str,
    *,
    epsilon: float = 1e-4,
    broadcast_baseline: bool = True,
) -> DataFrame:
    """Population Stability Index of ``current[col]`` vs baseline counts.

    PSI = Σ over categories of (p_cur − p_base) · ln(p_cur / p_base), the
    standard production data-quality drift score (PSI < 0.1 stable,
    0.1-0.25 moderate, > 0.25 major shift).  Proportions are floored at
    ``epsilon`` (the usual smoothing) so categories present on only one
    side contribute a large-but-finite term instead of ±∞.

    Same execution shape as the chi-squared check: the big side reduces to
    per-category counts FIRST (map-side combine), the tiny baseline
    broadcast-joins, and the whole statistic is one more 1-row aggregation
    — nothing here scales with row count except the initial counting scan.
    Returns ``(psi double, n_current bigint, n_categories bigint)``.

    NULL categories follow plain SQL join semantics: the two sides' null
    buckets do NOT line up and each contributes an epsilon-floored term
    (this is what the SQL oracle computes too).  Pre-coalesce nulls to a
    sentinel category if a shared null bucket is wanted;
    :func:`..streaming.psi_per_window` uses null-safe equality instead.
    """
    cur = categorical_counts(current, col).alias("cur")
    base = baseline_counts.alias("base")
    if broadcast_baseline:
        base = F.broadcast(base)
    joined = cur.join(base, on="category", how="full_outer").select(
        F.col("category"),
        F.coalesce(F.col("cur.cnt"), F.lit(0)).alias("obs"),
        F.coalesce(F.col("base.cnt"), F.lit(0)).alias("base_cnt"),
    )
    totals = joined.agg(
        F.sum("obs").alias("n_cur"), F.sum("base_cnt").alias("n_base")
    )
    j = joined.crossJoin(F.broadcast(totals))
    term = psi_term(
        F.col("obs"), F.col("base_cnt"), F.col("n_cur"), F.col("n_base"),
        epsilon,
    )
    return j.agg(
        F.sum(term).alias("psi"),
        F.sum("obs").alias("n_current"),
        F.count(F.lit(1)).alias("n_categories"),
    )


def numeric_drift_psi(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    *,
    bin_edges: list,
    epsilon: float = 1e-4,
) -> DataFrame:
    """PSI of a numeric column over EXPLICIT bin edges.

    Edges are fixed (typically the baseline's quantile grid, frozen into
    the profile table) so the statistic is deterministic and re-runnable —
    and exactly reproducible in plain SQL, unlike approximate-percentile
    binning.  Values below the first edge / at-or-above the last land in
    the open outer bins.  Same scale shape as the categorical PSI: both
    sides reduce to per-bin counts first; the statistic is one 1-row
    aggregation.  Returns ``(psi double, n_current, n_baseline)``.
    """
    if len(bin_edges) < 2 or sorted(bin_edges) != list(bin_edges):
        raise ValueError("bin_edges must be ≥2 ascending values")

    def bucket(c: Column) -> Column:
        b = F.lit(0)
        for i, edge in enumerate(bin_edges):
            b = F.when(c >= F.lit(float(edge)), F.lit(i + 1)).otherwise(b)
        return b

    def counts(df: DataFrame, label: str) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .groupBy(bucket(F.col(col).cast("double")).alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"c_{label}"))
        )

    cur = counts(current, "cur")
    base = counts(baseline, "base")
    joined = cur.join(base, "bin", "full_outer").select(
        F.coalesce("c_cur", F.lit(0)).alias("obs"),
        F.coalesce("c_base", F.lit(0)).alias("base_cnt"),
    )
    totals = joined.agg(
        F.sum("obs").alias("n_cur"), F.sum("base_cnt").alias("n_base")
    )
    j = joined.crossJoin(F.broadcast(totals))
    term = psi_term(
        F.col("obs"), F.col("base_cnt"), F.col("n_cur"), F.col("n_base"),
        epsilon,
    )
    return j.agg(
        F.sum(term).alias("psi"),
        F.sum("obs").alias("n_current"),
        F.sum("base_cnt").alias("n_baseline"),
    )


def numeric_quantile_profile(
    df: DataFrame, col: str, *, n_quantiles: int = 101
) -> DataFrame:
    """Quantile sketch of a numeric column → baseline-profile row.

    ``(quantile double, value double)`` rows, quantiles on a uniform grid.
    """
    probs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    qs = df.agg(
        F.percentile_approx(
            F.col(col).cast("double"), F.lit(probs), F.lit(10000)
        ).alias("qs")
    )
    return qs.select(
        F.posexplode("qs").alias("idx", "value")
    ).select(
        (F.col("idx") / (n_quantiles - 1)).alias("quantile"),
        F.col("value"),
    )


def numeric_drift_ks(
    current: DataFrame,
    baseline_profile: DataFrame,
    col: str,
    *,
    n_quantiles: int = 101,
) -> DataFrame:
    """Approximate two-sample KS statistic: D = max |ECDF_cur − ECDF_base|
    evaluated on the merged quantile grids. One row ``(ks_statistic)``."""
    cur = numeric_quantile_profile(current, col, n_quantiles=n_quantiles).alias("cur")
    base = baseline_profile.alias("base")

    # grid of candidate x values = union of both profiles' values
    grid = (
        cur.select(F.col("value"))
        .union(base.select(F.col("value")))
        .distinct()
        .alias("grid")
    )

    def ecdf(profile: DataFrame, side: str) -> DataFrame:
        # ECDF(x) = max quantile whose value <= x (profiles are tiny: ≤ ~200
        # rows, so these joins are broadcast by AQE automatically)
        return (
            grid.join(
                F.broadcast(profile),
                F.col(f"{side}.value") <= F.col("grid.value"),
                "left",
            )
            .groupBy(F.col("grid.value").alias("x"))
            .agg(F.coalesce(F.max(f"{side}.quantile"), F.lit(0.0)).alias(f"F_{side}"))
        )
    e_cur = ecdf(cur, "cur")
    e_base = ecdf(base, "base")
    return (
        e_cur.join(e_base, on=e_cur["x"] == e_base["x"])
        .select(F.abs(F.col("F_cur") - F.col("F_base")).alias("gap"))
        .agg(F.max("gap").alias("ks_statistic"))
    )


#: KS gaps in exact integer arithmetic: a product of two counts of this
#: type fits decimal(38,0)
_COUNT = "decimal(20,0)"


def numeric_drift_ks_exact(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
) -> DataFrame:
    """EXACT two-sample KS statistic, fully relational (no sketches).

    D = max over distinct values x of |ECDF_cur(x) − ECDF_base(x)|, in one
    range-partitioned pass over the value grid that persists nothing:

    1. one union of both sides, each tagged by a count column, and one
       ``groupBy(x)``: per-value counts of both sides, no join;
    2. ``repartitionByRange`` of that grid, so each partition holds a
       contiguous range of values, after the ranges of lower partitions;
    3. per partition, running sums ordered by x give the local gap
       ``g = L_cur·n_base − L_base·n_cur`` (totals ``n_*`` are one
       broadcast row); the partition keeps its totals and max/min of ``g``;
    4. a fold over the #partitions rows adds each partition's offset
       ``k = O_cur·n_base − O_base·n_cur`` (O = totals of lower
       partitions): ``D = max(gmax + k, −(gmin + k)) / (n_cur·n_base)``.

    The gaps are exact integers, so D does not depend on where the range
    partitioner cut the grid, and no step is a single-task window over the
    grid.  NULLs are dropped; an empty or all-NULL side raises
    ``DIVIDE_BY_ZERO`` (ANSI mode), and two empty sides give NULL.

    Returns one row ``(ks_statistic double)`` — deterministic, so it is
    oracle-checkable against an exact SQL implementation.
    """
    x = F.col(col).cast("double").alias("x")
    grid = (
        current.select(x, F.lit(1).alias("c_cur"), F.lit(0).alias("c_base"))
        .unionByName(
            baseline.select(x, F.lit(0).alias("c_cur"), F.lit(1).alias("c_base"))
        )
        .where(F.col("x").isNotNull())
        .groupBy("x")
        .agg(F.sum("c_cur").alias("c_cur"), F.sum("c_base").alias("c_base"))
    )
    totals = grid.agg(
        F.sum("c_cur").cast(_COUNT).alias("n_cur"),
        F.sum("c_base").cast(_COUNT).alias("n_base"),
    )
    n_cur, n_base = F.col("n_cur"), F.col("n_base")

    def gap(cum_cur: Column, cum_base: Column) -> Column:
        # n_cur·n_base·(ECDF_cur − ECDF_base), exact
        return cum_cur.cast(_COUNT) * n_base - cum_base.cast(_COUNT) * n_cur

    n_parts = current.sparkSession.sparkContext.defaultParallelism
    w_local = (
        Window.partitionBy("pid").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        grid.repartitionByRange(n_parts, "x")
        .withColumn("pid", F.spark_partition_id())
        .crossJoin(F.broadcast(totals))
        .select(
            "pid", "c_cur", "c_base", "n_cur", "n_base",
            gap(
                F.sum("c_cur").over(w_local), F.sum("c_base").over(w_local)
            ).alias("g"),
        )
    )
    parts = local.groupBy("pid", "n_cur", "n_base").agg(
        F.sum("c_cur").alias("t_cur"),
        F.sum("c_base").alias("t_base"),
        F.max("g").alias("gmax"),
        F.min("g").alias("gmin"),
    )
    w_prev = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    k = gap(
        F.coalesce(F.sum("t_cur").over(w_prev), F.lit(0)),
        F.coalesce(F.sum("t_base").over(w_prev), F.lit(0)),
    )
    return (
        parts.select(
            F.greatest(F.col("gmax") + k, -(F.col("gmin") + k)).alias("g"),
            (n_cur.cast("double") * n_base.cast("double")).alias("scale"),
        )
        .agg((F.max("g").cast("double") / F.first("scale")).alias("ks_statistic"))
    )
