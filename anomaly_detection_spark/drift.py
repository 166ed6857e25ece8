"""Distribution-drift detection: PSI and KS statistics over per-partition
histograms, as closed-form DataFrame math (no Python in the plan).

≈ the reference's behavioral-drift pass
(``/root/reference/anomaly_detection/.../time_series_analyzer.py:184-275`` —
login-time distribution shift, Jaccard similarity decay) and trend detection
(``trend_detector.py:25-156``), generalized: compare the CURRENT snapshot's
per-partition distribution of any expression against a BASELINE snapshot's.

Physical shape: each snapshot is reduced to a tiny (partition, bin, count)
histogram by one shuffle agg; PSI/KS then run on the joined histograms —
megabytes of state regardless of input scale, so this works unchanged at
10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPS = 1e-6


def categorical_histogram(
    df: DataFrame, value: Column, partition_col: str = "partition"
) -> DataFrame:
    """(partition, bin, count) for a categorical expression."""
    return (
        df.select(F.col(partition_col).alias("partition"), value.alias("bin"))
        .groupBy("partition", "bin")
        .agg(F.count("*").alias("count"))
    )


# the columns of a stored span_kind_histogram (``--emit-histograms``)
SPAN_KIND_HIST_SCHEMA = "partition string, bin string, count long"


def span_kind_histogram(docs: DataFrame, partition_col: str = "partition") -> DataFrame:
    ex = docs.select(
        F.col(partition_col).alias("partition"), F.explode("spans").alias("s")
    )
    return categorical_histogram(ex, F.col("s.kind"), "partition")


def numeric_histogram(
    df: DataFrame, value: Column, partition_col: str = "partition"
) -> DataFrame:
    """(partition, bin double, count) for an integer-ish numeric expression.
    For continuous values pre-bucket with ``F.floor(value / width) * width``."""
    return (
        df.select(F.col(partition_col).alias("partition"), value.cast("double").alias("bin"))
        .groupBy("partition", "bin")
        .agg(F.count("*").alias("count"))
    )


def _normalized_join(cur: DataFrame, base: DataFrame) -> DataFrame:
    """Two histograms merged on (partition, bin), NULL matching NULL, with
    per-partition normalized probabilities p (current) and q (baseline);
    missing bins get 0.

    A union grouped by (partition, bin) after one shuffle by partition,
    not a full outer join: grouping meets NULL keys without the extra
    shuffle of each side that null-safe join keys cost, and the window
    below reuses that shuffle."""
    zero = F.lit(0).cast("long")
    c = cur.select("partition", "bin", F.col("count").alias("c_cnt"),
                   zero.alias("b_cnt"))
    b = base.select("partition", "bin", zero.alias("c_cnt"),
                    F.col("count").alias("b_cnt"))
    joined = c.unionByName(b).repartition("partition").groupBy(
        "partition", "bin").agg(F.sum("c_cnt").alias("c_cnt"),
                                F.sum("b_cnt").alias("b_cnt"))
    w = Window.partitionBy("partition")
    return joined.select(
        "partition",
        "bin",
        (F.col("c_cnt") / F.sum("c_cnt").over(w)).alias("p"),
        (F.col("b_cnt") / F.sum("b_cnt").over(w)).alias("q"),
        F.col("c_cnt"),
        F.col("b_cnt"),
    )


def merge_histograms(*hists: DataFrame) -> DataFrame:
    """Merge per-commit (partition, bin, count) histograms into the
    snapshot-lifetime histogram: counts are exact integers, so the merge is
    a groupBy sum over metadata-sized rows and is bit-identical to
    histogramming the unioned data — the same appends-only incremental
    property as ``profiler.merge_profiles``, here feeding PSI/KS so drift
    of a growing snapshot never re-reads committed files."""
    allh = hists[0]
    for h in hists[1:]:
        allh = allh.unionByName(h)
    return allh.groupBy("partition", "bin").agg(
        F.sum("count").alias("count")
    )


def psi(cur: DataFrame, base: DataFrame, eps: float = EPS) -> DataFrame:
    """Population Stability Index per partition:
    ``sum((p-q) * ln(p/q))`` with epsilon-smoothed probabilities.

    Rule of thumb: <0.1 stable, 0.1-0.25 moderate shift, >0.25 drifted.
    """
    j = _normalized_join(cur, base)
    p = F.greatest(F.col("p"), F.lit(eps))
    q = F.greatest(F.col("q"), F.lit(eps))
    term = (p - q) * F.log(p / q)
    return j.groupBy("partition").agg(F.sum(term).alias("psi"))


def ks_statistic(cur: DataFrame, base: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per partition over binned
    numeric histograms: ``max |CDF_cur(bin) - CDF_base(bin)|`` with CDFs via
    a cumulative window ordered by bin."""
    j = _normalized_join(cur, base)
    w = (
        Window.partitionBy("partition")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdfs = j.select(
        "partition",
        "bin",
        F.sum("p").over(w).alias("cdf_p"),
        F.sum("q").over(w).alias("cdf_q"),
    )
    return cdfs.groupBy("partition").agg(
        F.max(F.abs(F.col("cdf_p") - F.col("cdf_q"))).alias("ks")
    )


def quantile_shift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cur_pred,
    ps: tuple[float, ...] = (0.5, 0.95),
    rel_threshold_pct: int = 10,
) -> DataFrame:
    """Quantile-shift drift per group: how far p50/p95 (etc.) of
    ``value_col`` moved from the baseline window (``NOT cur_pred``) to the
    current one — the distribution check PSI/KS/W1 don't give directly
    (a monitoring-style "did the median move >10%?" rule; cf. the
    reference's profile-vs-current mean/std comparisons,
    ``access_analyzer.py:143-147``, generalized to quantiles).

    ONE scan, ONE shuffle: both windows' percentiles ride the same groupBy
    via NULL-ignoring ``percentile(CASE WHEN ...)`` conditional aggregates.
    Outputs are exact-integer micro-units (``floor(q·1e6 + 0.5)``,
    tie-break-free cross-engine) and the drift flag is the pure integer
    comparison ``100·|shift| > rel_threshold_pct·|base|`` — no float
    thresholding anywhere."""
    v = F.col(value_col)
    micros = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    aggs = []
    for p in ps:
        tag = f"p{int(round(p * 100))}"
        aggs += [
            micros(F.percentile(F.when(~cur_pred, v), F.lit(p)))
            .alias(f"{tag}_base_micros"),
            micros(F.percentile(F.when(cur_pred, v), F.lit(p)))
            .alias(f"{tag}_cur_micros"),
        ]
    out = df.groupBy(group_col).agg(*aggs)
    cols, flags = [F.col(group_col)], []
    for p in ps:
        tag = f"p{int(round(p * 100))}"
        base, cur = F.col(f"{tag}_base_micros"), F.col(f"{tag}_cur_micros")
        shift = (cur - base).alias(f"{tag}_shift_micros")
        cols += [base, cur, shift]
        flags.append(
            F.lit(100) * F.abs(cur - base)
            > F.lit(rel_threshold_pct) * F.abs(base)
        )
    drifted = flags[0]
    for fl in flags[1:]:
        drifted = drifted | fl
    return out.select(*cols, drifted.alias("drifted"))

