"""Violation-history analytics over the rule-progress manifest: the engine
equivalent of the reference's checkpointed history → trend → prediction path
(``risk_history_tracker.py:103-161`` append+prune,
``trend_detector.py:25-63`` linear trend, ``:224-279`` forecast), recast as
window-function aggregates over the manifest's metrics log.

Each validation run commits one metrics row per (partition, rule_id,
snapshot); across runs those rows form a per-pair time series of violation
rates. ``violation_trends`` fits the least-squares slope per pair with exact
integer power sums (closed-form, no scipy) and extrapolates the next
snapshot's rate, clamped to [0, 1e6] ppm the way the reference clamps
predicted risk to [0, 100].

Scale shape: the manifest is (partitions × rules × snapshots) rows —
metadata-sized, orders of magnitude below the data it describes — so one
hash agg per pair is trivially safe; everything stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomaly_detection_spark.rules.core import join_on_keys


def prune_history(metrics: DataFrame, max_age_days: int = 180,
                  now=None) -> DataFrame:
    """Drop metrics rows older than ``max_age_days`` (the reference's 180-day
    retention, risk_history_tracker.py:143-161). ``now`` defaults to the
    current timestamp; pass a literal for deterministic tests."""
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    return metrics.filter(
        F.col("committed_at") >= now_col - F.expr(f"INTERVAL {int(max_age_days)} DAYS")
    )


def violation_trends(metrics: DataFrame, min_snapshots: int = 3) -> DataFrame:
    """Per-(partition, rule_id) linear trend of the violation rate across
    committed snapshots.

    Returns one row per pair observed in at least ``min_snapshots`` commits:
    ``(partition, rule_id, n_snapshots, last_rate_ppm, slope_ppm_e6,
    predicted_next_ppm, rising)`` where

    * ``rate_ppm``  = violation_count * 1e6 div rows_scanned (exact integer),
    * the slope is the least-squares fit of rate_ppm against the snapshot
      index 0..n-1 (closed-form from integer power sums; ×1e6 fixed point),
    * ``predicted_next_ppm`` = last_rate + slope, clamped to [0, 1e6] —
      the reference's clamped linear extrapolation, and
    * ``rising`` flags a strictly positive slope.

    Snapshot order is (committed_at, snapshot_id) — the commit log's order.
    """
    rate = F.expr("(violation_count * 1000000L) div greatest(rows_scanned, 1L)")
    w = Window.partitionBy("partition", "rule_id").orderBy(
        "committed_at", "snapshot_id"
    )
    seq = metrics.select(
        "partition", "rule_id",
        rate.alias("rate_ppm"),
        (F.row_number().over(w) - 1).alias("x"),
    )
    g = seq.groupBy("partition", "rule_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("rate_ppm").alias("sy"),
        F.sum(F.col("x") * F.col("rate_ppm")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max(F.struct("x", "rate_ppm")).alias("_last"),
    )
    den = g["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    num = g["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    # num is scaled in DOUBLE: num ~ rate_ppm·k³/12 so num·1e6 passes 2^63
    # within a few hundred retained snapshots (ANSI overflow error / silent
    # wrap). Doubles are exact here until num itself exceeds 2^53 — far
    # beyond the 180-day retention at any commit cadence.
    slope_e6 = F.when(
        den != 0, (num.cast("double") * 1_000_000.0) / den.cast("double")
    ).otherwise(F.lit(0.0))
    last = F.col("_last.rate_ppm")
    pred = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1_000_000.0), last + slope_e6 / 1_000_000.0),
    )
    return (
        g.filter(F.col("n") >= min_snapshots)
        .select(
            "partition", "rule_id",
            F.col("n").alias("n_snapshots"),
            last.alias("last_rate_ppm"),
            F.round(slope_e6, 0).cast("long").alias("slope_ppm_e6"),
            F.round(pred, 0).cast("long").alias("predicted_next_ppm"),
            (slope_e6 > 0).alias("rising"),
        )
    )


def verdict_diff(cur: DataFrame, prev: DataFrame) -> DataFrame:
    """Snapshot-over-snapshot diff of two verdict matrices — the ops view
    the reference's history tracker answers ("what broke since last run?",
    ``risk_history_tracker.py:103-131`` score-change detection), recast as
    one full-outer join of two (partition, rule_id, pass, violation_count)
    grids, a NULL partition matching itself.

    Status per pair: ``new_failure`` (pass→fail or newly planned and
    failing), ``resolved`` (fail→pass), ``still_failing``,
    ``still_passing``, and ``unplanned`` for pairs present in the previous
    grid but absent from the current plan — nothing evaluated them this
    run, so neither "resolved" nor "still_passing" would be honest. The
    violation-count delta NULL-coalesces absent sides to 0.

    Scale shape: verdict grids are (partitions × rules) rows — metadata, not
    data — so the join is broadcast-sized no matter how big the corpus was.
    """
    c = cur.select(
        "partition", "rule_id",
        F.col("pass").alias("_cp"),
        F.col("violation_count").alias("_cv"),
    )
    p = prev.select(
        "partition", "rule_id",
        F.col("pass").alias("_pp"),
        F.col("violation_count").alias("_pv"),
    )
    j = join_on_keys(c, p, ["partition", "rule_id"], "full_outer")
    cur_fail = F.coalesce(~F.col("_cp"), F.lit(False))   # absent ⇒ not failing
    prev_fail = F.coalesce(~F.col("_pp"), F.lit(False))
    status = (
        F.when(F.col("_cp").isNull(), F.lit("unplanned"))
        .when(cur_fail & ~prev_fail, F.lit("new_failure"))
        .when(~cur_fail & prev_fail, F.lit("resolved"))
        .when(cur_fail & prev_fail, F.lit("still_failing"))
        .otherwise(F.lit("still_passing"))
    )
    return j.select(
        "partition", "rule_id",
        status.alias("status"),
        (F.coalesce(F.col("_cv"), F.lit(0)) - F.coalesce(F.col("_pv"), F.lit(0))
         ).cast("long").alias("violation_delta"),
    )
