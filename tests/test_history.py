"""Manifest-history trend analytics: closed-form slope must match numpy's
least squares, predictions clamp, retention prunes, and sparse pairs gate."""

from __future__ import annotations

import datetime

import numpy as np

from anomaly_detection_spark.history import prune_history, violation_trends

BASE = datetime.datetime(2026, 1, 1)


def _metrics(spark, rows):
    return spark.createDataFrame(
        [
            (p, r, s, "fail" if v else "pass", n, v, 100,
             BASE + datetime.timedelta(days=i))
            for (p, r, s, n, v, i) in rows
        ],
        "partition string, rule_id string, snapshot_id string, status string, "
        "rows_scanned long, violation_count long, duration_ms long, "
        "committed_at timestamp",
    )


def test_trend_matches_numpy_and_flags_rising(spark):
    rows = []
    # pair A: rising 1% -> 2% -> 3% -> 4% violation rate
    for i, v in enumerate([10, 20, 30, 40]):
        rows.append(("p0", "ruleA", f"s{i}", 1000, v, i))
    # pair B: flat zero
    for i in range(4):
        rows.append(("p0", "ruleB", f"s{i}", 1000, 0, i))
    out = {
        (r["partition"], r["rule_id"]): r
        for r in violation_trends(_metrics(spark, rows)).collect()
    }
    a = out[("p0", "ruleA")]
    rates = np.array([10_000, 20_000, 30_000, 40_000])
    slope = np.polyfit(np.arange(4), rates, 1)[0]  # = 10000 ppm/snapshot
    assert a["rising"] is True
    assert a["slope_ppm_e6"] == round(slope * 1e6)
    assert a["predicted_next_ppm"] == 50_000  # 4% + 1%/snapshot
    b = out[("p0", "ruleB")]
    assert b["rising"] is False and b["slope_ppm_e6"] == 0
    assert b["predicted_next_ppm"] == 0  # clamped at floor


def test_prediction_clamps_to_zero(spark):
    rows = [("p0", "r", f"s{i}", 1000, v, i) for i, v in enumerate([30, 20, 10])]
    out = violation_trends(_metrics(spark, rows)).collect()[0]
    # falling trend: 1% slope down from 1% -> prediction would be 0
    assert out["rising"] is False
    assert out["predicted_next_ppm"] == 0


def test_min_snapshots_gates_sparse_pairs(spark):
    rows = [("p0", "r", "s0", 1000, 5, 0), ("p0", "r", "s1", 1000, 6, 1)]
    assert violation_trends(_metrics(spark, rows), min_snapshots=3).count() == 0
    assert violation_trends(_metrics(spark, rows), min_snapshots=2).count() == 1


def test_prune_history_retention(spark):
    rows = [("p0", "r", f"s{i}", 1000, 0, i) for i in range(10)]
    m = _metrics(spark, rows)
    now = BASE + datetime.timedelta(days=9)
    kept = prune_history(m, max_age_days=5, now=now)
    assert kept.count() == 6  # days 4..9 inclusive
    assert prune_history(m, max_age_days=365, now=now).count() == 10


def test_verdict_diff_statuses(spark):
    from anomaly_detection_spark.history import verdict_diff

    cols = ["partition", "rule_id", "pass", "violation_count"]
    prev = spark.createDataFrame([
        ("p0", "rA", True, 0),    # stays passing
        ("p0", "rB", False, 5),   # gets fixed
        ("p1", "rA", False, 2),   # keeps failing, count moves
        ("p1", "rC", False, 9),   # rule removed from the plan (was failing)
        ("p1", "rD", True, 0),    # rule removed from the plan (was passing)
    ], cols)
    cur = spark.createDataFrame([
        ("p0", "rA", True, 0),
        ("p0", "rB", True, 0),
        ("p1", "rA", False, 7),
        ("p2", "rA", False, 3),   # new partition, failing at once
    ], cols)
    got = {(r["partition"], r["rule_id"]): (r["status"], r["violation_delta"])
           for r in verdict_diff(cur, prev).collect()}
    assert got == {
        ("p0", "rA"): ("still_passing", 0),
        ("p0", "rB"): ("resolved", -5),
        ("p1", "rA"): ("still_failing", 5),
        ("p1", "rC"): ("unplanned", -9),
        ("p1", "rD"): ("unplanned", 0),
        ("p2", "rA"): ("new_failure", 3),
    }


def test_verdict_diff_matches_a_null_partition_to_itself(spark):
    """A failing pair of the NULL partition, diffed against itself, is
    still failing: NULL meets NULL in the diff's join."""
    from anomaly_detection_spark.history import verdict_diff

    v = spark.createDataFrame(
        [(None, "r", False, 1, 2), ("p0", "r", True, 0, 1)],
        "partition string, rule_id string, pass boolean, "
        "violation_count long, rows_scanned long")
    got = sorted(((r["partition"] or ""), r["status"], r["violation_delta"])
                 for r in verdict_diff(v, v).collect())
    assert got == [("", "still_failing", 0), ("p0", "still_passing", 0)]
