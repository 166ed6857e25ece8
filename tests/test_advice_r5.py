"""Regression tests for round-5 ADVICE findings: int64-overflow hazards in
ewma_control's squared 3σ band and ppm prediction and
spectral_top_direction's renormalizing product, requiredness tightening masked by a simultaneous type widening,
NULL zone-map envelopes mis-counted as pruned, int-id wraparound in the
line-dedup keeper encoding, and ann_recall counting a duplicated variant pair
twice."""

from __future__ import annotations

import pyspark.sql.functions as F

from anomaly_detection_spark.functions import maintenance, repetition
from anomaly_detection_spark.functions.schema_evo import schema_compat
from anomaly_detection_spark.functions.similarity import spectral_top_direction
from anomaly_detection_spark.functions.timeseries import ewma_control


def test_ewma_spike_after_quiet_history_flags(spark):
    """A 10⁹-count spike after quiet days drives |resid| ≈ cnt·5.9e4, whose
    square wrapped int64 (silently un-flagging the exact rows the chart
    exists to catch); the widened decimal comparison must flag it."""
    rows = [("g", f"2024-01-{d:02d}", 100) for d in range(1, 9)]
    rows.append(("g", "2024-01-09", 1_000_000_000))
    daily = spark.createDataFrame(rows, ["event_type", "day", "cnt"])
    got = {r["day"]: r for r in ewma_control(daily).collect()}
    spike = got["2024-01-09"]
    assert spike["flag"] == 1, "overflow-wrapped band must not un-flag a spike"
    assert spike["pred_micro"] == 100_000_000  # EWMA of the quiet 100s
    # quiet days stay unflagged (no false positives from the widening)
    assert all(got[f"2024-01-{d:02d}"]["flag"] == 0 for d in range(2, 9))



def test_ewma_prediction_survives_counts_above_int64_ppm_range(spark):
    """pred_micro multiplied the int64 kernel sum (≈ 58 975·cnt) by 10⁶,
    which overflows once counts pass ~1.56·10⁸/day; the numerator is
    widened first, so a flat 2·10⁸/day series predicts exactly 2·10¹⁴."""
    rows = [("g", f"2024-01-{d:02d}", 200_000_000) for d in range(1, 10)]
    daily = spark.createDataFrame(rows, ["event_type", "day", "cnt"])
    got = {r["day"]: r for r in ewma_control(daily).collect()}
    assert got["2024-01-09"]["pred_micro"] == 200_000_000_000_000
    assert got["2024-01-09"]["flag"] == 0

def test_spectral_direction_survives_large_n(spark):
    """At n = 4·10⁴ max-scale rows the component sums reach ~6.8e14, so
    |s|·2^14 wrapped int64 mid-normalization (corrupting the direction);
    the decimal-widened divide must return the exact fixed point."""
    n, dim = 40_000, 64
    emb = spark.range(n).select(
        F.array(*[F.lit(127).cast("long")] * dim).alias("qv"))
    v = spectral_top_direction(emb, dim=dim, iters=2).collect()[0]["v"]
    # constant input: the fixed point is exactly [2^14] * dim
    assert list(v) == [16384] * dim


def test_schema_compat_widen_plus_tighten_is_breaking(spark):
    """int→bigint widening combined with optional→required tightening was
    classified change='widened', compat='ok' — the tightening must break
    regardless of which change label wins."""
    old = spark.createDataFrame([("c", "int", 0)],
                                "name string, dtype string, required int")
    new = spark.createDataFrame([("c", "bigint", 1)],
                                "name string, dtype string, required int")
    r = schema_compat(old, new).collect()[0]
    assert r["change"] == "widened"
    assert r["compat"] == "breaking"


def test_skip_report_null_stats_must_scan(spark):
    """A file with NULL min/max (all-NULL stat column) cannot be pruned:
    NULL hit previously fell out of both sums, overstating skip_ppm."""
    zones = spark.createDataFrame(
        [(0, 100, 5, 5), (1, 200, None, None)],
        "file_id long, n_rows long, min_x long, max_x long")
    out = maintenance.skip_report(zones, [("p", "x", 0, 10)], ["x"]) \
        .collect()[0]
    assert out["files_scanned"] == 2      # NULL envelope => must scan
    assert out["rows_scanned"] == 300
    assert out["skip_ppm"] == 0


def test_skip_report_untracked_predicate_column_scans_all(spark):
    """A predicate on a column absent from stat_cols has no envelope at
    all — every file must count as scanned."""
    zones = spark.createDataFrame(
        [(0, 100, 5, 5)], "file_id long, n_rows long, min_x long, max_x long")
    out = maintenance.skip_report(zones, [("p", "y", 0, 10)], ["x"]) \
        .collect()[0]
    assert out["files_scanned"] == 1 and out["skip_ppm"] == 0


def test_line_dedup_int_ids_above_2148_attribute_correctly(spark):
    """With an IntegerType id the id·10⁶ keeper encoding wrapped at
    id ≥ 2148, mis-attributing keepers; the long-widened encoding must
    credit the globally first occurrence."""
    lines = spark.createDataFrame(
        [(5000, 1, "shared boilerplate line"),
         (5000, 2, "unique to five thousand"),
         (6000, 1, "shared boilerplate line"),
         (2_000_000_000, 1, "shared boilerplate line")],
        "doc_id int, line_no int, line string")
    got = {r["doc_id"]: r for r in repetition.line_dedup_stats(lines).collect()}
    assert got[5000]["kept_lines"] == 2          # first occurrence kept
    assert got[6000]["kept_lines"] == 0          # later duplicate removed
    assert got[2_000_000_000]["kept_lines"] == 0
    assert got[6000]["removed_lines"] == 1
    assert got[5000]["removed_tokens"] == 0


def test_ann_recall_counts_a_duplicated_variant_pair_once(spark):
    """A variant that returns one (query, neighbor) pair twice hits one true
    pair once: the duplicate used to double both the hit and the truth row
    it joined, reading 2 of 3 for a recall of 1 of 2."""
    from anomaly_detection_spark.functions.similarity import ann_recall

    truth = spark.createDataFrame([(1, 2), (1, 3)], ["query_id", "neighbor_id"])
    variant = spark.createDataFrame([(1, 2), (1, 2)],
                                    ["query_id", "neighbor_id"])
    got = ann_recall(truth, variant, "dup").collect()[0].asDict()
    assert got == {"variant": "dup", "n_queries": 1, "n_truth": 2,
                   "n_hits": 1, "recall_ppm": 500_000}
