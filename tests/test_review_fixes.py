"""Regression tests for review findings: string-id connected components,
flat-series forecast branching, overflow-safe trend/mixture arithmetic, and
session reuse."""

from __future__ import annotations

import pyspark.sql.functions as F

from anomaly_detection_spark.functions import curation, graph, risk


def test_connected_components_string_ids(spark):
    """String node ids (the engine's own doc_id shape, 'd42') must work —
    the Σcomponent convergence witness crashed under ANSI mode and silently
    mis-converged under non-ANSI."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]        # one 7-node chain
    iso = [("x1", "x2")]                                     # separate pair
    edges = spark.createDataFrame(chain + iso, ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in graph.connected_components(edges).collect()}
    assert {got[f"n{i}"] for i in range(7)} == {"n0"}
    assert got["x1"] == got["x2"] == "x1"


def test_connected_components_numeric_parity(spark):
    """Same graph, numeric ids — unchanged semantics after the witness fix."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_branched_forecast_flat_x_not_linear(spark):
    """Duplicate-x series (den = 0) must NOT take the linear branch with a
    0/0 slope that NaN-clamps to max risk."""
    daily = spark.createDataFrame(
        [("u1", 5, 40.0), ("u1", 5, 40.0),          # den = 0, k = 2
         ("u2", 1, 10.0), ("u2", 2, 20.0), ("u2", 3, 30.0)],  # real trend
        ["user", "x", "y"])
    got = {r["user"]: r for r in risk.branched_forecast(
        daily, "user", "x", "y", horizon=3, period=7).collect()}
    assert got["u1"]["branch"] != "linear"
    assert got["u1"]["forecast_micros"] == 40_000_000   # last-value carry
    assert got["u2"]["branch"] == "linear"
    assert got["u2"]["forecast_micros"] == 60_000_000   # 10x extrapolated


def test_violation_trends_many_snapshots_no_overflow(spark):
    """num·1e6 overflowed int64 for a strong trend over hundreds of
    snapshots (ANSI: ARITHMETIC_OVERFLOW kills the job)."""
    from anomaly_detection_spark.history import violation_trends

    k = 600
    rows = [("p0", "r", f"s{i:04d}", i, i * 2000, 1_000_000)
            for i in range(k)]  # rate ramps 0 -> 1.2e6 ppm scale
    metrics = spark.createDataFrame(
        rows, ["partition", "rule_id", "snapshot_id", "committed_at",
               "violation_count", "rows_scanned"])
    out = violation_trends(metrics, min_snapshots=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_snapshots"] == k and r["rising"]
    # exact slope: rate_ppm = 2000x -> slope 2000 ppm/snapshot = 2e9 in e6 units
    assert r["slope_ppm_e6"] == 2_000_000_000


def test_domain_mixture_production_magnitudes(spark):
    """den·domain_tokens overflowed int64 at realistic corpus sizes."""
    df = spark.createDataFrame(
        [("web", 10**15), ("web", 10**15), ("code", 4 * 10**14)],
        ["source", "n_tokens"])
    out = {r["source"]: r for r in curation.domain_mixture(
        df, "source", "n_tokens", budget_tokens=10**15).collect()}
    # isq_web = floor(sqrt(2e15)), isq_code = 2e7; weights sane and total ~1e6
    total_ppm = sum(r["weight_ppm"] for r in out.values())
    assert 999_998 <= total_ppm <= 1_000_002
    assert all(r["epochs_micro"] > 0 for r in out.values())
    # web gets more weight than code but less than its 5/6 token share
    assert 500_000 < out["web"]["weight_ppm"] < 834_000


def test_get_spark_keeps_the_conf_of_an_existing_session(spark):
    """get_spark on a session the caller already built (the call main
    makes) hands it back as configured; the engine's defaults apply only to
    a session the call creates."""
    from anomaly_detection_spark.session import get_spark

    want = {"spark.sql.shuffle.partitions": "3",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    before = {k: spark.conf.get(k) for k in want}
    try:
        for k, v in want.items():
            spark.conf.set(k, v)
        got = get_spark(app_name="validate:s1")
        assert {k: got.conf.get(k) for k in want} == want
        assert {k: spark.conf.get(k) for k in want} == want
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


# ----------------------------------------------------- round-4 ADVICE fixes

def test_violation_slices_sub_ppm_overall_rate(spark):
    """overall_ppm floors to 0 when a rule violates fewer than 1-in-1e6
    docs (the normal case at 10^12 scale); lift must clamp the divisor
    instead of throwing DIVIDE_BY_ZERO under ANSI mode."""
    from anomaly_detection_spark.engine import violation_slices

    docs = (
        spark.range(2_000_000)
        .select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
                F.lit("p0").alias("partition"),
                (F.col("id") % 2).cast("string").alias("lang"))
    )
    v = spark.createDataFrame(
        [("p0", "r_rare", "d0", "")],
        ["partition", "rule_id", "doc_id", "detail"])
    out = violation_slices(docs, v, ["lang"], min_support=10).collect()
    assert out, "rare rule must still produce slice rows"
    for r in out:
        assert r["overall_ppm"] == 0
        assert r["lift_x1000"] is not None  # clamped, not thrown


def test_correlation_matrix_constant_column_null_not_error(spark):
    """A zero-variance column makes Pearson undefined: corr_micro must be
    NULL, not an ANSI DIVIDE_BY_ZERO that kills the profiling job."""
    from anomaly_detection_spark.profiler import correlation_matrix

    df = spark.range(100).select(
        F.col("id").alias("x"),
        (F.col("id") * 2).alias("y"))
    out = correlation_matrix(df, {
        "x": F.col("x"), "y": F.col("y"), "k": F.lit(7)})
    got = {(r["col_x"], r["col_y"]): r["corr_micro"] for r in out.collect()}
    assert got[("x", "y")] == 1_000_000          # perfect linear pair
    assert got[("x", "k")] is None               # constant -> undefined
    assert got[("y", "k")] is None


def test_sampled_violation_rates_empty_row_rules(spark):
    """A dataset-rule-only suite has no row predicates: the preflight must
    return an empty panel, not emit malformed stack(0, ) SQL."""
    from anomaly_detection_spark.engine import sampled_violation_rates

    docs = spark.createDataFrame(
        [("d1", "p0")], ["doc_id", "partition"])
    out = sampled_violation_rates(docs, [])
    assert out.columns == [
        "partition", "rule_id", "sample_n", "n_viol", "est_ppm"]
    assert out.count() == 0


def test_mixture_downsample_unknown_domain_kept(spark):
    """A plan computed on an earlier snapshot applied to a corpus that
    gained a new domain must KEEP the new domain in full, not silently
    delete it via inner-join semantics."""
    rows = ([("web", f"w{i}") for i in range(50)]
            + [("new_src", f"n{i}") for i in range(30)])
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    mixture = spark.createDataFrame(
        [("web", 250_000)], ["source", "epochs_micro"])
    kept = curation.mixture_downsample(df, mixture, "source", "doc_id")
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src.get("new_src") == 30          # absent domain kept whole
    assert 0 < by_src.get("web", 0) < 50        # planned domain downsampled
