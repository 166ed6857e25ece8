"""ordinal_contiguity rule, rule co-occurrence, content fingerprints,
sampled validation rates, and the exact-power-sum moments — each exercised
on planted frames with hand-computed truth (SURVEY.md §5: the oracle is a
tiny, obviously-correct reimplementation on the same data).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.engine import (
    rule_cooccurrence,
    sampled_violation_rates,
)
from anomaly_detection_spark.profiler import content_fingerprint
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RowRule, RuleContext


# ------------------------------------------------------ ordinal_contiguity

@pytest.fixture(scope="module")
def ord_frame(spark):
    # key: (ordinals) — planted cases
    #   k_ok    (1,2,3)        dense → pass
    #   k_gap   (1,2,4)        missing 3 → fail (max ≠ distinct)
    #   k_dup   (1,2,2,3)      duplicate 2 → fail (rows ≠ distinct)
    #   k_start (2,3)          doesn't start at 1 → fail (min ≠ 1)
    #   k_trap  (1,2,2,4)      dup AND gap that cancel in count-vs-max
    #                          (count=4=max) → must STILL fail
    #   k_null  (1,NULL,2)     NULL ordinal skipped → pass
    rows = (
        [("p0", "k_ok", i) for i in (1, 2, 3)]
        + [("p0", "k_gap", i) for i in (1, 2, 4)]
        + [("p1", "k_dup", i) for i in (1, 2, 2, 3)]
        + [("p1", "k_start", i) for i in (2, 3)]
        + [("p0", "k_trap", i) for i in (1, 2, 2, 4)]
        + [("p1", "k_null", 1), ("p1", "k_null", None), ("p1", "k_null", 2)]
    )
    return spark.createDataFrame(
        rows, "partition string, grp string, ord int")


def test_ordinal_contiguity_planted(ord_frame):
    rule = builtin.ordinal_contiguity("grp", "ord")
    out = rule.build(ord_frame, RuleContext()).collect()
    bad = {r["doc_id"] for r in out}
    assert bad == {"k_gap", "k_dup", "k_start", "k_trap"}
    by_key = {r["doc_id"]: r["detail"] for r in out}
    assert by_key["k_gap"] == (
        "ord not dense from 1: min=1 max=4 distinct=3 rows=3")
    assert by_key["k_dup"] == (
        "ord not dense from 1: min=1 max=3 distinct=3 rows=4")
    assert by_key["k_start"] == (
        "ord not dense from 1: min=2 max=3 distinct=2 rows=2")
    # the count-vs-max cancellation trap: 4 rows, max 4 — only the
    # distinct-ordinal comparison catches it
    assert by_key["k_trap"] == (
        "ord not dense from 1: min=1 max=4 distinct=3 rows=4")
    rids = {r["rule_id"] for r in out}
    assert rids == {"ordinal_contiguity:grp/ord"}


def test_ordinal_contiguity_start_offset(spark):
    # 0-based ordinals validate with start=0 and fail with the default
    frame = spark.createDataFrame(
        [("p", "k", 0), ("p", "k", 1), ("p", "k", 2)],
        "partition string, grp string, ord int")
    assert builtin.ordinal_contiguity("grp", "ord", start=0).build(
        frame, RuleContext()).count() == 0
    assert builtin.ordinal_contiguity("grp", "ord").build(
        frame, RuleContext()).count() == 1


def test_ordinal_contiguity_config_vocab(spark):
    from anomaly_detection_spark.rules.config import suite_from_config

    suite = suite_from_config(
        '[{"rule": "ordinal_contiguity", "group_col": "grp",'
        ' "ord_col": "ord", "start": 0}]')
    assert len(suite.dataset_rules) == 1
    frame = spark.createDataFrame(
        [("p", "k", 0), ("p", "k", 2)], "partition string, grp string, ord int")
    assert suite.dataset_rules[0].build(frame, RuleContext()).count() == 1


# ------------------------------------------------------- rule_cooccurrence

def test_rule_cooccurrence_exact(spark):
    # rule A violates docs {1,2,3}, rule B {2,3,4}, rule C {9} (disjoint).
    # duplicate violation rows for the same (rule, doc) must not inflate
    # the distinct counts.
    rows = (
        [("p", "A", str(d), "") for d in (1, 2, 3)]
        + [("p", "A", "2", "dup-row")]
        + [("p", "B", str(d), "") for d in (2, 3, 4)]
        + [("p", "C", "9", "")]
    )
    v = spark.createDataFrame(
        rows, "partition string, rule_id string, doc_id string, detail string")
    out = {(r["rule_a"], r["rule_b"]): r for r in rule_cooccurrence(v).collect()}
    assert set(out) == {("A", "B")}  # disjoint pairs don't appear
    r = out[("A", "B")]
    assert (r["n_a"], r["n_b"], r["n_both"]) == (3, 3, 2)
    assert r["jaccard_ppm"] == (2 * 1_000_000) // 4


# -------------------------------------------------------- violation_slices

def test_violation_slices_planted_lift(spark):
    """100 docs: lang is 'zh' for doc 0..19, 'en' otherwise; the rule
    violates exactly docs 0..9 (all zh) → the zh slice concentrates ALL
    violations. Hand-computed integer lift: rate(zh)=10/20=500000 ppm,
    overall=10/100=100000 ppm, lift = 500000*1000 // 100000 = 5000."""
    from anomaly_detection_spark.engine import violation_slices

    docs = spark.createDataFrame(
        [(str(i), "zh" if i < 20 else "en", "s%d" % (i % 2))
         for i in range(100)],
        "doc_id string, lang string, src string")
    v = spark.createDataFrame(
        [("p", "r1", str(i), "") for i in range(10)]
        + [("p", "r1", "3", "dup-row")],  # dup (rule, doc) must not inflate
        "partition string, rule_id string, doc_id string, detail string")
    out = {(r["dim"], r["value"]): r
           for r in violation_slices(docs, v, ["lang", "src"],
                                     min_support=5).collect()}
    zh = out[("lang", "zh")]
    assert (zh["slice_n"], zh["slice_viol"]) == (20, 10)
    assert zh["rate_ppm"] == 500_000
    assert zh["overall_ppm"] == 100_000
    assert zh["lift_x1000"] == 5000
    assert ("lang", "en") not in out  # zero violations → no row
    # src is uncorrelated: docs 0..9 are 5 even + 5 odd
    assert out[("src", "s0")]["lift_x1000"] == 1000
    assert out[("src", "s1")]["lift_x1000"] == 1000


def test_violation_slices_min_support_and_null_dim(spark):
    from anomaly_detection_spark.engine import violation_slices

    docs = spark.createDataFrame(
        [(str(i), None if i < 30 else "en") for i in range(100)],
        "doc_id string, lang string")
    v = spark.createDataFrame(
        [("p", "r", str(i), "") for i in range(25)],
        "partition string, rule_id string, doc_id string, detail string")
    out = violation_slices(docs, v, ["lang"], min_support=5).collect()
    # NULL lang is its own slice — missingness as root cause
    null_row = [r for r in out if r["value"] is None]
    assert len(null_row) == 1 and null_row[0]["slice_viol"] == 25
    # min_support above every slice size suppresses all rows
    assert violation_slices(docs, v, ["lang"], min_support=200).count() == 0


# ----------------------------------------------------- content_fingerprint

def test_content_fingerprint_rename_and_order_invariance(spark):
    a = spark.createDataFrame(
        [(x, str(x * 7)) for x in range(50)], "num int, txt string")
    # same value sets, renamed columns, reversed row order
    b = spark.createDataFrame(
        [(str(x * 7), x) for x in reversed(range(50))],
        "words string, quantity int")
    fa = {r["column"]: r for r in content_fingerprint(
        a, ["num", "txt"], k=8).collect()}
    fb = {r["column"]: r for r in content_fingerprint(
        b, ["quantity", "words"], k=8).collect()}
    assert fa["num"]["sketch"] == fb["quantity"]["sketch"]
    assert fa["txt"]["sketch"] == fb["words"]["sketch"]
    assert fa["num"]["sketch"] != fa["txt"]["sketch"]
    assert fa["num"]["n_kept"] == 8  # capped at k
    # a value change anywhere in the k smallest hashes changes the sketch
    c = a.withColumn("num", F.col("num") + 1000)
    fc = {r["column"]: r for r in content_fingerprint(
        c, ["num", "txt"], k=8).collect()}
    assert fc["num"]["sketch"] != fa["num"]["sketch"]


def test_content_fingerprint_small_column_keeps_all(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (None,)], "v int")
    row = content_fingerprint(a, ["v"], k=16).collect()[0]
    assert row["n_kept"] == 2  # distinct non-null values only


# ------------------------------------------------- sampled_violation_rates

def test_sampled_violation_rates_matches_manual(spark):
    import hashlib

    rows = [("p%d" % (i % 2), i, i * 3 % 100) for i in range(400)]
    df = spark.createDataFrame(rows, "partition string, doc_id long, val int")
    rules = [RowRule("low", F.col("val") < 10, F.lit("")),
             RowRule("high", F.col("val") >= 90, F.lit(""))]
    out = {(r["partition"], r["rule_id"]): r
           for r in sampled_violation_rates(df, rules, sample_pct=20).collect()}

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    sample = [(p, d, v) for p, d, v in rows if bucket(d) < 20]
    for part in ("p0", "p1"):
        n = sum(1 for p, _, _ in sample if p == part)
        lo = sum(1 for p, _, v in sample if p == part and v < 10)
        hi = sum(1 for p, _, v in sample if p == part and v >= 90)
        assert out[(part, "low")]["sample_n"] == n
        assert out[(part, "low")]["n_viol"] == lo
        assert out[(part, "low")]["est_ppm"] == lo * 1_000_000 // n
        assert out[(part, "high")]["n_viol"] == hi


def test_sampled_rates_with_bound_columns(spark):
    # a rule whose predicate references a bound expression still fuses
    df = spark.createDataFrame(
        [("p", 1, "ab"), ("p", 2, "abcdef")],
        "partition string, doc_id long, text string")
    rule = RowRule("too_short", F.col("_len") < 4, F.lit(""),
                   bind={"_len": F.length("text")})
    out = sampled_violation_rates(df, [rule], sample_pct=100).collect()
    assert out[0]["n_viol"] == 1 and out[0]["sample_n"] == 2



def test_preflight_rejects_a_bind_that_shadows_an_input_column(spark, docs):
    """Preflight projects binds through the fused pass's code: an input
    column carrying a bind's name is an error there too, not a column the
    rule silently reads instead of its own expression."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    shadowed = docs.withColumn("_span_offs", F.array(F.lit(1)))
    rules = [builtin.span_sequence_valid_row()]
    run = ValidationRun(spark, shadowed, RuleSet(row_rules=rules))
    with pytest.raises(ValueError, match="collide with input columns") as fused:
        run.fused_row_violations(shadowed)
    with pytest.raises(ValueError) as pre:
        sampled_violation_rates(shadowed, rules)
    assert str(pre.value) == str(fused.value)

# -------------------------------------------------------- benford_deviation

def test_benford_deviation_planted(spark):
    """Three partitions: 'flat' (every first digit 5 → L1 ≈ 1.84M ppm)
    must flag; 'close' (digit mix within ~26k ppm of Benford) must pass a
    100k threshold; 'tiny' (flat but under min_rows) must be skipped."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    close_mix = [30, 18, 12, 10, 8, 7, 6, 5, 4]  # per 100 rows, digits 1..9
    rows = (
        [("flat", 500.0 + i) for i in range(100)]
        + [("close", float(d * 10 + 1))
           for d, c in enumerate(close_mix, start=1) for _ in range(c)]
        + [("tiny", 500.0)] * 20
        + [("flat", 0.5)]  # sub-1 values are excluded from digit stats
    )
    docs = spark.createDataFrame(rows, "partition string, v double")
    rule = builtin.benford_deviation("v", max_l1_ppm=100_000, min_rows=50)
    out = rule.build(docs, RuleContext()).collect()
    assert [r["partition"] for r in out] == ["flat"]
    # all 100 qualifying rows are digit 5: L1 = (1e6-79181) + (1e6-79181)
    assert "1841638 ppm over 100 rows" in out[0]["detail"]
    assert out[0]["doc_id"] is None

    # config vocabulary
    from anomaly_detection_spark.rules.config import suite_from_config
    suite = suite_from_config(
        '[{"rule": "benford_deviation", "col": "v",'
        ' "max_l1_ppm": 100000, "min_rows": 50}]')
    assert suite.dataset_rules[0].build(docs, RuleContext()).count() == 1


# ---------------------------------------------------------- CLI integration

def test_cli_preflight_only_and_meta_reports(spark, docs, catalog, tmp_path):
    """The run_validation front door for the meta-analytics pass:
    --preflight-only triages without paying for the full suite (no verdicts
    sink is written); a full run with --cooccurrence-report and
    --fingerprint-cols/--fingerprint-prev writes the co-occurrence grid and
    classifies a renamed column as 'renamed' (and an unchanged one as
    'stable')."""
    import os

    import run_validation

    docs.write.parquet(str(tmp_path / "docs"))
    catalog.write.parquet(str(tmp_path / "catalog"))
    out1 = str(tmp_path / "out1")
    common = ["--catalog", str(tmp_path / "catalog")]

    # triage pass: preflight sink only, full suite never runs
    rc = run_validation.main(
        ["--input", str(tmp_path / "docs"), "--output", out1,
         "--preflight", "20", "--preflight-only"] + common)
    assert rc == 0
    pre = spark.read.parquet(f"{out1}/preflight")
    assert {"partition", "rule_id", "sample_n", "n_viol", "est_ppm"} \
        <= set(pre.columns)
    assert pre.count() > 0
    assert not os.path.exists(f"{out1}/verdicts")

    # full run: fingerprints + co-occurrence + slice lifts
    out2 = str(tmp_path / "out2")
    rc = run_validation.main(
        ["--input", str(tmp_path / "docs"), "--output", out2,
         "--cooccurrence-report", "--fingerprint-cols", "doc_id,partition",
         "--slice-dims", "partition"]
        + common)
    assert rc == 0
    co = spark.read.parquet(f"{out2}/rule_cooccurrence")
    assert {"rule_a", "rule_b", "n_both", "jaccard_ppm"} <= set(co.columns)
    sl = spark.read.parquet(f"{out2}/violation_slices")
    assert {"rule_id", "dim", "value", "lift_x1000"} <= set(sl.columns)
    assert sl.count() > 0 and sl.filter("dim <> 'partition'").count() == 0
    fp1 = spark.read.parquet(f"{out2}/column_fingerprints")
    assert fp1.count() == 2

    # second snapshot with partition RENAMED to shard: sketch-join flags it
    docs.withColumnRenamed("partition", "shard").withColumn(
        "partition", F.col("shard")).write.parquet(str(tmp_path / "docs2"))
    out3 = str(tmp_path / "out3")
    rc = run_validation.main(
        ["--input", str(tmp_path / "docs2"), "--output", out3,
         "--fingerprint-cols", "doc_id,shard",
         "--fingerprint-prev", f"{out2}/column_fingerprints"] + common)
    assert rc == 0
    renames = {r["status"]: (r["prev_col"], r["cur_col"])
               for r in spark.read.parquet(
                   f"{out3}/column_renames").collect()}
    assert renames["renamed"] == ("partition", "shard")
    assert renames["stable"] == ("doc_id", "doc_id")


def test_cli_meta_flag_validation():
    import run_validation

    with pytest.raises(SystemExit):
        run_validation.parse_args(
            ["--input", "x", "--catalog", "y", "--output", "z",
             "--preflight-only"])
    with pytest.raises(SystemExit):
        run_validation.parse_args(
            ["--input", "x", "--catalog", "y", "--output", "z",
             "--preflight", "0"])
    with pytest.raises(SystemExit):
        run_validation.parse_args(
            ["--input", "x", "--catalog", "y", "--output", "z",
             "--fingerprint-prev", "p"])


# ------------------------------------------------------------ moments math

def test_moments_closed_form_matches_numpy(spark):
    import numpy as np

    from anomaly_detection_spark.queries import q_moments_profile

    # recompute skew/kurt for one priority class straight from the data
    vals = np.array([101.01, 250.50, 99.99, 3100.0, 500.25, 777.77])
    pdf = spark.createDataFrame(
        [(float(v), "1-URGENT") for v in vals],
        "o_totalprice double, o_orderpriority string")
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        pdf.write.parquet(f"{td}/orders.parquet")
        row = q_moments_profile(spark, td).collect()[0]
    cents = np.round(vals * 100).astype(np.int64)
    m1 = cents.mean()
    m2 = ((cents - m1) ** 2).mean()
    m3 = ((cents - m1) ** 3).mean()
    m4 = ((cents - m1) ** 4).mean()
    assert row["n"] == len(vals)
    assert math.isclose(row["mean_price"], cents.mean() / 100, rel_tol=1e-9)
    assert math.isclose(row["skewness"], m3 / m2 ** 1.5, rel_tol=1e-6)
    assert math.isclose(
        row["kurtosis_excess"], m4 / m2 ** 2 - 3.0, rel_tol=1e-6)


def test_dq_scores_hand_computed(spark):
    from anomaly_detection_spark.engine import dq_scores

    panel = spark.createDataFrame(
        [("p1", "r_a", 100_000), ("p1", "r_b", 0),
         ("p2", "r_a", 400_000), ("p2", "r_b", 600_000),  # r_b over cap
         ("p3", "r_a", 0), ("p3", "r_b", 0)],
        "partition string, rule_id string, est_ppm long")
    spec = {"r_a": (3, 200_000), "r_b": (1, 500_000)}
    got = {r["partition"]: r.asDict()
           for r in dq_scores(panel, spec).collect()}
    # p1: t = 3*100k*1e6//200k = 1_500_000 ; score = (4e6-1.5e6)*1e4//4e6
    assert got["p1"]["dq_centi"] == (4_000_000 - 1_500_000) * 10_000 // 4_000_000
    assert got["p1"]["worst_rule"] == "r_a"
    # p2: r_a capped? 400k > 200k cap -> full 3e6; r_b capped -> 1e6; t=4e6
    assert got["p2"]["dq_centi"] == 0
    assert got["p2"]["worst_rule"] == "r_a"
    # p3: clean partition scores 100.00
    assert got["p3"]["dq_centi"] == 10_000
