"""PSI/KS drift detection vs a numpy oracle, on current-vs-baseline snapshots
where only the last partition's span-kind distribution is shifted."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark import drift
from anomaly_detection_spark.datagen import generate_documents

N_PARTS = 4


@pytest.fixture(scope="module")
def snapshots(spark):
    cur = generate_documents(
        spark, n_docs=1500, n_partitions=N_PARTS, plant_defects=False
    ).cache()
    base = generate_documents(
        spark, n_docs=1500, n_partitions=N_PARTS, plant_defects=False,
        drift_last_partition=False,
    ).cache()
    return cur, base


def _kind_probs(df):
    rows = (
        df.select("partition", F.explode("spans").alias("s"))
        .groupBy("partition", F.col("s.kind").alias("kind"))
        .count()
        .collect()
    )
    out: dict[str, dict[str, int]] = {}
    for r in rows:
        out.setdefault(r["partition"], {})[r["kind"]] = r["count"]
    return out


def test_psi_matches_numpy_oracle(snapshots):
    cur, base = snapshots
    got = {r["partition"]: r["psi"] for r in drift.psi(
        drift.span_kind_histogram(cur), drift.span_kind_histogram(base)
    ).collect()}
    cur_h, base_h = _kind_probs(cur), _kind_probs(base)
    for part in cur_h:
        bins = set(cur_h[part]) | set(base_h[part])
        ct, bt = sum(cur_h[part].values()), sum(base_h[part].values())
        exp = 0.0
        for b in bins:
            p = max(cur_h[part].get(b, 0) / ct, drift.EPS)
            q = max(base_h[part].get(b, 0) / bt, drift.EPS)
            exp += (p - q) * math.log(p / q)
        assert got[part] == pytest.approx(exp, rel=1e-9)


def test_drift_flags_only_drifted_partition(snapshots):
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    cur, base = snapshots
    v = builtin.psi_drift(base, threshold=0.1).build(cur, RuleContext())
    psi_parts = {r["partition"] for r in v.filter("rule_id = 'drift_psi:span_kind'").collect()}
    assert psi_parts == {f"p{N_PARTS - 1}"}


_DOCS_DDL = ("doc_id string, partition string, spans array<struct<kind:string,"
             "text:string,media_ref:string,offset:int>>")


def test_a_null_partition_meets_its_own_baseline(spark):
    """A NULL partition is a partition like any other: against an identical
    baseline its PSI and KS are 0, and the drift rules flag nothing."""
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext

    d = spark.createDataFrame([
        ("d1", None, [("text", "a", None, 0)]),
        ("d2", "p0", [("image", None, "m1", 0)]),
    ], _DOCS_DDL)
    hist = drift.span_kind_histogram(d)
    assert {r["partition"]: r["psi"] for r in drift.psi(hist, hist).collect()} \
        == {None: 0.0, "p0": 0.0}
    assert {r["partition"]: r["ks"]
            for r in drift.ks_statistic(hist, hist).collect()} \
        == {None: 0.0, "p0": 0.0}
    assert builtin.psi_drift(d).build(d, RuleContext()).count() == 0


def test_ks_matches_numpy_oracle(snapshots):
    cur, base = snapshots
    got = {r["partition"]: r["ks"] for r in drift.ks_statistic(
        drift.numeric_histogram(cur, F.size("spans")),
        drift.numeric_histogram(base, F.size("spans")),
    ).collect()}
    cur_pd = cur.select("partition", F.size("spans").alias("n")).toPandas()
    base_pd = base.select("partition", F.size("spans").alias("n")).toPandas()
    for part in sorted(cur_pd["partition"].unique()):
        a = cur_pd[cur_pd.partition == part]["n"].to_numpy()
        b = base_pd[base_pd.partition == part]["n"].to_numpy()
        bins = np.union1d(np.unique(a), np.unique(b))
        cdf_a = np.array([(a <= x).mean() for x in bins])
        cdf_b = np.array([(b <= x).mean() for x in bins])
        exp = float(np.max(np.abs(cdf_a - cdf_b)))
        assert got[part] == pytest.approx(exp, rel=1e-9)
    # identical distributions (same generator, same seed arithmetic) for
    # non-drifted partitions ⇒ KS == 0 there is NOT guaranteed (span counts
    # are identical by construction, so it actually is 0)
    assert got["p0"] == pytest.approx(0.0, abs=1e-12)


def test_drift_rules_in_validation_suite(spark, snapshots):
    """psi_drift/ks_drift integrate as suite rules: verdict matrix covers
    every (partition, drift-rule) pair and only the drifted partition fails
    the PSI rule."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet

    cur, base = snapshots
    rules = RuleSet(dataset_rules=[builtin.psi_drift(base), builtin.ks_drift(base)])
    res = ValidationRun(spark, cur, rules).run(resume=False)
    verd = {(r["partition"], r["rule_id"]): r["pass"] for r in res.verdicts.collect()}
    assert len(verd) == N_PARTS * 2
    drifted = f"p{N_PARTS - 1}"
    assert verd[(drifted, "drift_psi:span_kind")] is False
    for p in range(N_PARTS - 1):
        assert verd[(f"p{p}", "drift_psi:span_kind")] is True
    # violation rows are partition-level (doc_id NULL)
    v = res.violations.filter("rule_id = 'drift_psi:span_kind'").collect()
    assert [r["doc_id"] for r in v] == [None]
    assert v[0]["partition"] == drifted


def test_psi_from_stored_hist_matches_rescan(spark, snapshots, tmp_path):
    """The incremental drift loop end-to-end through the CLUSTER entry
    point: run 1 validates the baseline snapshot with --emit-histograms;
    run 2 validates the current snapshot with --baseline-hist pointing at
    run 1's stored histogram — and its PSI verdicts must equal the
    rescan-based psi_drift rule evaluated on the baseline DATA."""
    import run_validation

    cur, base = snapshots
    base.write.parquet(str(tmp_path / "base_docs"))
    cur.write.parquet(str(tmp_path / "cur_docs"))
    # minimal catalog: media_refs present in the fixtures
    from pyspark.sql import functions as F

    cat = (
        base.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter("media_ref IS NOT NULL").distinct()
        .union(
            cur.select(F.explode("spans").alias("s"))
            .select(F.col("s.media_ref").alias("media_ref"))
            .filter("media_ref IS NOT NULL").distinct()
        ).distinct()
    )
    cat.write.parquet(str(tmp_path / "catalog"))

    rc = run_validation.main([
        "--input", str(tmp_path / "base_docs"),
        "--catalog", str(tmp_path / "catalog"),
        "--output", str(tmp_path / "run1"),
        "--emit-histograms",
    ])
    assert rc == 0
    hist_dir = tmp_path / "run1" / "span_kind_hist"
    assert hist_dir.exists()

    rc = run_validation.main([
        "--input", str(tmp_path / "cur_docs"),
        "--catalog", str(tmp_path / "catalog"),
        "--output", str(tmp_path / "run2"),
        "--baseline-hist", str(hist_dir),
    ])
    assert rc == 0
    got = {
        r["partition"]: r["pass"]
        for r in spark.read.parquet(str(tmp_path / "run2" / "verdicts"))
        .filter("rule_id = 'drift_psi:span_kind'").collect()
    }

    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet

    res = ValidationRun(
        spark, cur, RuleSet(dataset_rules=[builtin.psi_drift(base)])
    ).run(resume=False)
    want = {r["partition"]: r["pass"] for r in res.verdicts.collect()}
    assert got == want
    assert False in got.values() and True in got.values()


def test_nothing_pending_still_writes_derived_outputs(spark, snapshots,
                                                      tmp_path, capsys):
    """A fully-committed resumed run must still produce the REQUESTED
    derived outputs (histograms, quarantine, report, CSV export) — they
    derive from the input and the complete sinks, not from the (empty)
    increment; skipping them silently returned rc=0 without the drift
    baseline, routed corpus, report or export."""
    import run_validation

    cur, _ = snapshots
    cur.write.parquet(str(tmp_path / "docs"))
    from pyspark.sql import functions as F

    (cur.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"))
        .filter("media_ref IS NOT NULL").distinct()
        .write.parquet(str(tmp_path / "catalog")))

    common = [
        "--input", str(tmp_path / "docs"),
        "--catalog", str(tmp_path / "catalog"),
        "--output", str(tmp_path / "out"),
        "--manifest", str(tmp_path / "manifest"),
        "--snapshot-id", "s1",
    ]
    assert run_validation.main(common) == 0

    def files():
        """Every file of the sinks and the manifest, with its mtime."""
        import os

        return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for root in ("out/violations", "out/verdicts", "out/metrics",
                             "manifest")
                for d, _, fs in os.walk(tmp_path / root) for f in fs}

    before = files()
    # second run: everything committed -> nothing pending; derived outputs
    # requested only now must still be produced
    capsys.readouterr()
    assert run_validation.main(common + [
        "--resume", "--emit-histograms",
        "--quarantine", str(tmp_path / "routed"),
        "--report-json", str(tmp_path / "report.json"),
        "--export-csv", str(tmp_path / "csv"),
    ]) == 0
    line = [ln for ln in capsys.readouterr().out.splitlines()
            if "VALIDATION_DONE" in ln][0]
    assert int(line.rsplit("=", 1)[1]) == 0
    assert files() == before  # the sinks and the manifest are untouched
    import json

    with open(tmp_path / "report.json") as fh:
        report = json.load(fh)
    assert report["snapshot_id"] == "s1" and report["failing_pairs"] == 0
    assert (tmp_path / "csv" / "_SUCCESS").exists()
    hist = spark.read.parquet(str(tmp_path / "out" / "span_kind_hist"))
    assert hist.count() > 0
    routed = spark.read.parquet(str(tmp_path / "routed"))
    assert routed.count() == cur.count()
    assert {r["route"] for r in routed.select("route").distinct().collect()} \
        <= {"clean", "quarantined"}


def test_quantile_shift_flags_planted_median_move(spark):
    """Two groups, 1..100 in both windows — except group 'b' whose current
    window is scaled ×2: exact medians 50.5 vs 101.0, a 100% shift, so only
    'b' flags; 'a' (identical windows) shows zero shift in every column."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark import drift

    rows = [(g, False, float(i)) for g in ("a", "b") for i in range(1, 101)]
    rows += [("a", True, float(i)) for i in range(1, 101)]
    rows += [("b", True, 2.0 * i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, is_cur boolean, v double")
    out = {
        r["g"]: r
        for r in drift.quantile_shift(df, "g", "v", F.col("is_cur")).collect()
    }
    assert out["a"]["p50_shift_micros"] == 0
    assert out["a"]["p95_shift_micros"] == 0
    assert out["a"]["drifted"] is False
    assert out["b"]["p50_base_micros"] == 50_500_000
    assert out["b"]["p50_cur_micros"] == 101_000_000
    assert out["b"]["drifted"] is True


def test_quantile_drift_rule_flags_span_count_shift(spark):
    """Suite-rule form: baseline has 2 spans/doc everywhere; the current
    snapshot triples p1's span counts — only p1 emits a partition-level
    violation, with the exact micro-unit shifts in the detail."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet

    schema = ("partition string, doc_id string, spans array<struct<"
              "kind:string,text:string,media_ref:string,offset:int>>")

    def docs_of(n_by_part):
        rows = [
            (part, f"{part}-{i}",
             [("text", "t", None, j) for j in range(n)])
            for part, n in n_by_part.items()
            for i in range(50)
        ]
        return spark.createDataFrame(rows, schema)

    base = docs_of({"p0": 2, "p1": 2})
    cur = docs_of({"p0": 2, "p1": 6})
    rules = RuleSet(dataset_rules=[builtin.quantile_drift(base)])
    res = ValidationRun(spark, cur, rules).run(resume=False)
    v = res.violations.collect()
    assert [(r["partition"], r["doc_id"]) for r in v] == [("p1", None)]
    assert "p50_shift_micros=4000000" in v[0]["detail"]
    verd = {(r["partition"], r["rule_id"]): r["pass"] for r in res.verdicts.collect()}
    assert verd[("p1", "drift_quantile:spans_per_doc")] is False
    assert verd[("p0", "drift_quantile:spans_per_doc")] is True


def test_merge_histograms_equals_recompute(spark):
    """Histogramming two commits separately and merging must equal
    histogramming the union — incl. a bin present in only one commit."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.drift import (
        categorical_histogram,
        merge_histograms,
    )

    rows = [("p0", "a", 0), ("p0", "a", 1), ("p0", "b", 2), ("p1", "c", 3)]
    df = spark.createDataFrame(rows, "partition string, v string, i int")
    a = df.filter("i % 2 = 0").drop("i")
    b = df.filter("i % 2 = 1").drop("i")
    df = df.drop("i")
    merged = merge_histograms(
        categorical_histogram(a, F.col("v")),
        categorical_histogram(b, F.col("v")),
    )
    direct = categorical_histogram(df, F.col("v"))
    as_set = lambda fr: {(r["partition"], r["bin"], r["count"])
                         for r in fr.collect()}
    assert as_set(merged) == as_set(direct)
