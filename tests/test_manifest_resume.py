"""Resumability: completed (partition, rule_id) pairs are never re-evaluated;
a partially-committed run completes exactly the remaining work (SURVEY.md §5
test plan item 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.engine import ValidationRun
from anomaly_detection_spark.manifest import RuleProgressManifest
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleSet


@pytest.fixture()
def manifest(spark, tmp_path):
    return RuleProgressManifest(spark, str(tmp_path / "manifest"))


def _rules():
    return RuleSet(row_rules=[builtin.not_null("doc_id"), builtin.non_empty_array("spans")])


def test_full_run_then_noop(spark, docs, manifest):
    r1 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s1").run()
    n1 = r1.verdicts.count()
    assert n1 == 8 * 2  # 8 partitions x 2 rules
    r2 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s1").run()
    assert r2.verdicts.count() == 0
    # a new snapshot is fresh work
    r3 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s2").run()
    assert r3.verdicts.count() == n1


def test_partial_commit_resume(spark, docs, manifest):
    """Simulate a crash after only 3 partitions' worth of work committed:
    pre-commit a fabricated manifest slice, then resume and check the run
    evaluates exactly the complement."""
    full = ValidationRun(spark, docs, _rules(), snapshot_id="s1").run(resume=False)
    done = full.metrics.filter(F.col("partition").isin("p0", "p1", "p2"))
    manifest.commit(done)

    resumed = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s1").run()
    got_pairs = {
        (r["partition"], r["rule_id"]) for r in resumed.verdicts.collect()
    }
    expected_pairs = {
        (f"p{i}", rid)
        for i in range(3, 8)
        for rid in ("not_null:doc_id", "non_empty:spans")
    }
    assert got_pairs == expected_pairs
    # resumed verdicts agree with the full run on the resumed slice
    full_map = {
        (r["partition"], r["rule_id"]): (r["pass"], r["violation_count"])
        for r in full.verdicts.collect()
    }
    for r in resumed.verdicts.collect():
        assert full_map[(r["partition"], r["rule_id"])] == (r["pass"], r["violation_count"])


def test_manifest_read_propagates_errors_other_than_absent_path(spark):
    """Only a manifest that was never committed reads as empty; any other
    read error must surface, or a resume silently re-evaluates everything."""
    with pytest.raises(Exception, match="nosuchfs"):
        RuleProgressManifest(spark, "nosuchfs://b/m").read().count()


def test_duration_ms_times_the_grid_action(spark, docs):
    """duration_ms is the execution time of the grid action, so a dataset
    rule that sleeps while it runs shows up in it in full."""
    import time

    from anomaly_detection_spark.rules.core import DatasetRule

    sleep_s = 1.5

    @F.udf("string")
    def slow(n):
        time.sleep(sleep_s)
        return None

    def build(d, ctx):
        return d.groupBy().count().select(
            F.lit(None).cast("string").alias("partition"),
            F.lit("slow").alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            slow("count").alias("detail"),
        ).filter("detail IS NOT NULL")

    suite = RuleSet(row_rules=[builtin.not_null("doc_id")],
                    dataset_rules=[DatasetRule("slow", build)])
    res = ValidationRun(spark, docs, suite).run(resume=False)
    rows = res.metrics.collect()
    assert {r["rule_id"] for r in rows} == {"not_null:doc_id", "slow"}
    assert min(r["duration_ms"] for r in rows) >= sleep_s * 1000
    res.verdicts.unpersist()
    res.violations.unpersist()


@pytest.fixture()
def main_args(docs, catalog, tmp_path):
    docs.write.parquet(str(tmp_path / "docs"))
    catalog.write.parquet(str(tmp_path / "catalog"))
    return ["--input", str(tmp_path / "docs"),
            "--catalog", str(tmp_path / "catalog"),
            "--output", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "manifest"),
            "--snapshot-id", "s1"]


def test_metrics_sink_and_manifest_share_committed_at(spark, main_args,
                                                      tmp_path):
    """One run stamps one committed_at: the metrics sink and the manifest
    commit carry the same instant, not one evaluated per write."""
    import run_validation

    assert run_validation.main(main_args) == 0

    def stamps(df):
        return {r[0] for r in df.select("committed_at").distinct().collect()}

    sink = stamps(spark.read.parquet(str(tmp_path / "out" / "metrics")))
    committed = stamps(
        RuleProgressManifest(spark, str(tmp_path / "manifest")).read())
    assert len(sink) == 1
    assert sink == committed


def test_main_releases_its_caches(spark, main_args):
    """main unpersists the violations and the verdict grid it cached: no
    RDD it persisted is still registered when it returns. (Compared by id,
    not by count: the registry holds RDDs weakly, so other tests' leftovers
    may be collected while main runs.)"""
    import run_validation

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    assert run_validation.main(main_args) == 0
    assert persisted() - before == set()
