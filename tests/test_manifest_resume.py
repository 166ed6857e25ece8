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
    # --diff-prev is checkpointed before the verdicts sink is overwritten,
    # and released with the grid caches
    out = main_args[main_args.index("--output") + 1]
    assert run_validation.main(
        main_args + ["--diff-prev", f"{out}/verdicts"]) == 0
    assert persisted() - before == set()


def _rows(df, drop=()):
    """The rows of ``df`` as a multiset, without the columns ``drop``."""
    from collections import Counter

    return Counter(tuple(r) for r in df.drop(*drop).collect())


def test_diff_prev_may_name_this_runs_own_verdicts(spark, main_args, tmp_path):
    """A run whose --diff-prev is its own verdicts directory diffs against
    that directory as it was before the run overwrote it."""
    import json

    import run_validation

    assert run_validation.main(main_args) == 0
    first = {(r["partition"], r["rule_id"]): r["pass"] for r in
             spark.read.parquet(str(tmp_path / "out" / "verdicts")).collect()}
    contract = tmp_path / "contract.json"
    contract.write_text(json.dumps([["bogus_col", "int"]]))
    assert run_validation.main(main_args + [
        "--snapshot-id", "s2", "--expect-schema", str(contract),
        "--diff-prev", str(tmp_path / "out" / "verdicts")]) == 0
    diff = {(r["partition"], r["rule_id"]): r["status"] for r in
            spark.read.parquet(str(tmp_path / "out" / "verdict_diff")).collect()}
    # schema_match was not in the first grid and fails everywhere now
    schema = {k: v for k, v in diff.items() if k[1] == "schema_match"}
    assert schema and set(schema.values()) == {"new_failure"}
    # the same input gives every pair of the first grid its old verdict
    assert {k: v for k, v in diff.items() if k[1] != "schema_match"} == {
        k: "still_passing" if ok else "still_failing"
        for k, ok in first.items()}


def test_main_reads_its_own_sinks_back_with_their_schema(spark, main_args,
                                                         tmp_path,
                                                         monkeypatch):
    """Every read-back of a sink this run wrote under --output (the verdicts
    for the diff, the diff for the report, the violations for the CSV
    export, quarantine, co-occurrence and slices) carries the sink's schema,
    so no read starts a schema-inference job."""
    import run_validation
    from pyspark.sql.readwriter import DataFrameReader

    assert run_validation.main(main_args) == 0
    prev = str(tmp_path / "prev")
    spark.read.parquet(str(tmp_path / "out" / "verdicts")).write.parquet(prev)

    reads = []
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def with_schema(self, s):
        self._user_schema = True
        return schema(self, s)

    def recorded(self, *paths, **kw):
        reads.extend((p, getattr(self, "_user_schema", False)) for p in paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", with_schema)
    monkeypatch.setattr(DataFrameReader, "parquet", recorded)
    assert run_validation.main(main_args + [
        "--snapshot-id", "s2", "--diff-prev", prev,
        "--report-json", str(tmp_path / "report.json"),
        "--export-csv", str(tmp_path / "csv"),
        "--quarantine", str(tmp_path / "routed"),
        "--cooccurrence-report", "--slice-dims", "partition",
        "--emit-histograms"]) == 0
    out = str(tmp_path / "out") + "/"
    own = [(p[len(out):], has) for p, has in reads if p.startswith(out)]
    assert sorted(p for p, _ in own) == ["verdict_diff", "verdicts"] + [
        "violations"] * 4
    assert all(has for _, has in own), own


def test_a_failed_branch_lets_the_others_finish_and_commits_nothing(
        spark, main_args, tmp_path, monkeypatch):
    """One output step raises: main re-raises it only after every other
    branch has finished, commits nothing to the manifest, and a --resume
    rerun leaves every sink equal to a clean run's."""
    import threading
    import time

    import run_validation
    from anomaly_detection_spark import history
    from anomaly_detection_spark.engine import VERDICTS_SCHEMA

    prev = str(tmp_path / "prev")
    spark.createDataFrame([("p0", "not_null:doc_id", False, 3, 10)],
                          VERDICTS_SCHEMA).write.parquet(prev)

    def args(name, *extra):
        out = tmp_path / name
        argv = list(main_args)
        argv[argv.index("--output") + 1] = str(out / "out")
        argv[argv.index("--manifest") + 1] = str(out / "manifest")
        return argv + ["--diff-prev", prev, "--emit-histograms",
                       "--export-csv", str(out / "csv"), *extra]

    assert run_validation.main(args("clean")) == 0

    def injected(cur, prev):
        raise RuntimeError("injected verdict_diff failure")

    cluster = run_validation.cluster_violations

    def slow_cluster(df):
        time.sleep(2)  # the violations branch ends well after the failure
        return cluster(df)

    monkeypatch.setattr(history, "verdict_diff", injected)
    monkeypatch.setattr(run_validation, "cluster_violations", slow_cluster)
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected verdict_diff failure"):
        run_validation.main(args("crashed"))
    assert set(threading.enumerate()) - threads == set()
    crashed = tmp_path / "crashed"
    for done in ("out/violations", "out/verdicts", "out/metrics",
                 "out/span_kind_hist/snapshot=s1", "csv"):
        assert (crashed / done / "_SUCCESS").exists(), done
    manifest = RuleProgressManifest(spark, str(crashed / "manifest"))
    assert manifest.read().filter(F.col("snapshot_id") == "s1").count() == 0

    monkeypatch.undo()
    assert run_validation.main(args("crashed", "--resume")) == 0
    clean = tmp_path / "clean"
    for sink in ("violations", "verdicts", "verdict_diff", "span_kind_hist"):
        assert _rows(spark.read.parquet(str(crashed / "out" / sink))) == \
            _rows(spark.read.parquet(str(clean / "out" / sink))), sink
    stamps = ("committed_at", "duration_ms")
    assert _rows(spark.read.parquet(str(crashed / "out" / "metrics")), stamps) \
        == _rows(spark.read.parquet(str(clean / "out" / "metrics")), stamps)
    assert _rows(manifest.read(), stamps) == _rows(RuleProgressManifest(
        spark, str(clean / "manifest")).read(), stamps)
    csv = spark.read.option("header", True).csv
    assert _rows(csv(str(crashed / "csv"))) == _rows(csv(str(clean / "csv")))


def test_a_baseline_histogram_under_output_is_read_before_it_is_rewritten(
        spark, main_args, tmp_path, monkeypatch):
    """--emit-histograms rewrites {output}/span_kind_hist. When --baseline-hist
    reads from there, the histograms are written after the grid action, not
    beside it, so the baseline it reads is still on disk."""
    import time

    import run_validation
    from anomaly_detection_spark.engine import ValidationRun

    assert run_validation.main(main_args + ["--emit-histograms"]) == 0
    run = ValidationRun.run

    def late_run(self, *args, **kwargs):
        time.sleep(3)  # a histogram branch started beside it ends first
        return run(self, *args, **kwargs)

    monkeypatch.setattr(ValidationRun, "run", late_run)
    assert run_validation.main(main_args + [
        "--snapshot-id", "s2", "--emit-histograms",
        "--baseline-hist", str(tmp_path / "out" / "span_kind_hist")]) == 0
    psi = [r["pass"] for r in spark.read.parquet(
        str(tmp_path / "out" / "verdicts")).filter(
        "rule_id = 'drift_psi:span_kind'").collect()]
    assert psi and all(psi)  # the same docs as the baseline: no drift


def test_main_runs_its_spark_jobs_in_the_callers_job_group(spark, main_args,
                                                          tmp_path):
    """Every Spark job of main, the output branches' included, runs in the
    job group of the thread that called it."""
    import run_validation

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "main under a job group")
    try:
        assert run_validation.main(main_args + [
            "--emit-histograms", "--export-csv", str(tmp_path / "csv")]) == 0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("g")
